package graft

import java.nio.file.Files

class ProfileSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  test("Profile.run records a cold and a warm pass and writes the cold plan") {
    val plan = Profile.PlanDir.resolve("q01_scan_agg.txt")
    Files.deleteIfExists(plan)
    val passes = Profile.run(spark, dir, Seq("q01_scan_agg"))
    assert(passes.map(_.pass) === Seq("cold", "warm"))
    passes.foreach { p =>
      assert(p.query === "q01_scan_agg")
      assert(p.jobs >= 1 && p.stages >= 1 && p.tasks >= 1, p)
      assert(p.wallS > 0.0 && p.execS >= 0.0 && p.gcS >= 0.0 && p.shuffleMb >= 0.0, p)
    }
    assert(Files.readString(plan).contains("== Physical Plan =="))
  }

  test("an unknown query name yields no record and does not throw") {
    assert(Profile.run(spark, dir, Seq("no_such_query")).isEmpty)
  }
}
