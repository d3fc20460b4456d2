package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** HyperBall: sketch-vs-exact error, ranking determinism, and the
  * merge-monotonicity that makes the rounds partial-aggregable. */
class HyperBallSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  private lazy val rows = HyperBall.hyperball(spark, dir).collect()

  test("reports exactly TopN rows with positive exact balls") {
    assert(rows.length === HyperBall.TopN)
    rows.foreach(r => assert(r.getAs[Long]("exact_ball") >= 1L))
  }

  test("sketch estimate tracks the exact 3-hop ball within m=64 bounds") {
    rows.foreach { r =>
      val est = r.getAs[Double]("est")
      val exact = r.getAs[Long]("exact_ball").toDouble
      // sigma = 1.04/sqrt(64) ~ 13%; 3 sigma both ways plus small-range slack
      assert(est / exact > 0.55 && est / exact < 1.8,
        s"node=${r.getAs[Long]("node")} est=$est exact=$exact")
    }
  }

  test("ranking is the integer z order: est strictly decreases as z grows") {
    val byZ = rows.sortBy(r => (r.getAs[Long]("z"), r.getAs[Long]("node")))
    byZ.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("z") <= b.getAs[Long]("z"))
      assert(a.getAs[Double]("est") >= b.getAs[Double]("est"))
    }
    // winners are genuinely filled sketches, not near-empty registers
    byZ.foreach(r =>
      assert(r.getAs[Long]("z") <
        (HyperBall.Buckets.toLong << HyperBall.Scale) / 2))
  }

  test("neighborhood function: balls grow monotonically to frac 1.0") {
    val nbh = HyperBall.neighborhood(spark, dir)
      .orderBy("t").collect()
    assert(nbh.length === HyperBall.Iters + 1)
    val sums = nbh.map(_.getAs[Long]("sum_est"))
    assert(sums.zip(sums.tail).forall { case (a, b) => a <= b },
      s"N(t) must be non-decreasing: ${sums.mkString(",")}")
    assert(nbh.map(_.getAs[Long]("n_nodes")).distinct.length === 1,
      "every round covers every node")
    assert(math.abs(nbh.last.getAs[Double]("frac_of_final") - 1.0) < 1e-12)
  }

  test("each phase runs under its own job description; the caller's is restored") {
    val sc = spark.sparkContext
    val (jobs, _) = traced({
      // bypass the memo so the phases run again
      graft.SessionMemo.coldMode = true
      try HyperBall.hyperball(spark, dir)
      finally {
        graft.SessionMemo.coldMode = false
        graft.SessionMemo.drainColdOrphans()
      }
      assert(sc.getLocalProperty("spark.job.description") === "caller")
    }, "caller")
    assert(jobs.filter(_.startsWith("hyperball ")).distinct === Seq("hyperball pyramid+topk",
      "hyperball probe+out", "hyperball harmonic", "hyperball neighborhood"), jobs)
  }

  test("memoized: second call returns the identical cached plan") {
    val again = HyperBall.hyperball(spark, dir)
    assert(again.collect().toSet === rows.toSet)
  }
}
