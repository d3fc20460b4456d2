package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Round-10 additions: the sharded dedup index's partition pruning
  * (the mechanism that bounds a probe's read cost) and the Zipfian
  * generator of the DSIR wrap regime. */
class Round10OpsSpec extends SparkTestBase {

  test("sharded index reads are partition-pruned on the shard column") {
    TextOps.ensureRegistered(spark)
    val idx = java.nio.file.Files.createTempDirectory("shard_prune").toString
    DedupShard.buildIndex(spark, DedupScale.corpus(spark, 300L), idx, nShards = 8)
    val pruned = spark.read.parquet(s"$idx/post")
      .filter(col("shard").isin(1L, 4L))
    val plan = pruned.queryExecution.executedPlan.toString
    // the filter must reach the scan as a PARTITION filter (directory
    // pruning), not a post-scan data filter
    assert(plan.contains("PartitionFilters"), plan)
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(plan).isDefined, plan)
    // one file per shard (the repartition-before-partitionBy contract:
    // without it every write task opens a file per shard dir)
    val files = new java.io.File(s"$idx/post").listFiles
      .filter(_.getName.startsWith("shard="))
    assert(files.nonEmpty)
    files.foreach { d =>
      assert(d.listFiles.count(_.getName.endsWith(".parquet")) === 1,
        s"${d.getName} has more than one file")
    }
  }

  test("split-leakage matrix covers every near-dup pair exactly once, labels canonical") {
    TextOps.ensureRegistered(spark)
    val dir = "/root/testdata/sf0.001"
    val m = Pipeline.splitLeakage(spark, dir).collect()
    val totalPairs = Dedup.ngramJaccard(spark, dir).count()
    assert(m.map(_.getAs[Long]("n_pairs")).sum === totalPairs)
    val rank = Map("train" -> 0, "val" -> 1, "test" -> 2)
    m.foreach { r =>
      val (a, b) = (r.getAs[String]("split_a"), r.getAs[String]("split_b"))
      assert(rank.contains(a) && rank.contains(b), s"$a/$b")
      assert(rank(a) <= rank(b), s"matrix cell not canonical: ($a, $b)")
    }
  }

  test("Zipfian corpus: ranks in range, rank-1 token carries a hot share") {
    val c = ZipfScale.corpus(spark, 5000L)
    val toks = c.select(explode(split(col("text"), " ")).as("tok"))
      .select(expr("CAST(substring(tok, 2) AS BIGINT)").as("rank"))
      .persist()
    val total = toks.count()
    val bad = toks.filter(col("rank") < 1 || col("rank") >= ZipfScale.Vocab).count()
    assert(bad === 0L, s"$bad ranks outside [1, ${ZipfScale.Vocab})")
    // log-uniform inverse CDF: P(rank = 1) = ln 2 / ln V ≈ 5.0% at
    // V = 10⁶ — the hot mass that makes one DSIR bucket wrap-prone
    val hot = toks.filter(col("rank") === 1L).count()
    val share = hot.toDouble / total
    assert(share > 0.03 && share < 0.08, s"rank-1 share $share")
    toks.unpersist()
    ()
  }
}
