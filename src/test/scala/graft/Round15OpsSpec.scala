package graft

import org.apache.spark.sql.functions._

/** Round-15 gates: (1) the packed HyperBall register layout
  * (pack → bit_or-merge → popcount decode) must be value-identical to
  * the wide per-bucket max-merge it replaced — the optimization cuts
  * exchange bytes, never the integer Z' (VERDICT r14 Next #1); (2) the
  * per-doc shingle-count invariant the dd_prefix_join array verify
  * rides ([[graft.operators.Dedup.DocShinglesSoftBound]], VERDICT r14
  * Next #5) actually holds on the corpus.
  */
class Round15OpsSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  test("packed registers: bit_or of level masks decodes to the exact wide max-merge Z'") {
    import graft.operators.HyperBall
    // synthetic multi-observation register streams: 500 nodes × 8
    // observations each, bucket/rho derived deterministically so both
    // paths see identical input (several observations share a bucket,
    // exercising the max-vs-bit_or merge, and rho spans [1, Scale])
    val obs = spark.range(0L, 4000L, 1L, 4)
      .selectExpr("id % 500 AS node",
        "pmod(hash(id), 64L) AS bucket", // BIGINT, like production's shiftright
        s"CAST(1 + pmod(hash(id * 31 + 7), ${HyperBall.Scale}) AS INT) AS rho")
      .persist()
    assert(obs.schema("bucket").dataType == org.apache.spark.sql.types.LongType)
    // packed path: pack each observation, bit_or-merge per node, decode
    val packed = obs.select(col("node") +: HyperBall.packCols: _*)
      .groupBy("node")
      .agg((1 to HyperBall.Scale).map(k => expr(s"bit_or(b$k)").as(s"b$k")).head,
        (1 to HyperBall.Scale).map(k => expr(s"bit_or(b$k)").as(s"b$k")).tail: _*)
      .select(col("node"), expr(HyperBall.zExpr).as("z"))
    // wide reference path: per-(node,bucket) max rho, then the direct
    // Z' = (m − present)·2^Scale + Σ 2^(Scale − rho) sum
    val wide = obs.groupBy("node", "bucket").agg(max("rho").as("rho"))
      .groupBy("node")
      .agg(count(lit(1)).as("present"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${HyperBall.Scale} - rho)")).as("s"))
      .select(col("node"),
        (((lit(HyperBall.Buckets.toLong) - col("present")) *
          lit(1L << HyperBall.Scale)) + col("s")).as("z_ref"))
    val mism = packed.join(wide, "node")
      .filter(col("z") =!= col("z_ref")).count()
    assert(mism == 0L, s"$mism nodes decode a different Z' than the wide max-merge")
    // non-vacuous: multiple observations per node actually merged
    assert(obs.groupBy("node", "bucket").count().filter(col("count") > 1).count() > 0L,
      "fixture never exercises a same-bucket merge")
    obs.unpersist()
  }

  test("per-doc shingle count stays under DocShinglesSoftBound (array-verify invariant)") {
    import graft.operators.Dedup
    graft.operators.TextOps.ensureRegistered(spark)
    val counts = Dedup.rawPostings(Dedup.nearCorpus(spark, dir))
      .groupBy("doc_id").agg(count(lit(1)).as("nsh"))
      .agg(max("nsh").as("mx"), count(lit(1)).as("docs")).head()
    val mx = counts.getAs[Long]("mx")
    assert(counts.getAs[Long]("docs") > 0L)
    assert(mx <= Dedup.DocShinglesSoftBound,
      s"max per-doc shingles $mx exceeds the documented bound " +
        s"${Dedup.DocShinglesSoftBound} — the dd_prefix_join collect_list " +
        "verify's O(100 B)/doc array assumption no longer holds; chunk " +
        "upstream (pipe_chunk) instead of raising this silently")
  }
}
