package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

// Generated corpora for the LLM-pipeline families at any size: the
// sf-dir corpora top out at thousands of documents/vectors, so these
// generate workloads in-engine (pure column expressions, no RNG, no
// driver loops) with PLANTED ground truth that specs and the streaming
// dedup drivers grade against.

/** Near-dup corpus: `n` documents of [[DedupScale.DocLen]]
  * pseudo-random tokens; every id ≡ 9 (mod 10) is a PLANTED near-dup
  * of id−1 (its first DocLen−3 tokens — shingle Jaccard ≈ 0.90, well
  * above Dedup.Tau). */
object DedupScale {
  val VocabSize = 5000L
  val DocLen = 60

  /** deterministic corpus: token j of doc c hashes (c, j) into a
    * [[VocabSize]] vocabulary — small enough to stress shingle df (the
    * MinHash pipeline's hard case); dup docs reuse the base doc's
    * prefix. */
  def corpus(spark: SparkSession, n: Long): DataFrame =
    textFor(
      spark.range(n).select(col("id").as("doc_id"))
        .withColumn("cid",
          when(pmod(col("doc_id"), lit(10L)) === 9L, col("doc_id") - 1)
            .otherwise(col("doc_id")))
        .withColumn("len",
          when(pmod(col("doc_id"), lit(10L)) === 9L, lit(DocLen - 3))
            .otherwise(lit(DocLen))))
      .select(col("doc_id"), col("text"))

  /** Appends `text` generated from a `cid` column (and a `len` column
    * if present; [[DocLen]] otherwise) — the generator is a pure
    * function of (cid, j), so any consumer can regenerate a doc's
    * token stream from its cid ([[DedupStream]] builds its delta
    * slices this way).
    *
    * degski-mixed (cid, j) → token id: the xor-shift rounds break the
    * arithmetic progressions a linear congruential map leaves (which
    * read as genuine high-Jaccard doc pairs and flood the verify stage
    * with generator artifacts). Reduce mod 2^32 BEFORE the mix
    * multiply — (2^32−1)·73244475 stays under Long.Max; an unreduced
    * id·1000003 seed does not. */
  def textFor(in: DataFrame): DataFrame = {
    val withLen = if (in.columns.contains("len")) in
                  else in.withColumn("len", lit(DocLen))
    withLen
      .withColumn("h0", expr("transform(sequence(0, len - 1), j -> (cid * 1000003 + j) % 4294967296)"))
      .withColumn("h1", expr("transform(h0, h -> (h ^ shiftright(h, 16)) * 73244475 % 4294967296)"))
      .withColumn("h2", expr("transform(h1, h -> (h ^ shiftright(h, 16)) * 73244475 % 4294967296)"))
      .withColumn("text", expr(
        s"array_join(transform(h2, h -> concat('w', CAST((h ^ shiftright(h, 16)) % $VocabSize AS STRING))), ' ')"))
      .drop("h0", "h1", "h2", "len")
  }
}

/** Clustered embeddings: `n` pseudo-random 64-dim integer vectors
  * around [[AnnScale.Clusters]] planted centroids. */
object AnnScale {
  val Dim = 64

  /** clusters in the generated space — nearest neighbors are MEANINGFUL
    * (same-cluster), so a bucketed path is graded against real
    * structure, not the noise floor of uniform random vectors. */
  val Clusters = 50L

  def vectors(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("vec_id"))
      .withColumn("c", pmod(col("vec_id"), lit(Clusters)))
      // centroid(cluster) + 20%-amplitude per-vector noise, both from
      // the degski mix (deterministic, no RNG)
      .withColumn("ch", expr(s"transform(sequence(0, ${Dim - 1}), j -> (c * $Dim + j) % 4294967296)"))
      .withColumn("nh", expr(s"transform(sequence(0, ${Dim - 1}), j -> ((vec_id + $Clusters) * $Dim + j) % 4294967296)"))
      .withColumn("ch", expr("transform(ch, h -> (h ^ shiftright(h, 16)) * 73244475 % 4294967296)"))
      .withColumn("ch", expr("transform(ch, h -> (h ^ shiftright(h, 16)) * 73244475 % 4294967296)"))
      .withColumn("nh", expr("transform(nh, h -> (h ^ shiftright(h, 16)) * 73244475 % 4294967296)"))
      .withColumn("nh", expr("transform(nh, h -> (h ^ shiftright(h, 16)) * 73244475 % 4294967296)"))
      .select(col("vec_id"), expr(
        "zip_with(ch, nh, (a, b) -> CAST((a % 2001 - 1000) + (b % 401 - 200) AS BIGINT))")
        .as("q"))
      .withColumn("nrm", expr("graft_dot(q, q)"))
}

/** Zipfian corpus — the wrap-prone regime of DSIR's hashed counts: the
  * rank-1 token carries ln 2 / ln V of all unigram mass (~5% at
  * V = 10⁶), so from ~1M docs up its bucket's (tc+1)·(rt+B) product
  * exceeds 2⁶³/Scale, where an int64 [[Pipeline.dsirWeightsOf]] would
  * wrap silently. */
object ZipfScale {
  val Vocab = 1000000L

  /** Zipf(≈1) corpus: same degski-mixed (doc, j) hash stream as
    * [[DedupScale.textFor]], mapped through the log-uniform inverse
    * CDF rank = ⌊exp(u · ln V)⌋ ∈ [1, V) so P(rank) ∝ 1/rank. Pure
    * column expressions, no RNG. */
  def corpus(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("doc_id"))
      .withColumn("h0", expr(s"transform(sequence(0, ${DedupScale.DocLen - 1}), j -> (doc_id * 1000003 + j) % 4294967296)"))
      .withColumn("h1", expr("transform(h0, h -> (h ^ shiftright(h, 16)) * 73244475 % 4294967296)"))
      .withColumn("h2", expr("transform(h1, h -> (h ^ shiftright(h, 16)) * 73244475 % 4294967296)"))
      .withColumn("text", expr(
        s"""array_join(transform(h2, h -> concat('z', CAST(CAST(floor(exp(
           |  (((h ^ shiftright(h, 16)) % 4294967296) / 4294967296.0) * ln($Vocab)
           |)) AS BIGINT) AS STRING))), ' ')""".stripMargin))
      .select("doc_id", "text")
}
