package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tpch

/** Similarity search over the embeddings table (64-dim FLOAT[]):
  * brute-force cosine top-k as the exactness baseline, and an
  * LSH-bucketed variant (deterministic random-hyperplane signatures) as
  * the scale path — bucketed candidates turn the all-pairs product into
  * an equi-join on the bucket key.
  *
  * Embeddings are quantized to integers (round(x·1000)) before any
  * arithmetic: dot products and norms are exact BIGINT sums (order
  * independent), cosines are doubles derived from those exact integers —
  * so the DuckDB oracle reproduces every cosine bit-for-bit and the
  * top-k ranking is deterministic across engines.
  */
object Similarity {
  val K = 5
  val QueryMod = 50       // vec_id % QueryMod == 0 → query set
  val NumPlanes = 8
  val DupCosTau = 0.999
  val IdOffset = 100000L

  /** (vec_id, q: ARRAY<BIGINT> quantized, nrm: BIGINT Σq²).
    * Norms and dots run through the native codegen expression
    * [[graft.functions.DotProduct]] (`graft_dot`) — the HOF form
    * (`aggregate(zip_with(...))`) is interpreted per element. */
  def quantized(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    Tpch.table(spark, dir, "embeddings").select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("q"))
      .withColumn("nrm", expr("graft_dot(q, q)"))
      .filter(col("nrm") > 0)
  }

  /** Session memos for the shared intermediates: every ANN variant
    * starts from the quantized table, and both bucketed operators from
    * its signature extension — one persisted copy per (session, dir)
    * instead of a fresh persist per call (evicted on session end). */
  private val quantMemo = new graft.SessionMemo[DataFrame]
  private[operators] def quantizedCached(spark: SparkSession, dir: String): DataFrame =
    quantMemo.getOrElseUpdate(spark, dir)(
      // the embeddings parquet is a single small file → ONE scan
      // partition, which serialized every downstream per-row-heavy map
      // stage (gram's ×2080 term explode ran single-threaded, 7 s of
      // one-core wall in the r7 bench). Spread the cached copy across
      // the cores once; every consumer inherits the parallelism.
      quantized(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist())
  private val bucketMemo = new graft.SessionMemo[DataFrame]
  private def bucketedCached(spark: SparkSession, dir: String): DataFrame =
    bucketMemo.getOrElseUpdate(spark, dir)(
      withBucket(quantizedCached(spark, dir)).persist())

  /** Pre-materializes the shared ANN intermediates (bench warmup). */
  def warm(spark: SparkSession, dir: String): Unit = {
    bucketedCached(spark, dir).count()
    slicedCached(spark, dir).count()
    classSumsCached(spark, dir).count()
    ()
  }

  private def dot(a: String, b: String): Column =
    expr(s"graft_dot($a, $b)")

  private def cos: Column = col("dot") / (sqrt(col("qn")) * sqrt(col("cn")))

  /** Every ANN variant's output is queries×K rows — tiny — and each is
    * consumed twice per session (its own query + [[annRecall]]).
    * Memoizing the outputs means the recall probe reads four cached
    * top-K tables instead of re-executing four kernels (r4 ran the
    * whole ANN family twice). */
  private val bruteMemo = new graft.SessionMemo[DataFrame](outputMemo = true)
  private val lshMemo = new graft.SessionMemo[DataFrame](outputMemo = true)
  private val ivfMemo = new graft.SessionMemo[DataFrame](outputMemo = true)
  private val ivfTrainedMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  /** Brute-force cosine top-k: tiny query set broadcast against all
    * candidates; exact baseline for the ANN surface. 100 TB contract:
    * as an eval truth it runs over SAMPLED queries (broadcast, one
    * linear corpus pass — see [[matryoshkaRecall]]'s note); as a
    * serving path it is the fallback below LSH/IVF scale, never the
    * plan at corpus size. */
  def annBruteForce(spark: SparkSession, dir: String): DataFrame =
    bruteMemo.getOrElseUpdate(spark, dir)(annBruteForceCompute(spark, dir).persist())

  private def annBruteForceCompute(spark: SparkSession, dir: String): DataFrame = {
    val e = quantizedCached(spark, dir)
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("qid"), col("q").as("qv"), col("nrm").as("qn"))
    val cands = e.select(col("vec_id").as("nid"), col("q").as("cv"), col("nrm").as("cn"))
    val scored = broadcast(queries).crossJoin(cands)
      .filter(col("qid") =!= col("nid"))
      .withColumn("dot", dot("qv", "cv"))
      .withColumn("cos", cos)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

  /** Hyperplane-signature bits for planes lo..hi−1 (one deterministic
    * generator for every level: component j of plane p is
    * ((p·73+j·37) mod 41) − 20): Σ 2^(p−lo)·[dot(q, plane_p) > 0].
    * Plane weights are computed driver-side and embedded as array
    * literals, so each plane dot is one codegen'd `graft_dot` against a
    * constant. */
  private def planeBits(lo: Int, hi: Int): Column =
    (lo until hi).map { p =>
      val weights = (0 until 64).map(j => ((p * 73 + j * 37) % 41) - 20)
      val plane = weights.map(w => s"${w}L").mkString("array(", ", ", ")")
      expr(s"CASE WHEN graft_dot(q, $plane) > 0 THEN ${1L << (p - lo)} ELSE 0 END")
    }.reduce(_ + _)

  /** Deterministic hyperplane bucket (planes 0..7). */
  def withBucket(e: DataFrame): DataFrame =
    e.withColumn("bucket", planeBits(0, NumPlanes))

  /** LSH-bucketed ANN: candidates share the 8-bit hyperplane signature;
    * the cross product becomes an equi-join on bucket. Recall is partial
    * by construction (single probe) — the deterministic trade the scale
    * path makes. */
  def annLsh(spark: SparkSession, dir: String): DataFrame =
    lshMemo.getOrElseUpdate(spark, dir)(annLshCompute(spark, dir).persist())

  private def annLshCompute(spark: SparkSession, dir: String): DataFrame = {
    val e = bucketedCached(spark, dir)
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("qid"), col("q").as("qv"), col("nrm").as("qn"), col("bucket"))
    val cands = e.select(col("vec_id").as("nid"), col("q").as("cv"), col("nrm").as("cn"), col("bucket"))
    val scored = queries.join(cands, "bucket")
      .filter(col("qid") =!= col("nid"))
      .withColumn("dot", dot("qv", "cv"))
      .withColumn("cos", cos)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("bucket"), col("rank"), col("nid"), col("cos"))
  }

  val CentroidMod = 25    // vec_id % CentroidMod == 0 → centroid set
  val NProbe = 2

  /** IVF-style ANN: a deterministic centroid subset partitions the
    * corpus into inverted lists (nearest centroid by integer cosine,
    * min-id tiebreak); a query probes only its NProbe nearest lists.
    * Complements [[annLsh]]: IVF lists adapt to the data distribution
    * where hyperplane buckets are data-independent. All arithmetic is
    * the same exact-integer cosine, so assignment and ranking are
    * engine-invariant. */
  def annIvf(spark: SparkSession, dir: String): DataFrame =
    ivfMemo.getOrElseUpdate(spark, dir)(annIvfCompute(spark, dir).persist())

  private def annIvfCompute(spark: SparkSession, dir: String): DataFrame = {
    val e = quantizedCached(spark, dir)
    val cents = e.filter(col("vec_id") % CentroidMod === 0)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("nrm").as("cn"))

    // inverted lists: every vector assigned to its nearest centroid
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("cid"))
    val assign = e.crossJoin(broadcast(cents))
      .withColumn("dot", dot("q", "cq"))
      .withColumn("cos", col("dot") / (sqrt(col("nrm")) * sqrt(col("cn"))))
      .withColumn("r", row_number().over(wAssign))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("cid"))

    // probe lists: each query's NProbe nearest centroids
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("qid"), col("q").as("qv"), col("nrm").as("qn"))
    val wProbe = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("cid"))
    val probes = broadcast(queries).crossJoin(broadcast(cents))
      .withColumn("dot", dot("qv", "cq"))
      .withColumn("cos", col("dot") / (sqrt(col("qn")) * sqrt(col("cn"))))
      .withColumn("r", row_number().over(wProbe))
      .filter(col("r") <= NProbe)
      .select(col("qid"), col("cid"))

    // candidates = members of probed lists; exact rerank within them
    val cands = probes
      .join(assign, "cid")
      .select(col("qid"), col("vec_id").as("nid"))
      .join(e.select(col("vec_id").as("nid"), col("q").as("cv"), col("nrm").as("cn2")), "nid")
    val scored = cands
      .join(broadcast(queries), "qid")
      .filter(col("qid") =!= col("nid"))
      .withColumn("dot", dot("qv", "cv"))
      .withColumn("cos", col("dot") / (sqrt(col("qn")) * sqrt(col("cn2"))))
    val wRank = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

  val TrainIters = 2

  /** IVF with TRAINED centroids — [[annIvf]]'s deterministic seed
    * subset, refined by [[TrainIters]] Lloyd iterations. The k-means
    * trick that keeps it engine-exact: centroids are stored as the
    * elementwise SUM of their members, never the mean — cosine is
    * scale-invariant, so cos(q, sum) == cos(q, mean) and every number
    * in training stays an exact BIGINT (a mean would need division,
    * whose floor/truncate semantics differ across engines). Clusters
    * that lose all members (or zero out) drop deterministically.
    *
    * Scale shape per iteration: one broadcast of the centroid set
    * against the corpus (N×k codegen dots — the standard assignment
    * kernel) + one partial-agg shuffle for the sums; the corpus is
    * never re-shuffled. */
  def annIvfTrained(spark: SparkSession, dir: String): DataFrame =
    ivfTrainedMemo.getOrElseUpdate(spark, dir)(
      annIvfTrainedCompute(spark, dir).persist())

  /** Nearest-trained-centroid assignment with the scoring columns kept
    * (`dot` exact BIGINT against the SUM-vector centroid, member `nrm`,
    * centroid `cn`) — shared by the final IVF assignment and the
    * cluster-diagnostics query. */
  private def assignToCents(e: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("cid"))
    e.crossJoin(broadcast(cents))
      .withColumn("dot", dot("q", "cq"))
      .withColumn("cos", col("dot") / (sqrt(col("nrm")) * sqrt(col("cn"))))
      .withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
  }

  /** The Lloyd-trained centroid table (cid, cq SUM vector, cn norm):
    * a training artifact both [[annIvfTrained]] and [[clusterStats]]
    * start from. localCheckpoint materializes the loop once and
    * truncates its lineage, instead of re-executing the posexplode/
    * groupBy training subtree per downstream reference. OUTPUT-layer
    * memo (ADVICE r11): an iterative fixpoint is a result-equivalent
    * artifact by SessionMemo's own contract, so the honest-cold pass
    * must rebuild the training — the r11 classification as input-layer
    * made ann_ivf_kmeans' cold exec drop 9.1 → 3.7 s by memo policy
    * rather than by a genuine mechanism. Checkpoint-backed entries are
    * safe under the Dataset-level cold unpersist (the stored blocks
    * are not CacheManager-registered, so a cold rebuild cannot alias
    * them and warm reads keep their only copy). */
  private val trainedCentsMemo = new graft.SessionMemo[DataFrame](outputMemo = true)
  private def trainedCents(spark: SparkSession, dir: String): DataFrame =
    trainedCentsMemo.getOrElseUpdate(spark, dir) {
      val e = quantizedCached(spark, dir)
      var cents = e.filter(col("vec_id") % CentroidMod === 0)
        .select(col("vec_id").as("cid"), col("q").as("cq"), col("nrm").as("cn"))
      for (_ <- 1 to TrainIters) {
        cents = assignToCents(e, cents).select(col("vec_id"), col("cid"))
          .join(e, "vec_id")
          .select(col("cid"), posexplode(col("q")).as(Seq("i", "x")))
          .groupBy("cid", "i").agg(sum("x").as("s"))
          .groupBy("cid")
          .agg(expr("transform(sort_array(collect_list(struct(i, s))), p -> p.s)")
            .as("cq"))
          .withColumn("cn", expr("graft_dot(cq, cq)"))
          .filter(col("cn") > 0)
      }
      cents.localCheckpoint()
    }

  private def annIvfTrainedCompute(spark: SparkSession, dir: String): DataFrame = {
    val e = quantizedCached(spark, dir)
    val cents = trainedCents(spark, dir)
    val assign = assignToCents(e, cents).select(col("vec_id"), col("cid"))
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("qid"), col("q").as("qv"), col("nrm").as("qn"))
    val wProbe = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    val probes = broadcast(queries).crossJoin(broadcast(cents))
      .withColumn("dot", dot("qv", "cq"))
      .withColumn("cos", col("dot") / (sqrt(col("qn")) * sqrt(col("cn"))))
      .withColumn("r", row_number().over(wProbe))
      .filter(col("r") <= NProbe)
      .select(col("qid"), col("cid"))
    val cands = probes
      .join(assign, "cid")
      .select(col("qid"), col("vec_id").as("nid"))
      .join(e.select(col("vec_id").as("nid"), col("q").as("cv"), col("nrm").as("cn2")), "nid")
    val scored = cands
      .join(broadcast(queries), "qid")
      .filter(col("qid") =!= col("nid"))
      .withColumn("dot", dot("qv", "cv"))
      .withColumn("cos", col("dot") / (sqrt(col("qn")) * sqrt(col("cn2"))))
    val wRank = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

  /** IVF list-occupancy + coherence diagnostics over the trained
    * centroids — the balance audit an IVF deployment reads before
    * trusting its probe budget: a skewed list (one cluster holding
    * most of the corpus) turns every probe into a near-scan, and a
    * low-coherence list (members barely aligned with their centroid)
    * predicts recall loss at fixed NProbe. Per cluster: member count,
    * Σ member norm and Σ member·centroid dot (both exact BIGINTs —
    * the centroid is the integer SUM vector, so the dot is exact),
    * centroid norm, and mean dot as the single derived double.
    *
    * Scale shape: one broadcast-assignment pass over the corpus (the
    * same N×k codegen kernel the IVF queries use — here it reuses the
    * memoized trained centroids, so the Lloyd loop is never re-run)
    * followed by one partial-agg groupBy(cid) to a ≤k-row table. */
  def clusterStats(spark: SparkSession, dir: String): DataFrame = {
    val e = quantizedCached(spark, dir)
    val assigned = assignToCents(e, trainedCents(spark, dir))
    assigned.groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"),
        sum("nrm").as("sum_nrm"),
        sum("dot").as("sum_dot"),
        max("cn").as("cn"))
      .withColumn("avg_dot", col("sum_dot") / col("n_vecs").cast("double"))
  }

  /** Recall@K probe: each approximate variant's top-K joined against
    * the brute-force ground truth — the number both ANN docs only
    * assert ("recall is partial by construction") made measurable. One
    * row per variant: hits, truth size, recall. The join is tiny
    * (queries×K rows per side); the cost is the four underlying
    * kernels, all over the memoized quantized table. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val truth = annBruteForce(spark, dir).select(col("qid"), col("nid"))
    val approx =
      annLsh(spark, dir).select(lit("lsh").as("variant"), col("qid"), col("nid"))
        .unionAll(annIvf(spark, dir)
          .select(lit("ivf").as("variant"), col("qid"), col("nid")))
        .unionAll(annIvfTrained(spark, dir)
          .select(lit("ivf_kmeans").as("variant"), col("qid"), col("nid")))
        .unionAll(annPq(spark, dir)
          .select(lit("pq").as("variant"), col("qid"), col("nid")))
    val t = truth.agg(count(lit(1)).as("n_truth"))
    approx.join(truth, Seq("qid", "nid"))
      .groupBy("variant").agg(count(lit(1)).as("n_hits"))
      .crossJoin(t)
      .withColumn("recall", col("n_hits") / col("n_truth"))
      .select(col("variant"), col("n_hits"), col("n_truth"), col("recall"))
  }

  /** Hard-negative mining — the contrastive-training data op: for each
    * query, the top-K most-similar candidates whose label DIFFERS
    * (similar-but-wrong examples are what the trainer needs). Same
    * broadcast-query kernel as [[annBruteForce]], plus a label
    * inequality before scoring — the filter runs inside the codegen
    * stage, so wrong-label candidates are skipped before the dot
    * product, and at scale the kernel composes with the IVF/LSH
    * bucketing the same way the plain top-k does. */
  private val hardNegMemo = new graft.SessionMemo[DataFrame](outputMemo = true)
  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    hardNegMemo.getOrElseUpdate(spark, dir)(
      hardNegativesCompute(spark, dir).persist())

  private def hardNegativesCompute(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tpch.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val e = quantizedCached(spark, dir).join(labels, "vec_id")
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("qid"), col("q").as("qv"),
        col("nrm").as("qn"), col("label").as("q_label"))
    val cands = e.select(col("vec_id").as("nid"), col("q").as("cv"),
      col("nrm").as("cn"), col("label").as("n_label"))
    val scored = broadcast(queries).crossJoin(cands)
      .filter(col("q_label") =!= col("n_label"))
      .withColumn("dot", dot("qv", "cv"))
      .withColumn("cos", cos)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("q_label"), col("rank"), col("nid"),
        col("n_label"), col("cos"))
  }

  /** Embedding-cosine near-dup over embeddings ∪ perturbed copy
    * (each quantized component +1, ids offset): pairs in the same LSH
    * bucket with cos ≥ τ. Bucket-blocked join = linear-scale near-dup. */
  private val dupCorpusMemo = new graft.SessionMemo[DataFrame]

  /** embeddings ∪ perturbed copy, quantized + LSH-bucketed — the
    * shared near-dup corpus of [[embeddingDup]] and [[semDedup]]. */
  private def dupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val e = quantizedCached(spark, dir)
    val perturbed = e.select((col("vec_id") + IdOffset).as("vec_id"),
      expr("transform(q, x -> x + 1)").as("q"))
      .withColumn("nrm", expr("graft_dot(q, q)"))
      .filter(col("nrm") > 0)
    dupCorpusMemo.getOrElseUpdate(spark, dir)(
      withBucket(e.select("vec_id", "q", "nrm")
        .unionAll(perturbed.select("vec_id", "q", "nrm"))).persist())
  }

  def embeddingDup(spark: SparkSession, dir: String): DataFrame =
    embDupMemo.getOrElseUpdate(spark, dir)(
      embeddingDupCompute(spark, dir).persist())

  /** The bucket-blocked pair join re-ran per touch; now that the
    * leakage/dup-source audits consume this pair table too (r12 —
    * the semantic family, VERDICT r11 Missing #1) it is genuinely
    * multi-consumer: same verified-pair memo lifecycle as [[semMemo]]
    * and the Dedup family's pair tables. */
  private val embDupMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def embeddingDupCompute(spark: SparkSession, dir: String): DataFrame = {
    val corpus = dupCorpus(spark, dir)
    val a = corpus.select(col("vec_id").as("a"), col("q").as("qv"), col("nrm").as("qn"), col("bucket"))
    val b = corpus.select(col("vec_id").as("b"), col("q").as("cv"), col("nrm").as("cn"), col("bucket"))
    a.join(b, "bucket").filter(col("a") < col("b"))
      .withColumn("dot", dot("qv", "cv"))
      .withColumn("cos", cos)
      .filter(col("cos") >= DupCosTau)
      .select(col("a"), col("b"), col("cos"))
  }

  // ---- SemDeDup --------------------------------------------------------

  /** τ² = 361/400, i.e. cos ≥ 0.95, as a pure-integer test:
    * dot > 0 ∧ 400·dot² ≥ 361·|a|²·|b|². Bounds: dot ≤ 64·10⁶ so
    * 400·dot² ≤ 1.7·10¹⁸ < 2⁶³ — no overflow on either engine. */
  val SemTauNum = 361L
  val SemTauDen = 400L

  private val semMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  /** SemDeDup (Abbas et al. 2023): cluster the corpus by nearest
    * centroid, then look for semantic duplicates ONLY inside each
    * cluster — pairwise cost falls from O(N²) to Σ|cluster|², and at
    * 100 TB the centroid count scales with the corpus (k ∝ N) so the
    * per-cluster quadratic term stays bounded. The assignment is the
    * same broadcast×argmax kernel as IVF, expressed as a partial-
    * aggregable `max_by(cid, struct(cos, -cid))` — no window sort over
    * the corpus. Keeper policy: min vec_id per qualifying pair
    * (deterministic; the paper's farthest-from-centroid keeper is an
    * orthogonal policy knob). Output: per-cluster census
    * (cid, n_members, n_dropped) — all integers. */
  def semDedup(spark: SparkSession, dir: String): DataFrame =
    semMemo.getOrElseUpdate(spark, dir)(semDedupCompute(spark, dir))

  private def semDedupCompute(spark: SparkSession, dir: String): DataFrame = {
    val e = quantizedCached(spark, dir)
    val corpus = dupCorpus(spark, dir).select("vec_id", "q", "nrm")
    val cents = e.filter(col("vec_id") % CentroidMod === 0)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("nrm").as("cn"))
    // nearest-centroid assignment: broadcast the (tiny) centroid set,
    // argmax per corpus row without a window — map-side combinable
    val assign = corpus.crossJoin(broadcast(cents))
      .withColumn("dot", dot("q", "cq"))
      .withColumn("cos", col("dot") / (sqrt(col("nrm")) * sqrt(col("cn"))))
      .groupBy("vec_id")
      .agg(expr("max_by(cid, struct(cos, -cid))").as("cid"))
    // members referenced three ways (both pair sides + census): one
    // persisted copy for the session-memoized 20-row output
    val m = assign.join(corpus, "vec_id").persist()
    val a = m.select(col("cid"), col("vec_id").as("a"),
      col("q").as("qa"), col("nrm").as("na"))
    val b = m.select(col("cid"), col("vec_id").as("b"),
      col("q").as("qb"), col("nrm").as("nb"))
    val drops = a.join(b, "cid").filter(col("a") < col("b"))
      .withColumn("dp", dot("qa", "qb"))
      .filter(col("dp") > 0 &&
        lit(SemTauDen) * col("dp") * col("dp") >=
          lit(SemTauNum) * col("na") * col("nb"))
      .select(col("cid"), col("b")).distinct()
    val census = m.groupBy("cid").agg(count(lit(1)).as("n_members"))
    val dropped = drops.groupBy("cid").agg(count(lit(1)).as("n_dropped"))
    val out = census.join(dropped, Seq("cid"), "left")
      .select(col("cid"), col("n_members"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
      .persist()
    out.count()
    m.unpersist()
    out
  }

  /** Per-dimension feature statistics over the quantized embeddings —
    * the drift-monitoring pass an embedding pipeline schedules next to
    * ingestion (a shifted dimension mean is the cheapest signal that
    * an upstream encoder changed). posexplode → one partial-agg
    * groupBy on the dimension index: 64 output rows at any corpus
    * size, everything integer-exact. */
  def dimStats(spark: SparkSession, dir: String): DataFrame =
    Tpch.table(spark, dir, "embeddings")
      .select(expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("q"))
      .select(posexplode(col("q")).as(Seq("i0", "x")))
      .select((col("i0") + 1).cast("long").as("dim"), col("x"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("x").as("sum_q"),
        min("x").as("min_q"), max("x").as("max_q"))

  /** Per-class centroid audit — the embedding-space twin of
    * `Pipeline.sourceShift`'s text-side drift table: for each label
    * class, the centroid's L2 norm and its cosine to the corpus-mean
    * direction. A class whose centroid cosine sits near 0 occupies
    * its own region (healthy separation); one near 1 with a small
    * norm is collapsing into the corpus mean — the QC signal an
    * embedding-table release checks before training retrieval on the
    * labels. ALL vectors count as class members (no nrm>0 filter —
    * zero vectors pull a centroid toward the origin, which is
    * exactly what the audit should see).
    *
    * Engine-exact shape: per-(label, dim) integer sums s (one
    * posexplode partial-agg pass — the ONLY corpus-sized op), the
    * global per-dim sums g derive from s (bounded: |labels|·d rows),
    * and the three quadratics ss = Σs², sg = Σs·g, gg = Σg² widen to
    * decimal128 BEFORE the multiply (s ~ n·10³ per class wraps s² at
    * n ≳ 3e6 — the DSIR global-count lesson). Doubles appear only in
    * the last projection, in the same op order as the oracle:
    * centroid_norm = √ss/n (norm of the MEAN vector, scaled back to
    * float units), cos = sg/(√ss·√gg). */
  def classCentroids(spark: SparkSession, dir: String): DataFrame =
    classCentMemo.getOrElseUpdate(spark, dir)(
      classCentroidsCompute(spark, dir).persist())

  /** Pure (session, dir) recompute per touch (r12 warm tier) — same
    * output-memo lifecycle as [[trainedCentsMemo]]: fill on first
    * timed touch, cold pass prices the rebuild (VERDICT r12 Next #1). */
  private val classCentMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def classCentroidsCompute(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tpch.table(spark, dir, "embeddings")
    val lbl = emb.select(col("vec_id"), col("label").cast("long").as("label"))
    val sl = classSumsCached(spark, dir)
    val g = sl.groupBy("i").agg(sum("s").as("g"))
    val per = sl.join(broadcast(g), "i")
      .groupBy("label")
      .agg(sum(col("s").cast("decimal(38,0)") * col("s")).as("ss"),
        sum(col("s").cast("decimal(38,0)") * col("g")).as("sg"))
    val gg = g.agg(sum(col("g").cast("decimal(38,0)") * col("g")).as("gg"))
    val cnt = lbl.groupBy("label").agg(count(lit(1)).as("n_vecs"))
    per.join(broadcast(cnt), "label").crossJoin(broadcast(gg))
      .select(col("label"), col("n_vecs"),
        (sqrt(col("ss").cast("double")) / col("n_vecs") / 1000.0)
          .as("centroid_norm"),
        (col("sg").cast("double") /
          (sqrt(col("ss").cast("double")) * sqrt(col("gg").cast("double"))))
          .as("cos_to_global"))
  }

  /** per-(label, dim) integer centroid sums — the shared kernel of
    * [[classCentroids]] and [[centroidEval]]. */
  private def classSums(el: DataFrame, lbl: DataFrame): DataFrame =
    el.join(lbl, "vec_id").groupBy("label", "i").agg(sum("x").as("s"))

  /** Session-memoized [[classSums]] over the full embeddings table
    * (input layer, same lifecycle as [[quantizedCached]]): the
    * corpus-sized posexplode + join + groupBy pass ran TWICE per
    * session — once in [[classCentroids]], again in [[centroidEval]]
    * (VERDICT r9 Next #6) — while its output is only |labels|·d rows.
    * One persisted copy, filled in [[warm]]. */
  private val classSumsMemo = new graft.SessionMemo[DataFrame]
  private def classSumsCached(spark: SparkSession, dir: String): DataFrame =
    classSumsMemo.getOrElseUpdate(spark, dir) {
      val emb = Tpch.table(spark, dir, "embeddings")
      val lbl = emb.select(col("vec_id"), col("label").cast("long").as("label"))
      val el = emb.select(col("vec_id"),
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("q"))
        .select(col("vec_id"), posexplode(col("q")).as(Seq("i", "x")))
      classSums(el, lbl).persist()
    }

  /** Nearest-centroid classification eval — the standard probe of
    * whether an embedding table's geometry supports its labels: each
    * (nonzero) vector is assigned to the class centroid with the
    * highest cosine, reported as a confusion matrix (label, pred, n).
    * Per-class accuracy is the diagonal over the row sum; a label
    * whose rows scatter across predictions is not linearly clustered
    * and will not train a retrieval head. Centroids INCLUDE each
    * query vector (the n≫1 convention; at 500+ vectors per class the
    * self-term moves a centroid by <0.2%).
    *
    * Engine shape: the dot of every vector against every centroid is
    * one equi-join on the dim index — |corpus|·d rows against the
    * broadcast (|labels|·d)-row sum table, so the pair volume is
    * |corpus|·|labels| — linear in the corpus for the bounded label
    * sets this eval exists for. Dots are exact integers (envelope:
    * d·10³·n_l·10³ per class wraps int64 only past ~10¹¹ vectors per
    * class); the cosine ranking divides each dot by the class's √ss
    * in doubles, argmax tie-breaking to the smaller label — the
    * query's own norm is constant per vector and cancels out of the
    * ranking entirely. */
  def centroidEval(spark: SparkSession, dir: String): DataFrame =
    centEvalMemo.getOrElseUpdate(spark, dir)(
      centroidEvalCompute(spark, dir).persist())

  /** 9.9 exec-s warm re-run per touch in r12 — same memo policy as
    * [[classCentMemo]] (VERDICT r12 Next #1). */
  private val centEvalMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def centroidEvalCompute(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tpch.table(spark, dir, "embeddings")
    val lbl = emb.select(col("vec_id"), col("label").cast("long").as("label"))
    val sl = classSumsCached(spark, dir)
    val ssOf = sl.groupBy("label")
      .agg(sum(col("s").cast("decimal(38,0)") * col("s")).as("ss"))
    // query side: nonzero vectors only (a zero vector has no direction
    // to classify), same valid-set rule as the ANN family
    val el = quantizedCached(spark, dir)
      .select(col("vec_id"), posexplode(col("q")).as(Seq("i", "x")))
    val dots = el
      .join(broadcast(sl.withColumnRenamed("label", "cand")), "i")
      .groupBy("vec_id", "cand")
      .agg(sum(col("x") * col("s")).as("dot"))
    val scored = dots
      .join(broadcast(ssOf.select(col("label").as("cand"), col("ss"))), "cand")
      .withColumn("score", col("dot").cast("double") / sqrt(col("ss").cast("double")))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("score").desc, col("cand"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(lbl, "vec_id")
      .groupBy(col("label"), col("cand").as("pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-dimension whitening (z-scoring) of the quantized embeddings,
    * reported as each vector's whitened squared norm — the
    * normalization step between encoder output and any
    * distance-based consumer (a dimension with 100× the variance
    * otherwise owns every cosine). Engine-exact shape: with per-dim
    * integer stats S = Σx and V = n·Σx² − S², each term is
    * z²ⱼ = (n·xⱼ − Sⱼ)²/Vⱼ — integers until one double multiply and
    * divide, folded in ARRAY ORDER on both engines (a groupBy-sum of
    * per-dim doubles would have engine-dependent addition order).
    * Plan: one posexplode partial-agg pass for the 64-row stats, the
    * stats pivoted to arrays and broadcast, one map-side zip — linear,
    * no per-row shuffle. Envelope: V stays in BIGINT while
    * n·Σx² < 2⁶³ (n ≲ 3e6 vectors at this quantization); past that the
    * stats pass switches to per-partition Welford doubles and the
    * oracle bit-exactness claim relaxes to a tolerance. */
  def whitenNorms(spark: SparkSession, dir: String): DataFrame =
    whitenMemo.getOrElseUpdate(spark, dir)(
      whitenNormsCompute(spark, dir).persist())

  /** 8.8 exec-s warm re-run per touch in the r13 artifact — the last
    * pure query above the ≥5 s memo-policy cut-line (VERDICT r13 Next
    * #1); same lifecycle as [[int8Memo]]. */
  private val whitenMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def whitenNormsCompute(spark: SparkSession, dir: String): DataFrame = {
    val q = quantizedCached(spark, dir)
    val el = q.select(posexplode(col("q")).as(Seq("i0", "x")))
      .select((col("i0") + 1).cast("long").as("dim"), col("x"))
    val stats = el.groupBy("dim").agg(
        count(lit(1)).as("n"), sum("x").as("s"),
        sum(col("x") * col("x")).as("ss"))
      .select(col("dim"), col("n"), col("s"),
        (col("n") * col("ss") - col("s") * col("s")).as("v"))
    val arrs = stats.agg(
        sort_array(collect_list(struct(col("dim"), col("s")))).as("sRows"),
        sort_array(collect_list(struct(col("dim"), col("v")))).as("vRows"),
        max("n").as("n"))
      .select(expr("transform(sRows, r -> r.s)").as("sArr"),
        expr("transform(vRows, r -> r.v)").as("vArr"), col("n"))
    val term =
      "CAST(n * element_at(q, i) - element_at(sArr, i) AS DOUBLE)"
    q.crossJoin(broadcast(arrs))
      .select(col("vec_id"),
        round(expr(
          s"""aggregate(sequence(1, size(q)), CAST(0.0 AS DOUBLE),
             |  (acc, i) -> acc + CASE WHEN element_at(vArr, i) > 0
             |    THEN ($term * $term) / CAST(element_at(vArr, i) AS DOUBLE)
             |    ELSE 0.0 END)""".stripMargin), 6).as("wnorm2"))
  }

  /** Symmetric per-dimension int8 quantization with an exact error
    * report — the serving-side compression step (an int8 corpus is 4×
    * smaller than fp32 and SIMD-scans 4× faster; every production ANN
    * store quantizes). Codes and errors stay in exact integer space:
    * with per-dim `amax = max|x|`, `code = ((x+amax)·255 + amax) div
    * (2·amax)` ∈ [0,255] (numerator non-negative, so Spark's
    * truncating `div` and DuckDB's flooring `//` agree), and the
    * 255-scaled reconstruction error `|255·(x+amax) − code·2·amax|` is
    * an exact BIGINT bounded by amax (half a quantization step). Plan:
    * one posexplode, a 64-row amax aggregate broadcast back, one
    * partial-agg groupBy — linear, two narrow shuffles of 64 rows. */
  def int8Quantize(spark: SparkSession, dir: String): DataFrame =
    int8Memo.getOrElseUpdate(spark, dir)(
      int8QuantizeCompute(spark, dir).persist())

  /** 10.4 exec-s warm re-run per touch in r12 — same memo policy as
    * [[classCentMemo]] (VERDICT r12 Next #1). */
  private val int8Memo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def int8QuantizeCompute(spark: SparkSession, dir: String): DataFrame = {
    val el = quantizedCached(spark, dir)
      .select(posexplode(col("q")).as(Seq("i0", "x")))
      .select((col("i0") + 1).cast("long").as("dim"), col("x"))
    val amax = el.groupBy("dim").agg(max(abs(col("x"))).as("amax"))
      .filter(col("amax") > 0)
    el.join(broadcast(amax), "dim")
      .withColumn("code", expr("((x + amax) * 255 + amax) div (2 * amax)"))
      .withColumn("err255", abs(expr("(x + amax) * 255 - code * 2 * amax")))
      .groupBy("dim", "amax")
      .agg(count(lit(1)).as("n"), max("err255").as("max_err255"),
        sum("err255").as("sum_err255"),
        countDistinct("code").as("n_codes"))
  }

  /** Exact upper-triangle co-moment (gram) matrix over the quantized
    * embedding corpus — the d×d input every PCA / whitening /
    * covariance-drift job starts from. All second moments stay BIGINT
    * (quantized elements), so the matrix is engine-invariant; the
    * consumer forms covariance as (n·sxy − sum_i·sum_j)/n² in whatever
    * precision it wants.
    *
    * Scale shape: each row expands map-side to its d(d+1)/2
    * (i, j, x_i·x_j) terms inside one codegen'd transform — the corpus
    * is never joined against anything — and the only shuffle is the
    * partial-agg groupBy whose reduce side is d(d+1)/2 = 2,080 rows.
    * Per-dim sums ride in on a 64-row broadcast. At 100 TB this is the
    * canonical one-pass gram: linear scan, constant-size state. */
  def gramMatrix(spark: SparkSession, dir: String): DataFrame =
    gramMemo.getOrElseUpdate(spark, dir)(
      gramMatrixCompute(spark, dir).persist())

  /** 13.0 exec-s warm re-run per touch in r12 — same memo policy as
    * [[classCentMemo]] (VERDICT r12 Next #1). */
  private val gramMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def gramMatrixCompute(spark: SparkSession, dir: String): DataFrame = {
    val e = quantizedCached(spark, dir)
    val terms = e.select(explode(expr(
      """flatten(transform(sequence(1, size(q)), i ->
        |  transform(sequence(i, size(q)), j ->
        |    struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        |      element_at(q, i) * element_at(q, j) AS xy))))""".stripMargin))
        .as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"), col("t.xy").as("xy"))
    val gram = terms.groupBy("i", "j")
      .agg(count(lit(1)).as("n"), sum("xy").as("sxy"))
    val dims = e.select(posexplode(col("q")).as(Seq("i0", "x")))
      .groupBy((col("i0") + 1).cast("long").as("d"))
      .agg(sum("x").as("s"))
    gram
      .join(broadcast(dims.select(col("d").as("i"), col("s").as("sum_i"))), "i")
      .join(broadcast(dims.select(col("d").as("j"), col("s").as("sum_j"))), "j")
      .select(col("i"), col("j"), col("n"), col("sxy"),
        col("sum_i"), col("sum_j"))
  }

  val PcaIters = 8

  /** Fixed-round power iteration on a dense symmetric matrix (1-based
    * d×d in row 1..d, col 1..d), v₀ = all-ones, each round normalized
    * by max|w|. The fold runs in COLUMN ORDER (j ascending) because
    * the DuckDB twin replays the identical left fold — a dot product
    * via unordered summation would not hash-match. Returns (v, λ)
    * where λ is the final round's max|w| (the dominant-eigenvalue
    * estimate). */
  private[graft] def powerIterate(c: Array[Array[Double]], d: Int,
                                  iters: Int): (Array[Double], Double) = {
    var v = Array.fill(d)(1.0)
    var lambda = 0.0
    for (_ <- 1 to iters) {
      val w = new Array[Double](d)
      var i = 0
      while (i < d) {
        var acc = 0.0
        var j = 0
        while (j < d) { acc += c(i + 1)(j + 1) * v(j); j += 1 }
        w(i) = acc
        i += 1
      }
      lambda = w.map(math.abs).max
      v = w.map(_ / lambda)
    }
    (v, lambda)
  }

  /** Top-principal-component projection of the quantized embeddings —
    * the dimensionality-reduction head of an embedding pipeline
    * (visualization, PCA-whitening, index pre-rotation), and the
    * canonical train-small/apply-big shape: the d×d covariance
    * aggregates in ONE linear pass ([[gramMatrix]] — the corpus is
    * never joined), the [[PcaIters]]-round power iteration runs on the
    * driver over the 64×64 artifact (O(d²·iters), corpus-independent —
    * the same sanctioned small-model step as the IVF centroid loop),
    * and the projection ships back as LITERAL arrays in one codegen'd
    * map pass: zero joins, zero broadcast, zero extra shuffles.
    *
    * Engine-exactness: covariance numerator C = n·Σxy − Sx·Sy is exact
    * BIGINT (same n·Σ envelope as [[whitenNorms]]); the power rounds
    * and the projection fold are IEEE doubles applied in pinned order,
    * so the DuckDB twin — which re-derives C and replays the SAME
    * 8 unrolled rounds in SQL — reproduces every bit, including the
    * eigenvector's sign. Output: (vec_id, proj, lambda_max). */
  /** memoized eigen artifact (v, λ, per-dim sums, n, d) — the gram
    * pass + 64×64 collect ran per CALL before (3× per bench, and the
    * recompute under late-suite memory pressure was the r7 artifact's
    * emb_pca run-3 blowup); it is corpus-derived but constant per
    * (session, dir). */
  private val pcaMemo =
    new graft.SessionMemo[(Array[Double], Double, Array[Long], Long, Int)](
      outputMemo = true)

  def pcaProject(spark: SparkSession, dir: String): DataFrame = {
    val (v, lambda, s, n, d) = pcaMemo.getOrElseUpdate(spark, dir) {
      val rows = gramMatrix(spark, dir).collect()
      val dd = rows.iterator.map(_.getLong(1)).max.toInt
      val nn = rows.iterator.map(_.getLong(2)).max
      val ss = new Array[Long](dd + 1)
      val c = Array.ofDim[Double](dd + 1, dd + 1)
      rows.foreach { r =>
        val i = r.getLong(0).toInt; val j = r.getLong(1).toInt
        ss(i) = r.getLong(4); ss(j) = r.getLong(5)
        val cv = (nn * r.getLong(3) - r.getLong(4) * r.getLong(5)).toDouble
        c(i)(j) = cv; c(j)(i) = cv
      }
      val (vv, ll) = powerIterate(c, dd, PcaIters)
      (vv, ll, ss, nn, dd)
    }
    val vLit = array(v.map(lit(_)): _*)
    val sLit = array((1 to d).map(j => lit(s(j))): _*)
    quantizedCached(spark, dir).select(
      col("vec_id"),
      round(aggregate(
        sequence(lit(1), size(col("q"))),
        lit(0.0),
        (acc, j) => acc +
          (lit(n) * element_at(col("q"), j) - element_at(sLit, j)).cast("double") *
            element_at(vLit, j)), 6).as("proj"),
      round(lit(lambda), 3).as("lambda_max"))
  }

  val PqSub = 4       // subspaces (64 dims → 4 × 16)
  val PqSubDim = 16
  val PqCodeMod = 20  // vec_id % PqCodeMod == 0 → codeword set

  /** Product-quantization ANN (Jégou et al. 2011) — THE memory-bound
    * web-scale design: each vector is M codes (here 4 bytes) instead
    * of d floats, and queries scan codes with an M-entry table lookup
    * per candidate instead of a d-term dot product. Deterministic
    * codebooks (seed subset per subspace, nearest by exact integer
    * L2²: `sn + cn − 2·dot`), asymmetric scoring (ADC): approx
    * dot(q,x) = Σ_m lut[m, code_m(x)], ranked against the
    * reconstructed norm — every intermediate an exact BIGINT, so
    * encoding and ranking are engine-invariant.
    *
    * Scale shape: encoding is the broadcast-codebook assignment kernel
    * (N·M·|codebook| codegen dots, no shuffle of the corpus); scoring
    * joins the M-row-per-vector code table against a broadcast LUT and
    * partial-aggregates — the corpus is touched once, nothing ever
    * pairs corpus×corpus. */
  def annPq(spark: SparkSession, dir: String): DataFrame =
    pqMemo.getOrElseUpdate(spark, dir)(annPqCompute(spark, dir).persist())

  private val pqMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def annPqCompute(spark: SparkSession, dir: String): DataFrame = {
    val e = quantizedCached(spark, dir)
    // long-form subvectors: (vec_id, full norm, m, sub, sub-norm)
    val subs = e.select(col("vec_id"), col("nrm"), posexplode(expr(
        s"transform(sequence(0, ${PqSub - 1}), m -> slice(q, m * $PqSubDim + 1, $PqSubDim))"))
        .as(Seq("m", "sub")))
      .withColumn("sn", expr("graft_dot(sub, sub)"))
    val codebook = subs.filter(col("vec_id") % PqCodeMod === 0)
      .select(col("m"), col("vec_id").as("cid"), col("sub").as("csub"),
        col("sn").as("cn"))
    // encode: nearest codeword per (vector, subspace) by exact L2²
    val wEnc = Window.partitionBy("vec_id", "m")
      .orderBy(col("d2").asc, col("cid"))
    val codes = subs.join(broadcast(codebook), "m")
      .withColumn("d2",
        col("sn") + col("cn") - lit(2) * expr("graft_dot(sub, csub)"))
      .withColumn("r", row_number().over(wEnc))
      .filter(col("r") === 1)
      .select(col("vec_id").as("nid"), col("m"), col("cid"), col("cn"))
    // ADC lookup table: query subvector · every codeword, per subspace
    val lut = subs.filter(col("vec_id") % QueryMod === 0)
      .join(broadcast(codebook), "m")
      .select(col("vec_id").as("qid"), col("nrm").as("qn"), col("m"),
        col("cid"), expr("graft_dot(sub, csub)").as("part"))
    val scored = codes.join(broadcast(lut), Seq("m", "cid"))
      .filter(col("qid") =!= col("nid"))
      .groupBy("qid", "qn", "nid")
      .agg(sum("part").as("adc"), sum("cn").as("rn"))
      .filter(col("rn") > 0)
      .withColumn("cos", col("adc") / (sqrt(col("qn")) * sqrt(col("rn"))))
    val wRank = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

  /** Neighbors kept per vector by [[knnGraph]]. */
  val KnnGraphK = 5

  /** Occupancy cap for the corpus×corpus candidate groups of
    * [[knnCandidates]] — the [[Dedup.MaxDf]] analog for the vector
    * side. A fixed 8-plane bucketing leaves bucket width growing
    * linearly with the corpus, so within-bucket pairing grows
    * QUADRATICALLY (at 1M vectors ≈ 3.9k/bucket ⇒ ~3.9B scored pairs);
    * the cap bounds every candidate group, making total scored pairs ≤
    * N·cap — linear in corpus size. */
  val KnnBucketCap = 256

  /** Capped corpus×corpus candidate scoring over a bucketed vector
    * table (vec_id, q, nrm, bucket) — equi-joins only, two stages:
    *
    *  1. REFINE: buckets wider than [[KnnBucketCap]] sub-split by a
    *     second 8-plane signature (planes 8..15, same deterministic
    *     generator — recursive plane refinement), which separates
    *     vectors that share a coarse bucket but not a direction. The
    *     refined key space is disjoint from unrefined buckets
    *     (256 + b0·256 + b1 vs b0 < 256).
    *  2. SLICE (the hard bound): groups still wider than the cap —
    *     genuinely near-identical vectors no hyperplane separates, the
    *     regime where any ~cap-sized subset yields equivalent
    *     neighbors — are cut into ⌈occ/cap⌉ deterministic slices by a
    *     multiplicative hash of vec_id (the same degski-style mix the
    *     generators use; plain modulo would alias sequential ids).
    *     Slicing, not planes, is what bounds the worst case.
    *
    * Occupancy tables broadcast (≤ 256 and ≤ 65,792 rows by
    * construction). Measured at 1M planted-cluster vectors
    * ([[AnnScale]] corpus, BASELINE.md): edge precision vs the plant
    * stays ≈1.0 while scored pairs drop from quadratic to ≤ N·cap. */
  /** The refine-then-slice grouping of [[knnCandidates]], exposed so
    * [[bucketStats]] can audit the same assignment: (vec_id, q, nrm,
    * key1, slice, occ0, occ1). */
  private[operators] def slicedGroups(e: DataFrame): DataFrame = {
    val eb = e.withColumn("b1", planeBits(NumPlanes, 2 * NumPlanes))
    val occ0 = eb.groupBy("bucket").agg(count(lit(1)).as("occ0"))
    val k1 = eb.join(broadcast(occ0), "bucket")
      .withColumn("key1",
        when(col("occ0") > KnnBucketCap,
          lit(256L) + col("bucket") * lit(256L) + col("b1"))
          .otherwise(col("bucket")))
    val occ1 = k1.groupBy("key1").agg(count(lit(1)).as("occ1"))
    // slice hash is the full two-round degski mix, not a single
    // multiply: cluster members arrive with STRIDED vec_ids (every
    // c-th id), and (id·m) mod nsl aliases on strides — measured 555
    // max width vs the 256 target at 1M vectors; the xor-shift rounds
    // break the stride structure (same reason the corpus generators
    // use them)
    k1.join(broadcast(occ1), "key1")
      .withColumn("sh1", expr(
        "((vec_id % 4294967296) ^ shiftright(vec_id % 4294967296, 16))" +
          " * 73244475 % 4294967296"))
      .withColumn("sh2", expr(
        "(sh1 ^ shiftright(sh1, 16)) * 73244475 % 4294967296"))
      .withColumn("slice", expr(
        s"(sh2 ^ shiftright(sh2, 16))" +
          s" % ((occ1 + ${KnnBucketCap - 1}) div $KnnBucketCap)"))
      .drop("sh1", "sh2")
  }

  /** Target scored pairs per task for the capped pair join — sized so
    * a task's top-k sort run (~48 B/pair) stays ~100 MB, comfortably
    * in execution memory. */
  private val PairsPerTask = 2000000L

  private[operators] def knnCandidates(e: DataFrame): DataFrame = {
    // EXPLICIT partition count on the pair-join key, sized to the PAIR
    // volume, not the input volume: AQE sizes shuffle partitions by
    // INPUT bytes, but this join explodes N rows into ≤ N·cap pairs —
    // left to AQE at 200k vectors the 105 MB input coalesced to ~3
    // tasks and the pair expansion + top-k sort ran ~10× under-parallel
    // (probe: top-k 73 s → 22 s just pinning the count), and a count
    // pinned at default parallelism re-broke at 1M (per-task sort runs
    // outgrew execution memory → spill, 342 s). Σ width² over the
    // occupancy units is the exact pair count (one cheap aggregate over
    // the broadcast-sized unit table's parent); a user-specified count
    // is exempt from AQE coalescing, and both join sides derive from
    // this one table, so the join itself needs no further exchange.
    knnCandidatesFrom(
      slicedGroups(e).select("vec_id", "q", "nrm", "key1", "slice"))
  }

  /** the pair stage over an already-materialized sliced-group table —
    * the sf-dir queries hand in [[slicedCached]] so the group
    * assignment (and its codegen'd plane-dot stage) runs ONCE per
    * (session, dir), not once per consuming subquery. */
  private[operators] def knnCandidatesFrom(g0: DataFrame): DataFrame = {
    val spark = g0.sparkSession
    val estRow = g0.groupBy("key1", "slice").agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * col("n"))).head
    val pairEst = if (estRow.isNullAt(0)) 0L else estRow.getLong(0)
    val parts = math.max(spark.sparkContext.defaultParallelism.toLong,
      math.min(1024L, (pairEst + PairsPerTask - 1) / PairsPerTask)).toInt
    val sliced = g0.repartition(parts, col("key1"), col("slice"))
    val a = sliced.select(col("vec_id").as("qid"), col("q").as("qv"),
      col("nrm").as("qn"), col("key1"), col("slice"))
    val b = sliced.select(col("vec_id").as("nid"), col("q").as("cv"),
      col("nrm").as("cn"), col("key1"), col("slice"))
    a.join(b, Seq("key1", "slice"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("dot", dot("qv", "cv"))
      .withColumn("cos", cos)
      .select("key1", "slice", "qid", "nid", "cos")
  }

  /** Per-vector top-k neighbors over the capped candidate groups,
    * computed WITHOUT re-shuffling the scored pairs: every vector's
    * full candidate set lives inside its one (key1, slice) group, so a
    * window partitioned by (key1, slice, qid) is satisfied by the
    * candidate join's existing (key1, slice) partitioning — Catalyst
    * plans it with ZERO additional exchange (only a partition-LOCAL
    * sort), where a plain qid window shuffled and globally sorted all
    * N·cap scored pairs. Operator-shape note (probe-measured at 200k
    * vectors / 5.5e7 pairs): the same reduction as a
    * `collect_list`+`array_sort` aggregate forces ObjectHashAggregate,
    * which disables whole-stage codegen for its entire stage INCLUDING
    * the join and dot products — 110 s vs 2 s for the identical
    * scoring work; the window keeps the join/dot/sort codegen'd and
    * row_number streams over the sorted run. Extra partition keys
    * change nothing semantically (each qid lives in exactly one
    * group); equality with the plain-qid form is spec-pinned. */
  private[operators] def knnTopK(e: DataFrame, k: Int): DataFrame =
    knnTopKFrom(knnCandidates(e), k)

  private[operators] def knnTopKFrom(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("key1", "slice", "qid")
      .orderBy(col("cos").desc, col("nid"))
    cands
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid")
  }

  /** Session-memoized sliced-group assignment of the sf-dir corpus —
    * shared by [[knnGraph]] and [[bucketStats]]: the assignment's
    * plane-dot stage is the single most codegen-heavy expression tree
    * in the engine (16 × 64-term dot CASEs), and at sf-corpus size the
    * dominant cost is not the 2k rows but the ~0.5-1 s of generated
    * class compilation EVERY fresh subquery re-pays × 32 waiting
    * tasks (r8 bench: emb_bucket_stats spent 260+ executor-seconds on
    * a 2,000-row corpus, all compile-wait). One persisted copy makes
    * that a warmup cost paid once per session. */
  private val slicedMemo = new graft.SessionMemo[DataFrame]
  private def slicedCached(spark: SparkSession, dir: String): DataFrame =
    slicedMemo.getOrElseUpdate(spark, dir)(
      slicedGroups(bucketedCached(spark, dir)).persist())

  /** Mutual-kNN graph over the embedding corpus + label-agreement
    * summary — the neighborhood-structure probe clustering and
    * label-noise audits run (a high same-label edge share means the
    * embedding space respects the labels). Candidate pairs come from
    * [[knnCandidates]] — the occupancy-capped bucket equi-join (corpus
    * never cross-joins corpus, and no group exceeds [[KnnBucketCap]]);
    * each vector keeps its top-[[KnnGraphK]] candidate neighbors by
    * exact integer cosine, and an edge survives only if BOTH endpoints
    * keep it (mutual kNN — the standard noise filter). Windows
    * partition by vector; output is one bounded row per unordered
    * label pair. */
  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    knnGraphMemo.getOrElseUpdate(spark, dir)(
      knnGraphCompute(spark, dir).persist())

  /** The capped candidate join + mutual self-join re-ran per touch
    * (r11: 21.5 exec-s warm) — deterministic-recompute class, same
    * output-memo lifecycle as [[semMemo]]: fill on first timed touch,
    * cold pass prices the rebuild. */
  private val knnGraphMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def knnGraphCompute(spark: SparkSession, dir: String): DataFrame = {
    val knn = knnTopKFrom(knnCandidatesFrom(
      slicedCached(spark, dir).select("vec_id", "q", "nrm", "key1", "slice")),
      KnnGraphK)
    // mutual edges, canonicalized qid < nid
    val mutual = knn.filter(col("qid") < col("nid"))
      .join(knn.select(col("nid").as("qid"), col("qid").as("nid")),
        Seq("qid", "nid"))
    val labels = graft.sources.Tpch.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"))
    mutual
      .join(labels.select(col("vec_id").as("qid"), col("label").as("la")), "qid")
      .join(labels.select(col("vec_id").as("nid"), col("label").as("lb")), "nid")
      .select(least(col("la"), col("lb")).as("l1"),
        greatest(col("la"), col("lb")).as("l2"))
      .groupBy("l1", "l2").agg(count(lit(1)).as("n_edges"))
  }

  /** LSH bucket-occupancy audit — the health probe that tells an
    * operator whether the ANN/knn bucketing is load-balanced BEFORE a
    * corpus×corpus job is launched (the vector-side twin of the dedup
    * family's `dd_cluster_sizes` probe): coarse-bucket count and max
    * width, how many buckets crossed [[KnnBucketCap]] into plane
    * refinement, the refined-group count and how many of those still
    * needed hash slicing, and the largest final candidate unit — the
    * number that bounds the worst task of [[knnCandidates]]. All
    * counts are exact integers over broadcast-joined occupancy tables;
    * one bounded summary row. */
  def bucketStats(spark: SparkSession, dir: String): DataFrame =
    bucketStatsMemo.getOrElseUpdate(spark, dir)(
      bucketStatsCompute(spark, dir).persist())

  /** 9.0 exec-s warm re-run per touch in r12 — same memo policy as
    * [[classCentMemo]] (VERDICT r12 Next #1). */
  private val bucketStatsMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def bucketStatsCompute(spark: SparkSession, dir: String): DataFrame = {
    val g = slicedCached(spark, dir)
    val s0 = g.select("bucket", "occ0").distinct()
      .agg(count(lit(1)).as("n_buckets"), max("occ0").as("max_bucket"),
        count(when(col("occ0") > KnnBucketCap, lit(1))).as("refined_buckets"))
    val s1 = g.select("key1", "occ1").distinct()
      .agg(count(lit(1)).as("n_groups"),
        count(when(col("occ1") > KnnBucketCap, lit(1))).as("sliced_groups"))
    val s2 = g.groupBy("key1", "slice").agg(count(lit(1)).as("gsz"))
      .agg(count(lit(1)).as("n_units"), max("gsz").as("max_unit"))
    val n = g.agg(count(lit(1)).as("n_vectors"))
    n.crossJoin(broadcast(s0)).crossJoin(broadcast(s1))
      .crossJoin(broadcast(s2))
  }

  /** Outliers reported per label by [[embOutliers]]. */
  val OutlierTopK = 3

  /** Embedding outlier detection — the label-noise / corrupt-vector
    * audit a curation pipeline runs before training on labeled
    * embeddings: distance of each vector to its LABEL CENTROID,
    * z-scored within the label, top-[[OutlierTopK]] per label. The
    * centroid is never materialized as a float vector: the scaled
    * squared distance Σⱼ(n·xⱼ − Sⱼ)² (n = label count, Sⱼ = exact
    * integer component sum) equals n²·‖x − mean‖² in pure BIGINT
    * arithmetic, so ranking is engine-exact; only the final z-score
    * divides doubles derived from those integers. Scale shape: one
    * long-format pass for the (label, j) sums (partial-agg), one
    * partial-agg join back — state is labels × dims, corpus touches
    * the exchange only as per-vector scalars; the top-k window
    * partitions by label. */
  def embOutliers(spark: SparkSession, dir: String): DataFrame =
    outliersMemo.getOrElseUpdate(spark, dir)(
      embOutliersCompute(spark, dir).persist())

  /** 13.2 exec-s warm re-run per touch in r12 — same memo policy as
    * [[classCentMemo]] (VERDICT r12 Next #1). */
  private val outliersMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def embOutliersCompute(spark: SparkSession, dir: String): DataFrame = {
    val e = quantizedCached(spark, dir)
    val labels = graft.sources.Tpch.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val el = e.join(labels, "vec_id")
      .select(col("vec_id"), col("label"), posexplode(col("q")))
      .select(col("vec_id"), col("label"), col("pos").as("j"), col("col").as("x"))
    val stats = el.groupBy("label", "j")
      .agg(sum("x").as("s"), count(lit(1)).as("n"))
    // stats is labels × dims rows (≤ a few hundred) — without the
    // explicit hint Catalyst's post-aggregation size estimate planned a
    // SortMergeJoin that shuffled the |V|·dims exploded table (the plan
    // carried two of them, see below); broadcast keeps the distance
    // pass map-side, and the partial agg on (vec_id, label) collapses
    // each vector's dims rows before the exchange.
    // d is PERSISTED because both the per-label moments and the z-score
    // join read it and Spark does not dedupe common subtrees — uncached,
    // the explode+join+agg executed twice (half of the query's isolated
    // 11-13 cold exec-s in an r14 isolated cold profile).
    val d = el.join(broadcast(stats), Seq("label", "j"))
      .withColumn("t", col("n") * col("x") - col("s"))
      .groupBy("vec_id", "label").agg(sum(col("t") * col("t")).as("d2"))
      .persist()
    val m = d.groupBy("label").agg(
      avg(col("d2").cast("double")).as("mu"),
      avg(col("d2").cast("double") * col("d2").cast("double")).as("m2"))
    // variance guard: a single-vector or zero-variance label makes
    // m2 − mu² = 0 and the unguarded z = 0/0 = NaN, whose ordering is
    // engine-specific — emit NULL instead (NULLS LAST in the rank, same
    // clause in the oracle), so the degenerate case is engine-portable
    val varExpr = col("m2") - col("mu") * col("mu")
    val z = d.join(broadcast(m), "label")
      .withColumn("z",
        when(varExpr > 0, (col("d2") - col("mu")) / sqrt(varExpr))
          .otherwise(lit(null).cast("double")))
    val w = Window.partitionBy("label")
      .orderBy(col("z").desc_nulls_last, col("vec_id"))
    // materialize before releasing d (the memo wrapper's persist then
    // caches the tiny top-k table — same lifecycle as incrementalPairs)
    val out = z.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= OutlierTopK)
      .select(col("label"), col("rank"), col("vec_id"), col("d2"), col("z"))
      .persist()
    out.count()
    d.unpersist()
    out
  }

  private val mprobeMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  /** Multi-probe LSH ANN — [[annLsh]] plus ONE extra probe per query:
    * the bucket with the query's weakest hyperplane bit flipped
    * (smallest |plane dot| = the plane most likely to have mis-hashed
    * a true neighbor; ties to the lowest plane index, an exact integer
    * order). At 1M vectors of the [[graft.operators.AnnScale]] corpus
    * the lift measured recall@10 0.639 → 0.996 for a bounded 2×
    * candidate cost (BASELINE.md) — this is the query-surface twin at
    * the sf corpus. Still equi-joins only: the
    * probe set is two rows per query, the corpus never pairs with
    * itself. A candidate matches at most one probe (its single bucket;
    * the flip is always nonzero), so no dedup pass is needed.
    *
    * Why the QUERY path needs no occupancy cap (the knnGraph
    * refine-then-slice guard, [[knnCandidates]], does not apply
    * here): the r7 blowup was corpus×corpus — candidate volume
    * Σ_buckets |bucket|², quadratic in an over-full bucket. The query
    * path joins a FIXED probe set against the bucketed corpus, so
    * candidate volume is Σ_probes |bucket(probe)| ≤ probes × max
    * bucket ≤ probes × corpus — LINEAR in the corpus no matter how
    * skewed the buckets get; a worst-case bucket only makes a probe
    * into a partial brute-force scan, never a quadratic join. */
  def annMultiprobe(spark: SparkSession, dir: String): DataFrame =
    mprobeMemo.getOrElseUpdate(spark, dir)(annMultiprobeCompute(spark, dir).persist())

  private def annMultiprobeCompute(spark: SparkSession, dir: String): DataFrame = {
    val e = bucketedCached(spark, dir)
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("qid"), col("q").as("qv"),
        col("nrm").as("qn"), col("bucket"))
    val planeDots = (0 until NumPlanes).map { pl =>
      val weights = (0 until 64).map(j => ((pl * 73 + j * 37) % 41) - 20)
      val plane = weights.map(w => s"${w}L").mkString("array(", ", ", ")")
      expr(s"abs(graft_dot(qv, $plane))").as(s"pd$pl")
    }
    // first-index argmin over the 8 |plane dots|
    val flip = (0 until NumPlanes).map { pl =>
      val isMin = (0 until NumPlanes).filter(_ != pl).map { o =>
        if (o < pl) col(s"pd$o") > col(s"pd$pl")
        else col(s"pd$o") >= col(s"pd$pl")
      }.reduce(_ && _)
      when(isMin, lit(1L << pl)).otherwise(lit(0L))
    }.reduce(_ + _)
    val q2 = queries.select(col("qid") +: col("qv") +: col("qn") +:
        col("bucket") +: planeDots: _*)
      .withColumn("bucket", col("bucket").bitwiseXOR(flip))
      .select("qid", "qv", "qn", "bucket")
    val probes = queries.unionByName(q2)
    val cands = e.select(col("vec_id").as("nid"), col("q").as("cv"),
      col("nrm").as("cn"), col("bucket"))
    val scored = probes.join(cands, "bucket")
      .filter(col("qid") =!= col("nid"))
      .withColumn("dot", dot("qv", "cv"))
      .withColumn("cos", cos)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

  /** Matryoshka prefix lengths evaluated against the full-dim truth. */
  val MatryoshkaDims: Seq[Int] = Seq(16, 32)

  /** Matryoshka-embedding retrieval eval (Kusupati et al. 2022): how
    * much of the full-64-dim top-K survives when similarity uses only
    * the first m dims of each vector — the measurement behind
    * serve-time dimension truncation (m-dim index is m/64 the bytes
    * and FLOPs). For each m in [[MatryoshkaDims]], the same
    * broadcast-queries kernel as [[annBruteForce]] scores prefix
    * cosines (`slice(q, 1, m)` — exact integer dots on the quantized
    * prefixes), takes per-query top-K with the identical
    * (cos desc, nid) tie-break, and intersects with the full-dim
    * truth. Output: one row per m with hit count and recall@K.
    * Scale shape: inherits the ANN kernel's (queries broadcast,
    * corpus linear); both prefix levels come off ONE pass over the
    * candidate table (the m-level explode happens on the broadcast
    * side), and the final intersection joins queries×K rows.
    *
    * 100 TB contract: this is an EVAL, not a serving path — it grades
    * against the brute-force truth, so it is deliberately linear in
    * the corpus per query. At scale the query set is a SAMPLE (the
    * recall estimate is a per-query mean, so a few hundred sampled
    * queries bound the confidence interval regardless of corpus
    * size): queries broadcast, one linear corpus pass total, truth
    * graded on the sample — never all queries × all vectors. The same
    * sampled-query contract covers [[annBruteForce]] wherever it
    * serves as truth ([[annRecall]], [[matryoshkaRecall]]). */
  def matryoshkaRecall(spark: SparkSession, dir: String): DataFrame =
    matryoshkaMemo.getOrElseUpdate(spark, dir)(
      matryoshkaRecallCompute(spark, dir).persist())

  /** 15.0 exec-s warm re-run per touch in r12 — same memo policy as
    * [[classCentMemo]] (VERDICT r12 Next #1). */
  private val matryoshkaMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def matryoshkaRecallCompute(spark: SparkSession, dir: String): DataFrame = {
    val e = quantizedCached(spark, dir)
    val levels = MatryoshkaDims.map(m =>
      s"struct(${m}L AS m, slice(qv, 1, $m) AS pqv)").mkString("array(", ", ", ")")
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("qid"), col("q").as("qv"))
      .select(col("qid"), explode(expr(levels)).as("lv"))
      .select(col("qid"), col("lv.m").as("m"), col("lv.pqv").as("pqv"))
      .withColumn("qn", dot("pqv", "pqv"))
      .filter(col("qn") > 0)
    val cands = e.select(col("vec_id").as("nid"), col("q").as("cv"))
    val scored = broadcast(queries).crossJoin(cands)
      .filter(col("qid") =!= col("nid"))
      .withColumn("pcv", expr("slice(cv, 1, CAST(m AS INT))"))
      .withColumn("dot", dot("pqv", "pcv"))
      .withColumn("cn", dot("pcv", "pcv"))
      .filter(col("cn") > 0)
      .withColumn("cos", cos)
    val w = Window.partitionBy("m", "qid").orderBy(col("cos").desc, col("nid"))
    val prefixTopK = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("m"), col("qid"), col("nid"))
    val truth = annBruteForce(spark, dir).select(col("qid"), col("nid"))
    val t = truth.agg(count(lit(1)).as("n_truth"))
    prefixTopK.join(truth, Seq("qid", "nid"))
      .groupBy("m").agg(count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(t))
      .withColumn("recall", col("n_hits") / col("n_truth"))
      .select(col("m"), col("n_hits"), col("n_truth"), col("recall"))
  }
}
