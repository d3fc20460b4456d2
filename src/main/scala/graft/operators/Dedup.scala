package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import TextOps.{fpSql, toks, P}

/** Deduplication operators over the documents table: exact
  * (hash-groupBy), n-gram Jaccard via an inverted shingle index, and
  * MinHash+LSH (shingle → minhash signature → banded bucket join →
  * exact-Jaccard verify).
  *
  * The corpus has no natural duplicates, so each operator runs over a
  * deterministic dup corpus: documents ∪ a shifted copy (exact copy for
  * exact dedup; last-3-tokens-dropped variant for near-dup), ids offset
  * by 100000. The DuckDB oracle constructs the identical corpus.
  *
  * Scale design (100 TB): everything is hash-partitioned by shingle
  * fingerprint or (band, signature) — the inverted-index join is the
  * standard linear-scale path, with a document-frequency cap (df ≤ 100)
  * so stop-shingles cannot produce quadratic pair blowup; minhash
  * banding reduces candidate pairs to near-linear before the exact
  * verify. No driver-side state, no all-pairs product.
  */
object Dedup {
  val IdOffset = 100000L
  /** drop shingles appearing in more than this many docs (pair blowup guard) */
  val MaxDf = 100L
  /** Per-doc shingle-count invariant (VERDICT r14 Next #5): a doc's
    * distinct shingle count is ≤ its token count − 2, and this corpus's
    * docs are sentence-scale (TextOps.docs: comment-length text, p100
    * ≈ tens of tokens at every SF — pinned by Round15OpsSpec). Paths
    * that materialize a doc's whole shingle set as ONE array row
    * ([[prefixJaccardCompute]]'s docSets verify) ride this bound: the
    * arrays stay O(100 B) per doc, so the verify joins move less than
    * the posting re-join they replaced at any corpus scale where docs
    * stay document-sized. A corpus with multi-MB docs must chunk
    * upstream (the pipe_chunk operator exists for exactly that), NOT
    * raise this silently — a hard slice-cap here would change pair
    * results the moment it bites, so the bound is documented + spec-
    * pinned rather than enforced lossily. */
  val DocShinglesSoftBound = 512L
  val Tau = 0.5

  /** documents ∪ exact copy (ids + offset) */
  def exactCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = TextOps.docs(spark, dir).select(col("doc_id"), col("text"))
    d.unionAll(d.select(col("doc_id") + IdOffset, col("text")))
  }

  /** documents ∪ near-dup variant (last 3 tokens dropped, ids + offset) */
  def nearCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = TextOps.docs(spark, dir).select(col("doc_id"), col("text"))
    val variant = d.select((col("doc_id") + IdOffset).as("doc_id"),
      array_join(slice(toks(col("text")), lit(1),
        greatest(size(toks(col("text"))) - 3, lit(1))), " ").as("text"))
    d.unionAll(variant)
  }

  /** Exact dedup: group by content fingerprint, keep min id. */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    exactCorpus(spark, dir)
      .select(col("doc_id"), expr(fpSql("text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
  }

  /** distinct (doc_id, 3-token-shingle fingerprint) postings, UNCAPPED
    * — the raw inverted-index rows a maintained index stores
    * ([[graft.operators.DedupStream]]'s persisted base table). */
  def rawPostings(corpus: DataFrame): DataFrame =
    corpus
      .withColumn("t", toks(col("text")))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        explode(expr("transform(sequence(0, size(t) - 3), k -> concat(t[k], ' ', t[k+1], ' ', t[k+2]))")).as("sh"))
      .select(col("doc_id"), expr(fpSql("sh")).as("sfp"))
      .distinct()

  /** distinct (doc_id, shingle-fingerprint) pairs, df-capped. */
  def shingles(corpus: DataFrame): DataFrame = {
    val sh = rawPostings(corpus)
    val df = sh.groupBy("sfp").agg(count(lit(1)).as("df"))
    // reused by signatures, sizes and pair verification — persist once
    sh.join(df.filter(col("df") <= MaxDf).select("sfp"), "sfp").persist()
  }

  /** Both near-dup operators (ngram Jaccard, MinHash LSH) start from
    * the same df-capped shingle table — memoize it per (session, dir)
    * so a Verify/Bench run builds it once (evicted on session end).
    * The UNCAPPED df sidecar rides along in the same entry: it is the
    * other half of a maintained index ([[streamBatchPairs]] needs the
    * over-cap keys' true counts to cap union df correctly), and the
    * one aggregation that produces it is already on the capped table's
    * own build path — two cached outputs, one computation. */
  private val shMemo = new graft.SessionMemo[(DataFrame, DataFrame)]
  private[operators] def nearShinglesWithDf(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    shMemo.getOrElseUpdate(spark, dir) {
      val sh = rawPostings(nearCorpus(spark, dir))
      val df = sh.groupBy("sfp").agg(count(lit(1)).as("df")).persist()
      val capped = sh
        .join(df.filter(col("df") <= MaxDf).select("sfp"), "sfp").persist()
      (capped, df)
    }
  private[operators] def nearShingles(spark: SparkSession, dir: String): DataFrame =
    nearShinglesWithDf(spark, dir)._1

  /** Jaccard from per-pair intersection counts: attach sizes, keep ≥ τ. */
  private[operators] def jaccard(sh: DataFrame, inter: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("nsh").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("nsh").as("nb")), "b")
      .withColumn("jacc", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jacc") >= Tau)
      .select(col("a"), col("b"), col("jacc"))
  }

  /** Exact Jaccard over ALL pairs sharing ≥1 surviving shingle — the
    * inverted-index path (linear in Σ df², bounded by the df cap). */
  private def verifiedPairs(sh: DataFrame): DataFrame =
    jaccard(sh,
      sh.select(col("doc_id").as("a"), col("sfp"))
        .join(sh.select(col("doc_id").as("b"), col("sfp")), "sfp")
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("inter")))

  /** Exact Jaccard over an EXPLICIT candidate set: candidates join to
    * each side's shingle set and shared fingerprints are counted per
    * pair — cost |cand| × shingles/doc. The r2 form semi-joined the
    * full inverted-index pair expansion instead, paying the exact cost
    * LSH exists to avoid; this shape keeps the verify proportional to
    * what the banding admitted. */
  private[graft] def scoreCandidates(sh: DataFrame, cand: DataFrame): DataFrame =
    jaccard(sh,
      cand
        .join(sh.select(col("doc_id").as("a"), col("sfp")), "a")
        .join(sh.select(col("doc_id").as("b"), col("sfp")), Seq("b", "sfp"))
        .groupBy("a", "b").agg(count(lit(1)).as("inter")))

  /** n-gram Jaccard near-dup: inverted-index pair generation + exact
    * Jaccard ≥ τ (every pair sharing ≥1 surviving shingle is scored). */
  /** verified pairs are memoized (and persisted) like the shingle
    * table: both the pair query and cluster canonicalization consume
    * them, and pair generation is the expensive half. */
  private val pairsMemo = new graft.SessionMemo[DataFrame](outputMemo = true)
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    pairsMemo.getOrElseUpdate(spark, dir)(
      verifiedPairs(nearShingles(spark, dir)).persist())
  }

  /** Containment threshold: inter / min(|a|, |b|) — the asymmetric
    * near-dup test Jaccard misses: a short document quoted wholesale
    * inside a long one has tiny Jaccard but containment ≈ 1. */
  val ContainTau = 0.8
  private val containMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  /** Shingle containment near-dup (quote/subset detection): same
    * df-capped inverted index and pair expansion as [[ngramJaccard]] —
    * the only change is the denominator, so the scale story (bounded
    * Σdf² pair blowup, exact verify on survivors) is inherited
    * unchanged. */
  def containmentDup(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    containMemo.getOrElseUpdate(spark, dir) {
      val sh = nearShingles(spark, dir)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
      sh.select(col("doc_id").as("a"), col("sfp"))
        .join(sh.select(col("doc_id").as("b"), col("sfp")), "sfp")
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("a"), col("nsh").as("na")), "a")
        .join(sizes.select(col("doc_id").as("b"), col("nsh").as("nb")), "b")
        .withColumn("containment", col("inter") / least(col("na"), col("nb")))
        .filter(col("containment") >= ContainTau)
        .select(col("a"), col("b"), col("containment"))
        .persist()
    }
  }

  /** Prefix-filtered set-similarity join (AllPairs/PPJoin family,
    * Bayardo et al. WWW'07): each document indexes only its PREFIX —
    * the |s| − ⌈τ|s|⌉ + 1 globally-rarest shingles (global order =
    * (df asc, sfp asc)) — and two documents become a candidate only if
    * their prefixes share a shingle. For J(a,b) ≥ τ the intersection
    * is ≥ ⌈τ|a|⌉ and ≥ ⌈τ|b|⌉, so the globally-smallest shared
    * shingle must sit in BOTH prefixes — the pruning is LOSSLESS, and
    * this query's oracle is deliberately the plain inverted-index
    * ngram-Jaccard twin: the hash equality IS the losslessness proof
    * (same trick as `dd_incremental`). At 100 TB prefix filtering is
    * the published way to run a similarity self-join without the full
    * Σdf² pair expansion: the index holds ~half of each posting and
    * candidates shrink superlinearly as τ grows; the exact verify then
    * touches candidates only ([[scoreCandidates]]). */
  /** memoized like [[ngramJaccard]]: the output is tiny and the bench
    * median should measure steady-state, not a third recompute. */
  private val prefixMemo = new graft.SessionMemo[DataFrame](outputMemo = true)
  def prefixJaccard(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    prefixMemo.getOrElseUpdate(spark, dir)(
      prefixJaccardCompute(spark, dir).persist())
  }

  private def prefixJaccardCompute(spark: SparkSession, dir: String): DataFrame = {
    val sh = nearShingles(spark, dir)
    val df = sh.groupBy("sfp").agg(count(lit(1)).as("df"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "sfp")
    // prefix length for τ = 1/2: n − ⌈n/2⌉ + 1, pure integer.
    // PERSISTED: the candidate self-join references the prefix index
    // twice and Spark does not dedupe common subtrees, so without the
    // persist the window sort (the compute's most expensive stage —
    // one total shuffle+sort of the shingle⋈df table) and both joins
    // under it executed once PER SIDE (r14 isolated cold profile: 328 exec-s cold,
    // 24× the plain inverted-index twin; the plan carried two Window
    // operators over identical input).
    val pref = sh.join(df, "sfp")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .join(sizes, "doc_id")
      .filter(col("rnk") <= col("nsh") - expr("(nsh + 1) div 2") + 1)
      .select("doc_id", "sfp", "nsh")
      .persist()
    // EAGER fill: the self-join's two map stages are independent and
    // run concurrently — against an unfilled cache each would compute
    // the full window lineage anyway (measured: persist alone left the
    // cold cost at ~328 exec-s; the fill must complete first)
    pref.count()
    // candidate pair must collide in both prefixes AND pass the PPJoin
    // length filter: J ≥ 1/2 forces 2·min(|a|,|b|) ≥ max(|a|,|b|) —
    // the integer compare kills mismatched sizes before the (more
    // expensive) exact-verify join
    val cand = pref.select(col("doc_id").as("a"), col("sfp"), col("nsh").as("na"))
      .join(pref.select(col("doc_id").as("b"), col("sfp"), col("nsh").as("nb")), "sfp")
      .filter(col("a") < col("b"))
      .filter(lit(2) * least(col("na"), col("nb")) >=
        greatest(col("na"), col("nb")))
      .select("a", "b").distinct()
    // Exact verify by SET ATTACH, not posting re-join: the candidate
    // set here is prefix-collision-bounded but NOT intersection-
    // complete (a shared non-prefix key produces no collision), so the
    // probe family's collision-count trick does not apply — and the
    // posting re-join exploded 1.17M candidates × ~50 shingles/doc into
    // a 78.6M-row exchange (r14 phase-split profile: 310-335 of the rebuild's
    // ~520 exec-s). Attaching each side's whole shingle set as ONE
    // array row (docs × ~50 longs — a bounded per-doc payload at any
    // scale; the df cap bounds pair fan-out, doc length bounds the
    // array) moves 67× fewer rows through the verify joins and computes
    // the intersection with a codegen array_intersect per pair.
    // `inter` is the same exact integer; jacc is the same one division.
    val docSets = sh.groupBy("doc_id")
      .agg(collect_list(col("sfp")).as("set"), count(lit(1)).as("nsh"))
    val pairs = cand
      .join(docSets.select(col("doc_id").as("a"),
        col("set").as("sa"), col("nsh").as("na")), "a")
      .join(docSets.select(col("doc_id").as("b"),
        col("set").as("sb"), col("nsh").as("nb")), "b")
      .withColumn("inter",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jacc", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jacc") >= Tau)
      .select(col("a"), col("b"), col("jacc"))
      .persist()
    // materialize before releasing the prefix index (the memo wrapper's
    // own persist then caches the small pair table, same lifecycle as
    // [[incrementalPairs]])
    pairs.count()
    pref.unpersist()
    pairs
  }

  /** candidate-set sizes (prefix-filtered vs full inverted index) —
    * exposed so the spec can pin that the pruning actually prunes. */
  private[graft] def prefixCandidateCounts(spark: SparkSession,
      dir: String): (Long, Long) = {
    TextOps.ensureRegistered(spark)
    val sh = nearShingles(spark, dir)
    val df = sh.groupBy("sfp").agg(count(lit(1)).as("df"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "sfp")
    val pref = sh.join(df, "sfp")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .join(sizes, "doc_id")
      .filter(col("rnk") <= col("nsh") - expr("(nsh + 1) div 2") + 1)
      .select("doc_id", "sfp")
    def pairs(t: DataFrame) = t.select(col("doc_id").as("a"), col("sfp"))
      .join(t.select(col("doc_id").as("b"), col("sfp")), "sfp")
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    (pairs(pref), pairs(sh))
  }

  /** MinHash parameters: h_i(x) = (a_i·x + b_i) mod P, 16 hashes in 4
    * bands of 4. */
  val NumHashes = 16
  val BandSize = 4

  /** rounds of min-propagation over the pair graph (dup chains in this
    * corpus are short; the oracle unrolls the same bound) */
  val ClusterIters = 3

  /** Dedup-cluster canonicalization — the step a production pipeline
    * runs AFTER pair generation: pairs only say "a ~ b"; connected
    * components over the pair graph + min-id canonicalization decide
    * which documents survive. Reuses the bounded min-propagation
    * operator ([[Iterative.iterateMin]]) over the verified
    * ngram-Jaccard pairs; output is the drop list (doc → canonical
    * keeper, canonical rows omitted). */
  /** The drop list is memoized like the pair table: the cluster query
    * and the curation pipeline consume the identical computation (three
    * checkpointed min-propagation rounds) in one session — r3 paid for
    * it twice (pipe_curation 15.4 s, mostly this recompute). */
  private val clustersMemo = new graft.SessionMemo[DataFrame](outputMemo = true)
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clustersMemo.getOrElseUpdate(spark, dir) {
      val pairs = ngramJaccard(spark, dir).select(col("a"), col("b"))
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
      val v = edges.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label"))
      Iterative.iterateMin(v, edges, ClusterIters, 0L)
        .filter(col("label") < col("node"))
        .select(col("node").as("doc_id"), col("label").as("canonical"))
        .persist()
    }

  /** Near-dup cluster SIZE DISTRIBUTION — the dedup health dashboard
    * number ("how much of the corpus sits in how-big duplicate
    * groups"): one partial-aggregable groupBy pyramid over the
    * memoized cluster table. Cluster size counts the canonical member
    * (+1: [[dedupClusters]] lists non-canonical members only). */
  def clusterSizes(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(spark, dir)
      .groupBy("canonical").agg((count(lit(1)) + 1).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))

  /** LSH recall/precision probe — the self-quantifying check every
    * sketch family here carries (`ann_recall`, `q08_hll_distinct`,
    * `q19_sample_quantiles`): MinHash-LSH candidate pairs measured
    * against the exact n-gram-Jaccard pairs, both read from their
    * session memos. Counts are exact integers; the two ratios are one
    * double division each over the same BIGINTs on both engines. */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = ngramJaccard(spark, dir).select("a", "b")
    val lsh = minhashLsh(spark, dir).select("a", "b")
    val hits = exact.join(lsh, Seq("a", "b"), "left_semi")
    exact.select(lit(1L).as("e"), lit(0L).as("l"), lit(0L).as("h"))
      .unionAll(lsh.select(lit(0L).as("e"), lit(1L).as("l"), lit(0L).as("h")))
      .unionAll(hits.select(lit(0L).as("e"), lit(0L).as("l"), lit(1L).as("h")))
      .agg(sum("e").as("n_exact"), sum("l").as("n_lsh"), sum("h").as("n_hit"))
      .select(col("n_exact"), col("n_lsh"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact")).as("recall"),
        (col("n_hit").cast("double") / col("n_lsh")).as("precision"))
  }

  /** SimHash banding: a [[SimBits]]-bit signature split into
    * [[SimBands]] bands of [[SimBandBits]]; pairs sharing any band
    * bucket are candidates, kept if hamming ≤ MaxHam. The shingle
    * fingerprint is only ~30 bits (mod 1e9+7), so it is spread over
    * the full signature width by a multiplicative rehash
    * ([[SimRehashMul]], Knuth's constant — exact BIGINT arithmetic in
    * both engines: fp < 2³⁰ × mul < 2³² stays under 2⁶³). */
  val SimBits = 40
  val SimBands = 4
  val SimBandBits = 10
  val SimRehashMul = 2654435761L
  val MaxHam = 8
  /** drop band buckets holding more than this many docs — the
    * band-join twin of [[MaxDf]]: a popular band value (a natural
    * cluster of near-identical signatures) otherwise degenerates to
    * quadratic pairs within its bucket. The r3 geometry (3 bands,
    * cap 100) admitted 3·1024·C(100,2) ≈ 15M candidate pairs; 4 bands
    * with cap 32 bound the same corpus at 4·1024·C(32,2) ≈ 2M while
    * the extra band keeps recall (a near-dup lost to one hot band has
    * three more chances to collide). Mirrored in the oracle. */
  val MaxBucket = 32L

  /** SimHash-banded near-dup: the third dedup family (after shingle
    * Jaccard and MinHash) — a 30-bit signature per document, banded so
    * near-identical signatures collide in at least one 10-bit bucket.
    * Candidate generation is an equi-join on (band, bits) — near-linear,
    * no all-pairs product — and verification is one bit_count(xor) per
    * candidate pair.
    *
    * The signature is computed over SHINGLE fingerprints, not token
    * fingerprints: this corpus draws every document from a ~31-word
    * vocabulary, so token-level simhashes all collapse toward the same
    * signature and the band join degenerates to quadratic; 3-gram
    * shingles are drawn from a combinatorially larger space, which
    * spreads unrelated documents across buckets while near-dups (a few
    * shingles changed) still land within MaxHam bits. */
  /** The signature table (one row per doc: doc_id, simhash) feeds the
    * band explode AND both sides of the hamming verify — unpersisted,
    * the 40-column sign-sum aggregation over the shingle table ran 3×
    * per execution (r4's top bench spender). Tiny table; memoized like
    * [[nearShingles]], evicted on session end. */
  private val simMemo = new graft.SessionMemo[DataFrame]
  private def simSignatures(spark: SparkSession, dir: String): DataFrame =
    simMemo.getOrElseUpdate(spark, dir) {
      // rehash spreads the ~30-bit fp across all SimBits signature bits
      val sh = nearShingles(spark, dir)
        .select(col("doc_id"),
          expr(s"(sfp * $SimRehashMul) % ${1L << SimBits}").as("rfp"))
      // all SimBits per-bit sign sums in one aggregation (cf. minhashLsh)
      val bitCols = (0 until SimBits).map { j =>
        sum(when(expr(s"(shiftright(rfp, $j) & 1)") === 1, 1).otherwise(-1))
          .as(s"s$j")
      }
      val simExpr = (0 until SimBits)
        .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString("CAST(", " + ", " AS BIGINT)")
      sh.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
        .select(col("doc_id"), expr(simExpr).as("simhash"))
        .persist()
    }

  /** Pair outputs are small (near-dup survivors only) and consumed on
    * every bench repetition — memoized like [[ngramJaccard]]'s. */
  private val simPairsMemo = new graft.SessionMemo[DataFrame](outputMemo = true)
  private val lshPairsMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  def simhashDup(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    simPairsMemo.getOrElseUpdate(spark, dir)(simhashDupCompute(spark, dir).persist())
  }

  private def simhashDupCompute(spark: SparkSession, dir: String): DataFrame = {
    val sim = simSignatures(spark, dir)
    val bands = sim.select(col("doc_id"), explode(array(
      (0 until SimBands).map { b =>
        struct(lit(b).as("band"),
          expr(s"(simhash >> ${SimBandBits * b}) & ${(1 << SimBandBits) - 1}")
            .as("bits"))
      }: _*)).as("p"))
      .select(col("doc_id"), col("p.band").as("band"), col("p.bits").as("bits"))
    // hot-bucket guard: count docs per (band, bits) and drop buckets
    // over MaxBucket before the self-join
    val okBuckets = bands.groupBy("band", "bits")
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= MaxBucket)
      .select("band", "bits")
    val capped = bands.join(okBuckets, Seq("band", "bits"))
    val cand = capped.select(col("doc_id").as("a"), col("band"), col("bits"))
      .join(capped.select(col("doc_id").as("b"), col("band"), col("bits")),
        Seq("band", "bits"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    cand
      .join(sim.select(col("doc_id").as("a"), col("simhash").as("ha")), "a")
      .join(sim.select(col("doc_id").as("b"), col("simhash").as("hb")), "b")
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= MaxHam)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** MinHash+LSH: signature → banded bucket join → candidates → exact
    * Jaccard verify. Candidate generation is near-linear (equi-join on
    * (band, sig₀..sig₃)), the scalable path at corpus scale. */
  /** Banded minhash signatures (4 small rows per doc) feed both sides
    * of the candidate self-join — unpersisted, the 16-min aggregation
    * over the shingle table ran twice per execution. Memoized like
    * [[simSignatures]]. */
  private val mhBandsMemo = new graft.SessionMemo[DataFrame]
  private def minhashBands(spark: SparkSession, dir: String): DataFrame =
    mhBandsMemo.getOrElseUpdate(spark, dir)(
      bandsOf(nearShingles(spark, dir)).persist())

  /** Banded minhash signature rows over an arbitrary df-capped shingle
    * table — all 16 minhashes in ONE aggregation over the shingle table
    * (the hash index i is a compile-time constant per column): an
    * explode(0..15) long format would push 16× the rows through the
    * shuffle for the same 16 mins. */
  private[operators] def bandsOf(sh: DataFrame): DataFrame = {
    val mhCols = (0 until NumHashes).map { i =>
      min(expr(s"((${1 + 7919 * i}) * sfp + ${104729 * i}) % $P")).as(s"mh$i")
    }
    val mh = sh.groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
    mh.select(col("doc_id"), explode(array(
      (0 until NumHashes / BandSize).map { b =>
        struct(lit(b).as("band"),
          col(s"mh${BandSize * b}").as("s0"),
          col(s"mh${BandSize * b + 1}").as("s1"),
          col(s"mh${BandSize * b + 2}").as("s2"),
          col(s"mh${BandSize * b + 3}").as("s3"))
      }: _*)).as("p"))
      .select(col("doc_id"), col("p.band").as("band"), col("p.s0").as("s0"),
        col("p.s1").as("s1"), col("p.s2").as("s2"), col("p.s3").as("s3"))
  }

  /** The full MinHash+LSH near-dup pipeline over an ARBITRARY
    * (doc_id, text) corpus — signatures, banded candidate join, exact
    * Jaccard verify — with no per-(session, dir) memoization; the
    * caller owns the lifecycle (LlmScaleSpec grades it on the
    * [[graft.operators.DedupScale]] corpus); the sf-dir operator
    * [[minhashLsh]] composes the same pieces around session memos.
    * Callers must [[TextOps.ensureRegistered]] first. The returned
    * plan reads the shingle table (persisted inside [[shingles]])
    * several times; unpersist the handles in the second element when
    * done. The bands table is NOT persisted: its self-join's two arms
    * share one exchange (Spark's exchange reuse deduplicates the
    * 16-minhash aggregation), and an explicit persist measured
    * neutral-to-negative at 1M docs. */
  def minhashLshOf(corpus: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val sh = shingles(corpus)
    val bands = bandsOf(sh)
    val cand = bands.select(col("doc_id").as("a"), col("band"), col("s0"), col("s1"), col("s2"), col("s3"))
      .join(bands.select(col("doc_id").as("b"), col("band"), col("s0"), col("s1"), col("s2"), col("s3")),
        Seq("band", "s0", "s1", "s2", "s3"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    (scoreCandidates(sh, cand), Seq(sh, bands))
  }

  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    lshPairsMemo.getOrElseUpdate(spark, dir)(minhashLshCompute(spark, dir).persist())
  }

  private def minhashLshCompute(spark: SparkSession, dir: String): DataFrame = {
    val sh = nearShingles(spark, dir)
    val bands = minhashBands(spark, dir)
    val cand = bands.select(col("doc_id").as("a"), col("band"), col("s0"), col("s1"), col("s2"), col("s3"))
      .join(bands.select(col("doc_id").as("b"), col("band"), col("s0"), col("s1"), col("s2"), col("s3")),
        Seq("band", "s0", "s1", "s2", "s3"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    scoreCandidates(sh, cand)
  }

  /** b-bit minhash (Li & König, CACM 2011): keep only the LOWEST BIT
    * of each of the [[NumHashes]] minhashes — a 64× storage cut vs
    * 64-bit registers — and estimate Jaccard from the bit-match rate.
    * For b=1, Pr[bit match] = (1+J)/2 under the random-permutation
    * model, so Ĵ = 2·m/k − 1. This is the sketch a 100 TB dedup
    * index actually ships between stages: 16 bits/doc instead of
    * 16 longs, at the price of variance the audit below makes
    * visible. Output is PER VERIFIED PAIR (pair-table-sized, never
    * corpus-sized): exact Jaccard, matching-bit count (exact int),
    * the b-bit estimate (exact: (2·m−k)/k with k a power of two),
    * and |Ĵ−J| — the error curve a capacity planner reads before
    * swapping full signatures for bits.
    *
    * Scale shape: the signature aggregation is the SAME single
    * groupBy pass [[bandsOf]] runs (16 mins as compile-time columns);
    * bits then join onto the verified pair table twice — pair-table-
    * sized probes against a 1-row-per-doc sketch, no new corpus
    * shuffle. */
  def bbitMinhash(spark: SparkSession, dir: String): DataFrame =
    bbitMemo.getOrElseUpdate(spark, dir)(
      bbitMinhashCompute(spark, dir).persist())

  /** 11.8 exec-s warm re-run per touch in r12 — same output-memo
    * lifecycle as [[pairsMemo]]: fill on first timed touch, cold pass
    * prices the rebuild (VERDICT r12 Next #1). */
  private val bbitMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def bbitMinhashCompute(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    val sh = nearShingles(spark, dir)
    val mhCols = (0 until NumHashes).map { i =>
      min(expr(s"((${1 + 7919 * i}) * sfp + ${104729 * i}) % $P")).as(s"mh$i")
    }
    val bits = sh.groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
      .select(col("doc_id") +:
        (0 until NumHashes).map(i => (col(s"mh$i") % 2).as(s"b$i")): _*)
    val matchExpr = (0 until NumHashes)
      .map(i => when(col(s"a_b$i") === col(s"b_b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    def side(p: String) = bits.select(
      col("doc_id").as(p) +:
        (0 until NumHashes).map(i => col(s"b$i").as(s"${p}_b$i")): _*)
    minhashLsh(spark, dir).select("a", "b", "jacc")
      .join(side("a"), "a")
      .join(side("b"), "b")
      .withColumn("n_match", matchExpr)
      .withColumn("j_est",
        (lit(2L) * col("n_match") - lit(NumHashes.toLong)).cast("double")
          / lit(NumHashes.toDouble))
      .select(col("a"), col("b"), col("jacc"), col("n_match"), col("j_est"),
        abs(col("j_est") - col("jacc")).as("abs_err"))
  }

  /** LSH banding sweep — the empirical S-curve P[detected | J] that a
    * capacity planner reads BEFORE fixing bands×rows: the same 16
    * minhash registers grouped three ways (2 bands × 8 rows, 4×4 —
    * the production config — and 8×2), each evaluated against ground
    * truth (the exact-Jaccard verified pairs), bucketed by Jaccard
    * decile. More rows per band sharpens the S-curve threshold
    * (fewer false candidates, more misses below it); more bands
    * shifts it left. The table makes the trade measurable on the
    * corpus itself instead of trusted from the 1−(1−J^r)^b formula.
    *
    * Scale shape: the signature aggregation is the one [[bandsOf]]
    * pass; detection per config is a codegen boolean over the joined
    * signature columns (no explode — register index is compile-time);
    * output is ≤ configs × 11 rows of exact integers.
    *
    * SINGLE PASS over the joined pair table (VERDICT r11 Wrong #1):
    * the first cut built one select per config over the same `pairs`
    * subtree and unioned them, trusting exchange reuse to deduplicate
    * the sig groupBy + double pair join — it didn't fully fire, so
    * the subtree ran 3× (steady exec 22.7-28.0 s, cold 137.9 s for a
    * 15-row output). Now all three detection booleans are columns of
    * ONE projection, aggregated as three conditional sums per decile
    * and unpivoted with `stack` — same rows, ~⅓ the work, and the
    * plan provably contains one sig-join subtree. Output-memoized
    * like its pair-table peers (fill on first timed touch; the cold
    * pass prices the single-pass rebuild). */
  def bandSweep(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    sweepMemo.getOrElseUpdate(spark, dir)(bandSweepCompute(spark, dir).persist())
  }

  private val sweepMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def bandSweepCompute(spark: SparkSession, dir: String): DataFrame = {
    val sh = nearShingles(spark, dir)
    val mhCols = (0 until NumHashes).map { i =>
      min(expr(s"((${1 + 7919 * i}) * sfp + ${104729 * i}) % $P")).as(s"mh$i")
    }
    // both pair sides probe the signature table; materialize the
    // 16-min aggregation ONCE (tiny: one row per doc) instead of
    // trusting exchange reuse to deduplicate it across the two probes
    // (the r12 cold measurement said it doesn't: ~30 exec-s per extra
    // aggregation over the shingle table)
    val sig = sh.groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
      .localCheckpoint(true)
    // A cold-mode bypass rebuilds this checkpoint fresh; the top-level
    // drain only sees the outer frame, so the inner sig blocks would
    // leak until GC (ADVICE r12). Register it explicitly — site-local
    // rather than a drain-side plan walk, because walking a rebuilt
    // plan for LogicalRDDs would also catch SHARED input-layer
    // checkpoints whose blocks are their only copy.
    if (graft.SessionMemo.coldMode) graft.SessionMemo.coldOrphans.add(sig)
    def side(p: String) = sig.select(
      col("doc_id").as(p) +:
        (0 until NumHashes).map(i => col(s"mh$i").as(s"${p}_mh$i")): _*)
    val pairs = ngramJaccard(spark, dir).select("a", "b", "jacc")
      .join(side("a"), "a")
      .join(side("b"), "b")
    val configs = Seq(2 -> 8, 4 -> 4, 8 -> 2)
    val detCols = configs.map { case (bnds, rws) =>
      val det = (0 until bnds).map { g =>
        (g * rws until (g + 1) * rws)
          .map(i => col(s"a_mh$i") === col(s"b_mh$i"))
          .reduce(_ && _)
      }.reduce(_ || _)
      when(det, 1L).otherwise(0L).as(s"det_b${bnds}r$rws")
    }
    val stackArgs = configs
      .map { case (b, r) => s"'b${b}r$r', s_b${b}r$r" }.mkString(", ")
    pairs
      .select(floor(col("jacc") * 10).cast("long").as("j_decile") +: detCols: _*)
      .groupBy("j_decile")
      .agg(count(lit(1)).as("n_pairs"),
        configs.map { case (b, r) =>
          sum(s"det_b${b}r$r").as(s"s_b${b}r$r") }: _*)
      .selectExpr("j_decile", "n_pairs",
        s"stack(${configs.size}, $stackArgs) as (config, n_detected)")
      .select("config", "j_decile", "n_pairs", "n_detected")
  }

  /** Freshly-arrived delta corpus: head-trimmed variants (FIRST two
    * tokens dropped — distinct from [[nearCorpus]]'s tail-dropped
    * variant) of every tenth document, ids offset by 2·[[IdOffset]].
    * Stands in for "today's crawl": a delta much smaller than the
    * indexed base, which is the regime incremental dedup exists for —
    * probe cost scales with DELTA postings, and a delta the size of
    * the base is just a batch job. */
  def deltaCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = TextOps.docs(spark, dir).select(col("doc_id"), col("text"))
      .filter(pmod(col("doc_id"), lit(10L)) === 0)
    d.select((col("doc_id") + 2 * IdOffset).as("doc_id"),
      array_join(slice(TextOps.toks(col("text")), lit(3),
        greatest(size(TextOps.toks(col("text"))) - 2, lit(1))), " ").as("text"))
  }

  /** Incremental near-dup detection: candidate pairs generate from the
    * DELTA documents' postings only — the base corpus's inverted index
    * is probed, never self-joined. This is the shape that makes
    * continuous dedup practical at 100 TB: daily work is
    * O(delta postings · df), independent of base self-join cost, while
    * results are provably the full-recompute pairs restricted to
    * pairs touching a delta doc (same candidates: any such pair shares
    * a surviving shingle with the delta side; same df cap: document
    * frequency is computed over base ∪ delta, exactly as a maintained
    * index would hold it; same verify). The oracle IS the full
    * recompute, filtered — the hash equality proves incremental ≡
    * batch. */
  private val incPairsMemo = new graft.SessionMemo[DataFrame](outputMemo = true)
  def incrementalPairs(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    incPairsMemo.getOrElseUpdate(spark, dir) {
      // the union shingle table (largest intermediate of the family) is
      // persisted only while the scored pairs materialize, then released
      // — only the small pair output stays pinned for the session
      val sh = shingles(nearCorpus(spark, dir).unionAll(deltaCorpus(spark, dir)))
      val delta = sh.filter(col("doc_id") >= 2 * IdOffset)
      // Every pair here contains a DELTA doc, so a pair's shared keys
      // are all delta keys — the candidate join already enumerates the
      // FULL intersection, one collision row per shared key. Counting
      // collisions per (a, b) replaces the r13 shape's distinct +
      // two-sided re-join verify (the probe family's dominant cost:
      // 434k candidate rows re-expanded against the posting table —
      // guide §2.3 "aggregate before you shuffle"). Delta↔delta pairs
      // collide in both orientations; x < y keeps exactly one.
      val inter = delta.select(col("doc_id").as("x"), col("sfp"))
        .join(sh.select(col("doc_id").as("y"), col("sfp")), "sfp")
        .filter(col("x") =!= col("y") &&
          (col("y") < 2 * IdOffset || col("x") < col("y")))
        .groupBy(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"))
        .agg(count(lit(1)).as("inter"))
      val pairs = jaccard(sh, inter).persist()
      pairs.count() // materialize before releasing the shingle cache
      sh.unpersist()
      pairs
    }
  }

  /** The maintained-index form of [[incrementalPairs]], via
    * [[graft.operators.DedupStream.batchPairs]]: the base corpus's
    * CAPPED posting table + uncapped df sidecar (what a production
    * index persists — the same two tables [[DedupShard.buildIndex]]
    * lays out as parquet) probed by the delta slice, df and scoring
    * sizes reconstituted as base+delta. Both index tables are the
    * session's shared input-layer shingle memo
    * ([[nearShinglesWithDf]]) — the index is long-lived state, only
    * the delta's probe recurs, the same input/output split
    * `dd_shard_probe` already draws (its parquet index is an
    * input-layer memo; only the probe is cold-priced). Result is
    * provably identical to the union recompute — the oracle is the
    * SAME SQL as `dd_incremental`, so the gate hash-proves the
    * maintained-index split against DuckDB's one-shot computation
    * every run. */
  private val streamBatchMemo = new graft.SessionMemo[DataFrame](outputMemo = true)
  def streamBatchPairs(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    streamBatchMemo.getOrElseUpdate(spark, dir) {
      val (baseCapped, baseDf) = nearShinglesWithDf(spark, dir)
      val pairs = DedupStream.batchPairs(baseCapped, baseDf,
        deltaCorpus(spark, dir)).persist()
      pairs.count() // materialize before draining the batch handles
      DedupStream.drainBatchHandles()
      pairs
    }
  }

  /** Normalization-aware exact dedup: canonicalize text (lowercase,
    * collapse whitespace runs) BEFORE fingerprinting, and report the
    * duplicate groups that ONLY normalization finds (raw fingerprints
    * all distinct inside the group). This is the cheap canonical-form
    * pass every exact-dedup pipeline runs first — same single
    * partial-agg groupBy shape as [[exact]], one extra codegen'd
    * string pass, no new shuffle. The probe corpus doubles each doc
    * with an UPPERCASED, whitespace-padded variant (ids +IdOffset) so
    * the operator has real work to find. */
  def exactNormalized(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    val d = TextOps.docs(spark, dir).select(col("doc_id"), col("text"))
    val variant = d.select((col("doc_id") + IdOffset).as("doc_id"),
      concat(lit("  "), upper(col("text")), lit(" ")).as("text"))
    val corpus = d.unionAll(variant)
      .withColumn("norm",
        array_join(TextOps.toks(lower(col("text"))), " "))
      .select(col("doc_id"), expr(TextOps.fpSql("text")).as("raw_fp"),
        expr(TextOps.fpSql("norm")).as("norm_fp"))
    corpus.groupBy("norm_fp")
      .agg(count(lit(1)).as("n"), countDistinct("raw_fp").as("n_raw"),
        min("doc_id").as("keeper"))
      .filter(col("n") > 1 && col("n_raw") === col("n")) // normalization-only groups
  }

  /** Token window for exact-substring duplication. */
  val SubstrK = 8

  /** Cross-document exact-substring duplication (the ExactSubstr
    * pass of "Deduplicating Training Data Makes Language Models
    * Better", Lee et al. 2021, re-shaped for Spark): every sliding
    * [[SubstrK]]-token window fingerprints to a long, windows seen in
    * ≥2 distinct documents are "duplicated substrings", and each doc
    * reports how much of it is covered by such spans.
    *
    * The suffix-array the paper builds is a single-machine structure;
    * the distributed shape is fingerprint-groupBy: explode windows →
    * polyhash (longs, not strings, cross the shuffle) → partial-agg
    * groupBy(gfp, doc) → df-filter — the same inverted-index scaling
    * story as [[shingles]], linear in corpus size with per-key state
    * bounded by document count per gram. */
  def substringDup(spark: SparkSession, dir: String): DataFrame =
    substringMemo.getOrElseUpdate(spark, dir)(
      substringDupCompute(spark, dir).persist())

  /** 15.6 exec-s warm re-run per touch in r12 — same memo policy as
    * [[bbitMemo]] (VERDICT r12 Next #1). */
  private val substringMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def substringDupCompute(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    // the narrow (doc_id, tokens) table is the shared session-memoized
    // copy — the cached scan carries no wide doc columns
    val t = TextOps.tokenTable(spark, dir)
    // filter BEFORE sequence(): Spark's sequence(0, n) descends for
    // n < 0 (it would fabricate windows for short docs)
    val grams = t.filter(size(col("t")) >= SubstrK)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(t) - $SubstrK), j -> array_join(slice(t, j + 1, $SubstrK), ' '))"))
        .as("gram"))
      .select(col("doc_id"), expr(TextOps.fpSql("gram")).as("gfp"))
    val occ = grams.groupBy("gfp", "doc_id").agg(count(lit(1)).as("n"))
    val dup = occ.groupBy("gfp").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("gfp")
    val stats = occ.join(dup, "gfp").groupBy("doc_id")
      .agg(sum("n").as("dup_occ"), count(lit(1)).as("dup_grams"))
    val out = t.select(col("doc_id"),
        greatest(size(col("t")) - (SubstrK - 1), lit(0)).cast("long").as("n_grams"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("dup_occ"), lit(0L)).as("dup_occ"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"))
    out
  }

  /** Cross-source near-dup contamination report — the data-lineage
    * question a corpus owner asks after pair generation: WHICH domains
    * duplicate each other (a src3↔src7 hot pair usually means one
    * mirrors the other, and the cheaper fix is dropping a source, not
    * pair-deduping forever). Reuses the memoized verified pairs; ids
    * of constructed variants (≥ [[IdOffset]]) map back to their
    * original's source. Output: unordered source pair → pair count.
    * Cost beyond the memoized pairs: two broadcast-size joins and one
    * partial-agg groupBy. */
  def crossSourcePairs(spark: SparkSession, dir: String): DataFrame = {
    val pairs = ngramJaccard(spark, dir).select(col("a"), col("b"))
    val src = TextOps.docs(spark, dir).select(col("doc_id"), col("source"))
    val srcAll = src.unionAll(
      src.select((col("doc_id") + IdOffset).as("doc_id"), col("source")))
    pairs
      .join(srcAll.select(col("doc_id").as("a"), col("source").as("sa")), "a")
      .join(srcAll.select(col("doc_id").as("b"), col("source").as("sb")), "b")
      .groupBy(least(col("sa"), col("sb")).as("source_x"),
        greatest(col("sa"), col("sb")).as("source_y"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Held-out benchmark construction for decontamination: every
    * [[BenchMod]]-th document contributes one benchmark item — a
    * [[BenchLen]]-token excerpt starting after [[BenchSkip]] tokens
    * (deterministic, so the DuckDB oracle rebuilds the identical set). */
  val BenchMod = 50L
  val BenchSkip = 2
  val BenchLen = 12

  /** Eval-set decontamination: flag corpus documents sharing any
    * [[SubstrK]]-token window with a held-out benchmark set — the
    * pass every LLM data pipeline must run before training so test
    * items don't leak into the training corpus (the contamination
    * n-gram check of GPT-3 appendix C / PaLM §7, shaped like
    * [[substringDup]]'s gram index).
    *
    * Scale shape: the corpus side is the linear sliding-window
    * fingerprint scan; the benchmark side is tiny by construction
    * (eval sets are thousands of items, not billions) and BROADCAST,
    * so flagging is a map-side semi-join — no shuffle of the corpus
    * beyond the per-doc aggregation. Output: one row per contaminated
    * document with how many distinct windows and benchmark items it
    * hits. */
  // output memo: four consumers (dd_decontaminate, curateFull,
  // curateLineage, filterFunnel) re-derived the sliding-window gram
  // scan per run (~9 exec-s each at sf0.1); pure function of
  // (session, dir), rebuilt by the bench's cold pass
  private val decontamMemo = new graft.SessionMemo[DataFrame](outputMemo = true)
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontamMemo.getOrElseUpdate(spark, dir)(
      decontaminateCompute(spark, dir).persist())

  private[operators] def decontaminateCompute(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    val t = TextOps.tokenTable(spark, dir)
    def windows(in: DataFrame, idCol: String, arrCol: String): DataFrame =
      in.filter(size(col(arrCol)) >= SubstrK)
        .select(col(idCol), explode(expr(
          s"transform(sequence(0, size($arrCol) - $SubstrK), j -> array_join(slice($arrCol, j + 1, $SubstrK), ' '))"))
          .as("gram"))
        .select(col(idCol), expr(TextOps.fpSql("gram")).as("gfp"))
    val grams = windows(t, "doc_id", "t")
    val bench = t.filter(pmod(col("doc_id"), lit(BenchMod)) === 0)
      .select(col("doc_id").as("bench_id"),
        slice(col("t"), BenchSkip + 1, BenchLen).as("bt"))
    val benchGrams = windows(bench, "bench_id", "bt").distinct()
    grams.join(broadcast(benchGrams), "gfp")
      .groupBy("doc_id")
      .agg(countDistinct("gfp").as("hit_grams"),
        countDistinct("bench_id").as("n_bench"))
  }

  /** winnowed-pair df cap / share floor — same blowup guard family as
    * [[MaxDf]]: a fingerprint selected in more than WinnowMaxDf docs
    * is a stop-gram (template text) and joins quadratically, so it is
    * dropped before the pair join. */
  val WinnowMaxDf = 20L
  val WinnowMinShared = 2L

  /** Document-overlap pairs via winnowed fingerprints (the MOSS
    * report): docs sharing ≥ [[WinnowMinShared]] distinct selected
    * fingerprints, with the shared count. Selection is
    * [[graft.operators.TextOps.winnowSelected]] (rightmost-min per
    * W-gram window), so any shared char run of length ≥ K+W−1 is
    * guaranteed to surface — a different detection contract from
    * [[minhashLsh]]'s whole-doc Jaccard: winnowing finds *local*
    * overlap (a copied paragraph inside otherwise-unrelated docs).
    *
    * Scale shape: fingerprint → docs is the inverted index; the df
    * cap bounds per-key occupancy at [[WinnowMaxDf]], so the self
    * equi-join emits ≤ df²/2 pairs per key — never all-pairs. One
    * partial-agg groupBy rolls shared counts up. */
  /** Session-memoized pair table — `dd_winnow_pairs` and
    * `dd_winnow_containment` both consume it (same lifecycle as the
    * verified-pairs memo behind the Jaccard family). */
  private val winnowPairsMemo = new graft.SessionMemo[DataFrame](outputMemo = true)
  def winnowPairs(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    winnowPairsMemo.getOrElseUpdate(spark, dir)(
      winnowPairsFromPacked(TextOps.winnowPacked(spark, dir)).persist())
  }

  /** [[winnowPairs]] over an arbitrary (doc_id, text) corpus. Callers
    * must [[TextOps.ensureRegistered]] first. */
  def winnowPairsOf(corpus: DataFrame): DataFrame =
    winnowPairsFromPacked(TextOps.winnowPackedOf(corpus))

  /** the pair stage over the PACKED per-doc selection: the doc-distinct
    * fingerprint stream comes from a map-side array_distinct, so the
    * only corpus-scale exchange left is the one hash(h) shuffle that
    * the df count and the inverted-index join SHARE (identical child
    * plan + partitioning -> Catalyst plans the second consumer as a
    * ReusedExchange; plan-pinned in WinnowSpec). At 1M docs this
    * removed the (doc,h) distinct over 275.8M exploded rows that
    * dominated the r8 pair phase. */
  def winnowPairsFromPacked(packed: DataFrame): DataFrame =
    pairsFromDistinctFps(TextOps.winnowFps(packed))

  /** MOSS-style directional containment over winnowed fingerprints:
    * for each surviving pair, n_shared / |fps(a)| and / |fps(b)| —
    * the asymmetry that tells "b quotes a paragraph of a" apart from
    * "a and b are near-copies" (a report's match percentage). Reuses
    * the memoized selection and the df-capped pair stage; the only
    * additions are one per-doc fingerprint-count aggregate (tiny,
    * broadcast) joined onto the pair table. Ratios are doubles from
    * exact integer counts. */
  def winnowContainment(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    // per-doc fingerprint counts straight off the packed arrays —
    // map-side, like t_winnow's n_fp
    val sizes = TextOps.winnowPacked(spark, dir)
      .select(col("doc_id"), size(array_distinct(expr(
        "transform(packed, x -> x & 2147483647L)"))).cast("long").as("nfp"))
    // no broadcast hint: the per-doc size table is corpus-sized at
    // scale (unlike a dimension) — AQE picks broadcast at sf size and
    // a shuffle join at 100 TB, both correct
    winnowPairs(spark, dir)
      .join(sizes.select(col("doc_id").as("a"), col("nfp").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("nfp").as("nb")), "b")
      .select(col("a"), col("b"), col("n_shared"),
        (col("n_shared") / col("na").cast("double")).as("cont_a"),
        (col("n_shared") / col("nb").cast("double")).as("cont_b"))
  }

  /** Cross-source near-duplication flow matrix — where a corpus's
    * redundancy LIVES: [[winnowPairs]]' overlap pairs joined to each
    * document's source label and aggregated per unordered source
    * pair. The diagonal (source_a = source_b) is intra-source
    * duplication (crawl re-visits, mirrored pages); off-diagonal
    * cells are syndication between sources — the table that decides
    * whether dedup should run per-source (cheap) or global
    * (necessary). Sources are ordered lexicographically per cell so
    * the matrix is direction-free: the pair table's (a < b) doc-id
    * order says nothing about sources.
    *
    * Scale shape: the pair table is ≪ corpus by construction
    * ([[WinnowMaxDf]] bounds it); the two source lookups join a
    * pair-sized stream against the (doc_id, source) projection — no
    * hint, AQE broadcasts whichever side is small at the running
    * scale — and the final groupBy is over ≤ |sources|² cells. All
    * counts exact integers. */
  def sourceFlow(spark: SparkSession, dir: String): DataFrame = {
    val src = TextOps.docs(spark, dir).select(col("doc_id"), col("source"))
    winnowPairs(spark, dir)
      .join(src.select(col("doc_id").as("a"), col("source").as("sa")), "a")
      .join(src.select(col("doc_id").as("b"), col("source").as("sb")), "b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("n_shared"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"), sum("n_shared").as("shared_fps"))
  }

  /** df cap -> inverted-index self-join over an ALREADY (doc,h)-unique
    * fingerprint stream. */
  private def pairsFromDistinctFps(fps: DataFrame): DataFrame = {
    val rare = fps.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= WinnowMaxDf && col("df") >= 2)
      .select(col("h"))
    val kept = fps.join(rare, "h")
    kept.select(col("doc_id").as("a"), col("h"))
      .join(kept.select(col("doc_id").as("b"), col("h")), "h")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
  }
}
