package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composition a training-data
  * pipeline actually runs over raw documents:
  *
  *   quality gate → language gate → near-dup drop list → stats
  *
  * Each stage is an existing oracle-gated operator ([[TextOps.quality]],
  * [[TextOps.langId]], [[Dedup.dedupClusters]]); the value of this
  * operator is the composition itself: one declarative plan where
  * Catalyst pushes the quality filter below the joins, the drop list
  * applies as a left-anti join (never a collected blacklist), and every
  * stage's shuffle keys line up on doc_id. At 100 TB this plan shape —
  * filter early, anti-join the (small) drop side, aggregate last — is
  * the difference between a curation job that runs and one that
  * doesn't. */
object Pipeline {
  val QualityTau = 0.4 // corpus scores span ~0.23-0.62; 0.4 keeps the upper half

  def curate(spark: SparkSession, dir: String): DataFrame = {
    val q = TextOps.quality(spark, dir)
      .select(col("doc_id"), col("quality"), col("n_tokens"))
    val lang = TextOps.langId(spark, dir).select(col("doc_id"), col("pred"))
    val drops = Dedup.dedupClusters(spark, dir)
      .filter(col("doc_id") < Dedup.IdOffset) // originals only
      .select("doc_id")
    q.filter(col("quality") >= QualityTau)
      .join(lang, "doc_id")
      .join(drops, Seq("doc_id"), "left_anti")
      .groupBy(col("pred").as("lang"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
  }

  /** Canonical-document selection per near-dup cluster — the policy
    * half of dedup: [[Dedup.dedupClusters]] says WHICH documents
    * coincide; this says which member a release KEEPS (the longest,
    * ties to the smallest id — the standard "richest variant wins"
    * rule, and an exact integer order so both engines pick the same
    * winner). Restricted to original corpus ids (< [[Dedup.IdOffset]]):
    * synthetic variants are candidate-generation artifacts, not
    * releasable documents.
    *
    * Scale shape: the cluster membership table is dup-pair-sized
    * (≪ corpus), the token counts join on doc_id, and the argmax
    * window partitions by cluster — partition-local, never a global
    * sort. Nothing touches non-duplicated documents at all. */
  def keepBest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cl = Dedup.dedupClusters(spark, dir)
    val members = cl
      .unionByName(cl.select(col("canonical").as("doc_id"), col("canonical")).distinct())
      .filter(col("doc_id") < Dedup.IdOffset)
    val toksN = TextOps.quality(spark, dir).select("doc_id", "n_tokens")
    val wBest = Window.partitionBy("canonical")
      .orderBy(col("n_tokens").desc, col("doc_id"))
    members.join(toksN, "doc_id")
      .withColumn("rn", row_number().over(wBest))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("canonical")))
      .filter(col("rn") === 1)
      .select(col("canonical"), col("doc_id").as("kept_doc"),
        col("n_members"), col("n_tokens").as("kept_tokens"))
  }

  /** Deterministic token-budget sampling per source stratum — the
    * training-mix curation step (sample each domain down to its char
    * budget, reproducibly, with no RNG): docs order by a Knuth
    * multiplicative hash of doc_id (injective mod the prime, so the
    * "random" order is total and seedless-reproducible on any engine),
    * a per-source running char total marks the budget cut, and the
    * output reports each stratum's take.
    *
    * The window is partitioned by source — at 100 TB each stratum's
    * cumsum is one partition-local sort, no global ordering anywhere.
    * A skewed giant stratum can range-partition on (source, h) with
    * per-range offsets; this corpus doesn't need it. */
  val SampleMult = 2654435761L
  val SampleMod = 1000000007L
  val BudgetChars = 4000L

  /** Curation v2 — this round's gates composed into one declarative
    * plan: repetition keep ∧ not majority-duplicated (cross-doc
    * substring coverage < half) ∧ per-source char budget over the
    * SURVIVORS. Each stage is an oracle-gated operator; the value is
    * the composition — every join keys on doc_id, the budget window
    * stays partition-local per source, and Catalyst pushes the cheap
    * gates below the joins. */
  def curateV2(spark: SparkSession, dir: String): DataFrame =
    curateV2Memo.getOrElseUpdate(spark, dir)(
      curateV2Compute(spark, dir).persist())

  /** 11.1 exec-s warm re-run per touch in r12 — same output-memo
    * lifecycle as [[cardMemo]]: fill on first timed touch, cold pass
    * prices the rebuild (its upstream verdict tables rebuild with it,
    * same nesting as the dataset card) (VERDICT r12 Next #1). */
  private val curateV2Memo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def curateV2Compute(spark: SparkSession, dir: String): DataFrame = {
    val rep = TextOps.repetition(spark, dir).select(col("doc_id"), col("keep"))
    val sub = Dedup.substringDup(spark, dir)
      .select(col("doc_id"), col("n_grams"), col("dup_occ"))
    val d = TextOps.docs(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        pmod(col("doc_id") * SampleMult, lit(SampleMod)).as("h"))
    val kept = d.join(rep, "doc_id").join(sub, "doc_id")
      .filter(col("keep") === 1L && col("dup_occ") * 2 <= col("n_grams"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("h")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    kept.withColumn("cum", sum("n_chars").over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("cum") <= BudgetChars, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("cum") <= BudgetChars, col("n_chars")).otherwise(0L))
          .as("chars_kept"))
  }

  /** The complete release pipeline in ONE declarative plan — what a
    * training-data team actually ships: quality gate ∧ language id ∧
    * near-dup drop list ∧ eval-set decontamination, then the
    * deterministic split, reported as per-(split, lang) doc/token
    * totals. Every stage is an existing oracle-gated operator; the
    * composition's value is the plan: both drop sides apply as
    * left-anti joins on doc_id (the decontamination side derives from
    * a BROADCAST benchmark join), the split adds zero shuffles (pure
    * projection), and one partial-agg groupBy closes it. */
  def curateFull(spark: SparkSession, dir: String): DataFrame = {
    val q = TextOps.quality(spark, dir)
      .select(col("doc_id"), col("quality"), col("n_tokens"))
    val lang = TextOps.langId(spark, dir).select(col("doc_id"), col("pred"))
    val drops = Dedup.dedupClusters(spark, dir)
      .filter(col("doc_id") < Dedup.IdOffset).select("doc_id")
    val cont = Dedup.decontaminate(spark, dir).select("doc_id")
    val bucket = pmod(pmod(col("doc_id") * SplitMult, lit(SampleMod)), lit(100L))
    q.filter(col("quality") >= QualityTau)
      .join(lang, "doc_id")
      .join(drops, Seq("doc_id"), "left_anti")
      .join(cont, Seq("doc_id"), "left_anti")
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy(col("split"), col("pred").as("lang"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
  }

  /** Document-level lineage for [[curateFull]] — the audit artifact a
    * production curation run ships next to the release: one row per
    * document with its terminal state, first-failing-gate-wins in the
    * pipeline's own order (quality → near-dup drop list →
    * decontamination), survivors labelled with their split. Same
    * gate operators, same plan shape: the two drop sides are small
    * (near-dup losers, contaminated docs) and broadcast against ONE
    * linear pass over the corpus — per-doc lineage costs no more than
    * the aggregate report at any scale. */
  def curateLineage(spark: SparkSession, dir: String): DataFrame = {
    val q = TextOps.quality(spark, dir).select(col("doc_id"), col("quality"))
    val drops = Dedup.dedupClusters(spark, dir)
      .filter(col("doc_id") < Dedup.IdOffset)
      .select(col("doc_id"), lit(1L).as("is_dup"))
    val cont = Dedup.decontaminate(spark, dir)
      .select(col("doc_id"), lit(1L).as("is_cont"))
    val bucket = pmod(pmod(col("doc_id") * SplitMult, lit(SampleMod)), lit(100L))
    q.join(drops, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("quality") < QualityTau, "quality")
          .when(col("is_dup").isNotNull, "near_dup")
          .when(col("is_cont").isNotNull, "decontaminated")
          .when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test")
          .as("verdict"))
  }

  /** Tokens per packed training sequence (context-window budget). */
  val SeqTokens = 512L
  /** Second multiplicative-hash constant (xxhash prime2) — the split
    * hash must be independent of [[SampleMult]]'s sampling order or
    * the val/test splits would systematically get the docs the budget
    * sampler drops. */
  val SplitMult = 2246822519L

  /** Sequence-packing plan — the step that turns a curated corpus into
    * fixed-token-budget training sequences: docs order deterministically
    * by multiplicative hash within their source, a running token total
    * assigns each doc to the sequence its first token lands in, and the
    * output reports each sequence's packing (docs, tokens; a doc
    * straddling a boundary counts toward its starting sequence — the
    * cross-boundary remainder is the packer's overflow).
    *
    * Scale shape: identical to [[sampleBudget]] — one partition-local
    * cumsum window per source, no global sort, no state. 100 TB of
    * documents pack with exactly one shuffle (the window's hash
    * partitioning by source). */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    val d = TextOps.docs(spark, dir)
      .select(col("doc_id"), col("source"),
        size(TextOps.toks(col("text"))).cast("long").as("n_tokens"),
        pmod(col("doc_id") * SampleMult, lit(SampleMod)).as("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("h")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    d.withColumn("cum", sum("n_tokens").over(w))
      .withColumn("seq_id", expr(s"(cum - n_tokens) div $SeqTokens"))
      .groupBy("source", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("seq_tokens"))
  }

  /** Deterministic train/val/test split + per-split balance stats —
    * the reproducible-split primitive (hash the id, never RNG, so any
    * engine or rerun assigns every doc identically) plus the skew
    * check a pipeline runs right after (token/char totals per split
    * should track the 80/10/10 design). One projection + one
    * partial-agg groupBy: linear, three output rows at any scale. */
  def splitStats(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    val bucket = pmod(pmod(col("doc_id") * SplitMult, lit(SampleMod)), lit(100L))
    TextOps.docs(spark, dir)
      .select(
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
          .as("split"),
        size(TextOps.toks(col("text"))).cast("long").as("n_tokens"),
        col("n_chars"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"),
        sum("n_chars").as("total_chars"))
  }

  /** Train/val/test LEAKAGE audit — the internal-contamination
    * complement of [[decontaminate]] (which audits against an external
    * benchmark): near-dup pairs (the verified ngram-Jaccard table)
    * whose endpoints land in DIFFERENT splits under the standard
    * 80/10/10 assignment. A test document near-duplicating a train
    * document inflates every eval built on the split; the (split_a,
    * split_b, n_pairs) matrix — cross cells ordered by split rank so
    * the matrix is canonical — is the audit a dataset release
    * publishes next to its split stats. Scale shape: pair-table-sized
    * (bounded by the df cap); split labels derive from doc-id
    * arithmetic (the [[SplitMult]] multiplicative hash, same integer
    * expression on both engines), so the audit never rescans the
    * corpus — two codegen'd projections over the memoized pair table
    * and one partial-agg groupBy. */
  /** 80/10/10 split rank of a doc-id column (multiplicative hash —
    * the same integer expression the DuckDB twins inline). */
  private def splitRankOf(c: org.apache.spark.sql.Column) = {
    val bucket = pmod(pmod(c * SplitMult, lit(SampleMod)), lit(100L))
    when(bucket < 80, 0L).when(bucket < 90, 1L).otherwise(2L)
  }
  private def splitNameOf(r: org.apache.spark.sql.Column) =
    when(r === 0L, "train").when(r === 1L, "val").otherwise("test")

  /** Gram length for [[ngramOverlap]] — mid-range of the published
    * eval-contamination practice (GPT-3 used 13-gram overlap, later
    * decontamination passes 8-10; the corpus's planted near-dup
    * variants leak at any n in that band). */
  val OverlapN = 8

  /** Cross-split n-gram contamination — the eval-integrity audit a
    * training pipeline runs BEFORE trusting val/test numbers: for
    * every val/test document, how many of its distinct token
    * [[OverlapN]]-grams also appear anywhere in the train split. A
    * doc with any hit is contaminated (its eval loss partially
    * measures memorization); the per-split rollup (docs, grams, hits,
    * contaminated docs, hit rate) is the number a release card would
    * quote next to the split stats. Complements [[splitLeakage]]:
    * that audit sees only pairs a near-dup detector admitted — this
    * one sees a single plagiarized sentence.
    *
    * Scale shape: grams generate MAP-SIDE inside one codegen'd
    * higher-order function over the token array (never a token-table
    * self-join), per-doc distinct is one (doc, gram) aggregate, and
    * the train-set probe is one equi-join keyed on the gram followed
    * by partial-agg counts — at 100 TB the train gram set is the
    * large side and the join shuffles on the gram key exactly once
    * (a bloom prefilter on train grams is the standard cheapening;
    * the exact join is the correctness reference). Docs shorter than
    * [[OverlapN]] tokens have no gram to leak and are excluded by
    * construction. hit_rate divides two exact integers once. */
  def ngramOverlap(spark: SparkSession, dir: String): DataFrame =
    overlapMemo.getOrElseUpdate(spark, dir)(
      ngramOverlapCompute(spark, dir).persist())

  private val overlapMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def ngramOverlapCompute(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    val dg = overlapGramTable(spark, dir)
    val train = dg.filter(col("r") === 0L).select("gram").distinct()
    val ev = dg.filter(col("r") =!= 0L)
    val tot = ev.groupBy("doc_id", "r").agg(count(lit(1)).as("n_grams"))
    val hit = ev.join(train, "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    tot.join(hit, Seq("doc_id"), "left")
      .select(col("r"), col("n_grams"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .groupBy(splitNameOf(col("r")).as("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_grams").as("n_grams"),
        sum("n_hit").as("n_hits"),
        sum(when(col("n_hit") > 0, 1L).otherwise(0L)).as("n_contaminated"))
      .withColumn("hit_rate",
        col("n_hits").cast("double") / col("n_grams").cast("double"))
  }

  /** Bloom prefilter sizing for [[ngramOverlapBloom]]. Correctness
    * never depends on m: the exact gram join downstream removes every
    * false positive, and a bloom has no false negatives at any size —
    * m only tunes how many eval rows survive to the shuffle. Size it
    * like any bloom, ~10 bits per train gram: the gated sf-tier query
    * uses 2²² bits = 512 KiB (64 Ki words; the sf0.1 train set is
    * ~1M grams); a 42M-gram train set would take 2²⁸ (32 MiB) —
    * constant-size broadcast state either way, never corpus-shaped.
    * k = 3 probes. */
  val OverlapBloomBits = 1L << 22
  val OverlapBloomK = 3

  /** (doc_id, split rank, distinct gram) from a (doc_id, t) token
    * table — the shared generator both overlap audits start from. */
  private[graft] def overlapGramTableOf(toks: DataFrame): DataFrame =
    toks
      .filter(size(col("t")) >= OverlapN)
      .select(col("doc_id"), splitRankOf(col("doc_id")).as("r"),
        explode(expr(s"transform(sequence(0, size(t) - $OverlapN), " +
          s"j -> array_join(slice(t, j + 1, $OverlapN), ' '))")).as("gram"))
      .distinct()

  private def overlapGramTable(spark: SparkSession, dir: String): DataFrame =
    overlapGramTableOf(TextOps.tokenTable(spark, dir))

  /** The i-th bloom bit of a gram, as a SQL fragment (codegen'd; the
    * seed column differentiates the k hash functions). */
  private def overlapBitSql(i: Int, bits: Long): String =
    s"pmod(xxhash64($i, gram), ${bits}L)"

  /** Bitset over the train gram set as ONE dense long array: k bit
    * positions per gram, word = bit >> 6, mask = 1 << (bit & 63), one
    * partial-agg bit_or per word over the set masks UNIONED with an
    * all-words zero range (so the array is dense), gathered sorted.
    * Dense array, not a map, deliberately: Spark map lookup
    * (GetMapValue) is a LINEAR scan per probe — O(words) per gram
    * turns the prefilter into the bottleneck at exactly the scale it
    * exists for — while array element_at is O(1) indexing. */
  private[operators] def overlapBloomOf(train: DataFrame, bits: Long): DataFrame = {
    val masks = train
      .select(explode(array((0 until OverlapBloomK)
        .map(i => expr(overlapBitSql(i, bits))): _*)).as("bit"))
      .select(expr("shiftright(bit, 6)").as("widx"),
        expr("shiftleft(1L, CAST(bit % 64 AS INT))").as("m"))
    val zeros = train.sparkSession.range((bits + 63) / 64)
      .select(col("id").as("widx"), lit(0L).as("m"))
    masks.unionAll(zeros)
      .groupBy("widx").agg(expr("bit_or(m)").as("word"))
      .agg(expr("transform(array_sort(collect_list(struct(widx, word))), x -> x.word)")
        .as("bm"))
  }

  /** all-k-bits-set membership test against the broadcast dense `bm`
    * array — the [[graft.functions.BloomProbe]] native expression, so
    * each of the k hashes computes exactly once per probed gram (the
    * composed SQL form needed each bit twice, and Catalyst fuses this
    * predicate into a BroadcastNestedLoopJoin condition where no
    * codegen CSE can collapse the duplicates — VERDICT r13 Next #6).
    * Callers must have registered [[graft.functions.GraftFunctions]]. */
  private[operators] def overlapPass(bits: Long): org.apache.spark.sql.Column =
    expr(s"graft_bloom_probe(bm, gram, ${bits}L, $OverlapBloomK)")

  /** The bloom-prefiltered form of [[ngramOverlap]] — the standard
    * 100 TB cheapening that query's Scaladoc names (VERDICT r12 Next
    * #5), now implemented against the exact join as its own
    * correctness reference: identical output, because the bloom has no
    * false negatives (a gram present in train always sets all its
    * bits) and the exact equi-join after the prefilter removes every
    * false positive the bitset admits.
    *
    * Shape: the train gram set aggregates into a FIXED-size bitset —
    * k bit positions per gram, packed into 64-bit words by one
    * partial-agg bit_or, gathered as a ≤ 64 Ki-entry map on one row —
    * and that single row broadcasts to the eval side, where a
    * codegen'd all-k-bits-set filter drops non-matching grams
    * MAP-SIDE, ahead of the gram-key exchange. At 100 TB the exact
    * join's shuffle moves only probable hits (the measured sf0.1
    * row reduction is in SCALE.md); the bitset cost is constant.
    * OverlapBloomSpec pins filter-before-exchange as a plan fact. */
  def ngramOverlapBloom(spark: SparkSession, dir: String): DataFrame =
    overlapBloomMemo.getOrElseUpdate(spark, dir)(
      ngramOverlapBloomCompute(spark, dir).persist())

  private val overlapBloomMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def ngramOverlapBloomCompute(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    val dg = overlapGramTable(spark, dir)
    val train = dg.filter(col("r") === 0L).select("gram").distinct()
    val bloom = overlapBloomOf(train, OverlapBloomBits)
    val ev = dg.filter(col("r") =!= 0L)
    // per-doc gram totals come from the UNfiltered eval side — the
    // prefilter must only cheapen the hit join, never the denominators
    val tot = ev.groupBy("doc_id", "r").agg(count(lit(1)).as("n_grams"))
    val evPre = ev.crossJoin(broadcast(bloom)).filter(overlapPass(OverlapBloomBits)).drop("bm")
    val hit = evPre.join(train, "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    tot.join(hit, Seq("doc_id"), "left")
      .select(col("r"), col("n_grams"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .groupBy(splitNameOf(col("r")).as("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_grams").as("n_grams"),
        sum("n_hit").as("n_hits"),
        sum(when(col("n_hit") > 0, 1L).otherwise(0L)).as("n_contaminated"))
      .withColumn("hit_rate",
        col("n_hits").cast("double") / col("n_grams").cast("double"))
  }

  /** Prefilter effectiveness probe for [[ngramOverlapBloom]] — eval
    * gram rows before and after the bloom filter (the measured row
    * reduction VERDICT r12 Next #5 asks for). Diagnostic, not a
    * gated query: counts only. */
  private[graft] def overlapBloomReduction(spark: SparkSession, dir: String,
      bits: Long = OverlapBloomBits): (Long, Long) = {
    TextOps.ensureRegistered(spark)
    val dg = overlapGramTable(spark, dir)
    val train = dg.filter(col("r") === 0L).select("gram").distinct()
    val bloom = overlapBloomOf(train, bits)
    val ev = dg.filter(col("r") =!= 0L).persist()
    val before = ev.count()
    val after = ev.crossJoin(broadcast(bloom)).filter(overlapPass(bits)).count()
    ev.unpersist()
    (before, after)
  }

  /** N-gram benchmark decontamination — the ACTION the
    * [[ngramOverlap]] audit implies (published practice since GPT-3's
    * appendix C: before training, drop every train document that
    * contains an n-gram of the held-out evaluation data): train docs
    * sharing any distinct [[OverlapN]]-gram with the val/test splits
    * are dropped, reported per source as (docs, dropped, kept). Docs
    * shorter than [[OverlapN]] tokens cannot leak and always stay.
    * Complements [[Dedup.decontaminate]] (near-dup pairs against an
    * external eval set): this is the exact-overlap form against the
    * corpus's own held-out splits, and a single plagiarized sentence
    * is enough to drop a document.
    *
    * Scale shape: same map-side gram generation as the audit, the
    * eval gram set (the SMALL side — val+test are 20% of docs) probes
    * the train grams through one equi-join, the leaky-doc set is one
    * distinct, and the per-source rollup joins it back LEFT so the
    * report prices kept AND dropped. At 100 TB the eval gram set
    * broadcasts (or blooms — [[ngramOverlapBloom]]'s bitset applies
    * symmetrically); nothing here is ever all-pairs. */
  def ngramDecontaminate(spark: SparkSession, dir: String): DataFrame =
    ngramDecontamMemo.getOrElseUpdate(spark, dir)(
      ngramDecontaminateCompute(spark, dir).persist())

  private val ngramDecontamMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  /** Distinct train doc_ids sharing any [[OverlapN]]-gram with the
    * val/test splits — the drop side both [[ngramDecontaminate]] (the
    * report) and [[curateV3]] (the release path) anti-join against. */
  private[operators] def leakyTrainDocs(spark: SparkSession, dir: String): DataFrame =
    leakyTrainDocsOf(overlapGramTable(spark, dir))

  private[operators] def leakyTrainDocsOf(dg: DataFrame): DataFrame = {
    val evalGrams = dg.filter(col("r") =!= 0L).select("gram").distinct()
    dg.filter(col("r") === 0L)
      .join(evalGrams, "gram")
      .select("doc_id").distinct()
  }

  /** Bloom-symmetric leaky-doc derivation — the [[ngramOverlapBloom]]
    * bitset applied in the decontamination direction the operator doc
    * names: the EVAL gram set (the small side) packs into the
    * fixed-size bitset, the corpus-shaped TRAIN gram stream filters
    * map-side ahead of the gram exchange, and the exact equi-join
    * removes the false positives — so the leaky set (and every rollup
    * over it) is identical to [[leakyTrainDocsOf]]'s by construction.
    * At 100 TB this is the shape that matters most here: in
    * decontamination the BIG side is train (80% of the corpus), so the
    * prefilter cheapens the dominant stream. */
  private[operators] def leakyTrainDocsBloomOf(dg: DataFrame, bits: Long): DataFrame = {
    val evalGrams = dg.filter(col("r") =!= 0L).select("gram").distinct()
    val bloom = overlapBloomOf(evalGrams, bits)
    dg.filter(col("r") === 0L)
      .crossJoin(broadcast(bloom)).filter(overlapPass(bits)).drop("bm")
      .join(evalGrams, "gram")
      .select("doc_id").distinct()
  }

  /** Per-source (docs, dropped, kept) rollup of a leaky-doc set over
    * the train split of `src` (doc_id, source). */
  private def decontamRollupOf(src: DataFrame, leaky: DataFrame): DataFrame =
    src.filter(splitRankOf(col("doc_id")) === 0L)
      .select(col("doc_id"), col("source"))
      .join(leaky.withColumn("dropped", lit(1L)), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("dropped"), lit(0L))).as("n_dropped"))
      .withColumn("n_kept", col("n_docs") - col("n_dropped"))

  private def ngramDecontaminateCompute(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    decontamRollupOf(TextOps.docs(spark, dir), leakyTrainDocs(spark, dir))
  }

  /** The bloom-prefiltered form of [[ngramDecontaminate]] — identical
    * output by the same argument as [[ngramOverlapBloom]] (no false
    * negatives; exact join removes false positives), so it gates
    * against the SAME oracle: one truth, two engine plans. */
  def ngramDecontaminateBloom(spark: SparkSession, dir: String): DataFrame =
    decontamBloomMemo.getOrElseUpdate(spark, dir)(
      ngramDecontaminateBloomCompute(spark, dir).persist())

  private val decontamBloomMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def ngramDecontaminateBloomCompute(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    decontamRollupOf(TextOps.docs(spark, dir),
      leakyTrainDocsBloomOf(overlapGramTable(spark, dir), OverlapBloomBits))
  }

  /** The decontaminated train corpus — every train doc minus
    * [[leakyTrainDocs]] (docs, not a report; the set the release
    * actually assembles from). Round14OpsSpec proves it gram-disjoint
    * from val/test the NgramDecontamSpec way. */
  private[graft] def decontamTrainDocs(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    TextOps.docs(spark, dir)
      .filter(splitRankOf(col("doc_id")) === 0L)
      .join(leakyTrainDocs(spark, dir), Seq("doc_id"), "left_anti")
  }

  /** Curation v3 — the decontamination ACTION composed into the
    * release path (VERDICT r13 Next #3): the train split assembles
    * from [[decontamTrainDocs]] (train minus every doc sharing an
    * [[OverlapN]]-gram with val/test — so the released training set is
    * PROVABLY gram-disjoint from the evals it will be scored on), then
    * packs into [[SeqTokens]]-token training sequences exactly as
    * [[packSequences]] does, reported per source as (docs, tokens,
    * sequences). `n_docs` here reconciles with
    * [[ngramDecontaminate]]'s `n_kept` by construction — the audit,
    * the action, and the release artifact are one lineage.
    *
    * Scale shape: the leaky-doc side is dup-audit-sized (≪ corpus) and
    * applies as one left-anti join on doc_id; the packing cumsum stays
    * partition-local per source (no global sort); one partial-agg
    * groupBy closes it. Nothing here is ever all-pairs or collected. */
  def curateV3(spark: SparkSession, dir: String): DataFrame =
    curateV3Memo.getOrElseUpdate(spark, dir)(
      curateV3Compute(spark, dir).persist())

  private val curateV3Memo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def curateV3Compute(spark: SparkSession, dir: String): DataFrame = {
    val d = decontamTrainDocs(spark, dir)
      .select(col("doc_id"), col("source"),
        size(TextOps.toks(col("text"))).cast("long").as("n_tokens"),
        pmod(col("doc_id") * SampleMult, lit(SampleMod)).as("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("h")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    d.withColumn("cum", sum("n_tokens").over(w))
      .withColumn("seq_id", expr(s"(cum - n_tokens) div $SeqTokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        countDistinct("seq_id").as("n_seqs"))
  }

  /** Top contaminated eval documents — the per-doc drill-down of
    * [[ngramOverlap]]'s split-level rollup: the 20 val/test docs with
    * the most train-gram hits (ties to the smaller doc_id), each with
    * its split, gram count, hit count, and hit rate. This is the list
    * a release review actually reads: WHICH eval docs are memorized,
    * so they can be re-drawn or excluded from reported metrics.
    * Same two aggregates as the audit plus one top-k
    * (TakeOrderedAndProject — per-partition heap, no global sort). */
  def contamTopDocs(spark: SparkSession, dir: String): DataFrame =
    contamTopMemo.getOrElseUpdate(spark, dir)(
      contamTopDocsCompute(spark, dir).persist())

  private val contamTopMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def contamTopDocsCompute(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    val dg = overlapGramTable(spark, dir)
    val train = dg.filter(col("r") === 0L).select("gram").distinct()
    val ev = dg.filter(col("r") =!= 0L)
    val tot = ev.groupBy("doc_id", "r").agg(count(lit(1)).as("n_grams"))
    val hit = ev.join(train, "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    tot.join(hit, "doc_id")
      .select(col("doc_id"), splitNameOf(col("r")).as("split"),
        col("n_grams"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_grams").cast("double"))
          .as("hit_rate"))
      .orderBy(col("n_hit").desc, col("doc_id"))
      .limit(20)
  }

  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    Dedup.ngramJaccard(spark, dir)
      .select(splitRankOf(col("a")).as("ra"), splitRankOf(col("b")).as("rb"))
      .select(splitNameOf(least(col("ra"), col("rb"))).as("split_a"),
        splitNameOf(greatest(col("ra"), col("rb"))).as("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Strong-pair thresholds per detector family — each is twice as
    * strict as the family's own admission threshold (jacc τ 0.4 → 0.8,
    * hamming ≤ 8 → ≤ 4, shared fps ≥ 2 → ≥ 4, cos: half the remaining
    * distance above [[graft.operators.Similarity.DupCosTau]]), so
    * `n_strong` means "would survive a double-strictness re-run"
    * under every detector's native score. */
  val StrongJacc = 0.8
  val StrongHam = 4L
  val StrongShared = 4L
  val StrongCos = 0.9995

  /** The verified near-dup pair tables [[leakageFamilies]] and
    * [[dupSources]] union — (name, memoized (a, b, …) table,
    * strong-pair predicate over that table's native score column).
    * Exposed so the completeness spec iterates the SAME set the
    * queries do (a family added here is automatically covered by
    * all three). The `semantic` family (embedding-cosine pairs —
    * paraphrase-level duplication no shingle detector can see) joined
    * in r12 (VERDICT r11 Missing #1); its vec_ids share the doc-id
    * domain, so split/source arithmetic applies unchanged. */
  def leakagePairSources(spark: SparkSession, dir: String)
      : Seq[(String, DataFrame, org.apache.spark.sql.Column)] = Seq(
    ("ngram_jaccard", Dedup.ngramJaccard(spark, dir), col("jacc") >= StrongJacc),
    ("minhash_lsh", Dedup.minhashLsh(spark, dir), col("jacc") >= StrongJacc),
    ("simhash_band", Dedup.simhashDup(spark, dir), col("hamming") <= StrongHam),
    ("winnow", Dedup.winnowPairs(spark, dir), col("n_shared") >= StrongShared),
    ("semantic", graft.operators.Similarity.embeddingDup(spark, dir),
      col("cos") >= StrongCos))

  /** [[splitLeakage]] extended across every verified near-dup family —
    * the release-audit form: one (family, split_a, split_b, n_pairs)
    * matrix over the UNION of pair sources (ngram-Jaccard, MinHash-LSH,
    * SimHash banding, winnowing, embedding-cosine), each detecting a
    * different duplication mode, so leakage invisible to one detector
    * still surfaces in the audit. Every source is an already-memoized
    * verified pair table, so the union is pair-table-sized — zero
    * corpus rescans, split labels from doc-id arithmetic, one
    * partial-agg groupBy. */
  def leakageFamilies(spark: SparkSession, dir: String): DataFrame =
    leakFamMemo.getOrElseUpdate(spark, dir)(
      leakageFamiliesCompute(spark, dir).persist())

  /** The 5-family union re-ran per touch once the semantic side joined
    * (and the dataset card became a second consumer) — same
    * deterministic-recompute memo policy as the pair tables it reads. */
  private val leakFamMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def leakageFamiliesCompute(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    leakagePairSources(spark, dir)
      .map { case (f, df, _) =>
        df.select(lit(f).as("family"), col("a"), col("b")) }
      .reduce(_ unionAll _)
      .select(col("family"),
        splitRankOf(col("a")).as("ra"), splitRankOf(col("b")).as("rb"))
      .select(col("family"),
        splitNameOf(least(col("ra"), col("rb"))).as("split_a"),
        splitNameOf(greatest(col("ra"), col("rb"))).as("split_b"))
      .groupBy("family", "split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Source-mixture resampling — hit a per-domain target mix without
    * RNG: each source keeps its first `target` docs in multiplicative-
    * hash order, where target = n_source · f(source) and the keep
    * fraction f cycles 20/40/60% by source index (a stand-in for the
    * mixture weights a data recipe assigns per domain). The keep
    * decision `rank · 10 ≤ n · frac` is pure integer arithmetic — no
    * float rounding to disagree on at any engine.
    *
    * Scale shape: two window functions over ONE hash-partition by
    * source (rank + partition count share the shuffle), then a
    * partial-agg groupBy. */
  val MixDen = 10L
  def mixtureSample(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    val d = TextOps.docs(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        pmod(col("doc_id") * SampleMult, lit(SampleMod)).as("h"),
        (pmod(expr("CAST(substring(source, 4) AS BIGINT)"), lit(3L)) * 2 + 2)
          .as("frac_num"))
    val part = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val w = part.orderBy("h")
    d.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("n_total", count(lit(1)).over(part))
      .withColumn("keep",
        when(col("rank") * MixDen <= col("n_total") * col("frac_num"), 1L)
          .otherwise(0L))
      .groupBy("source")
      .agg(max("frac_num").as("frac_num"),
        count(lit(1)).as("n_total"),
        sum("keep").as("n_kept"),
        sum(col("keep") * col("n_chars")).as("chars_kept"))
  }

  def sampleBudget(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("h")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    TextOps.docs(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        pmod(col("doc_id") * SampleMult, lit(SampleMod)).as("h"))
      .withColumn("cum", sum("n_chars").over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("cum") <= BudgetChars, 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("cum") <= BudgetChars, col("n_chars")).otherwise(0L)).as("chars_sampled"))
  }

  // ---- deterministic epoch shuffle ------------------------------------

  val ShuffleShards = 8L
  val EpochMix = 1000003L // seeds successive epochs apart before mixing

  /** Deterministic per-epoch global shuffle + sharding — how training
    * corpora are actually randomized at scale: never a `rand()` (whose
    * draws depend on partition layout) and never a global sort. Each
    * (epoch, doc) gets a mixed hash; shard = h mod S routes the doc,
    * and the within-shard order is the hash order — a different,
    * reproducible permutation every epoch. The ONLY sort is
    * partition-local per (epoch, shard), which is exactly the
    * shard-file-write shape (S ≈ tens of thousands at 100 TB, each
    * shard fitting one writer task). The output pins the permutation
    * itself: a position-weighted checksum Σ pos·(h mod P) mod P per
    * shard — any reordering, drop, or duplicate changes it. */
  def epochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tpch.table(spark, dir, "documents").select(col("doc_id"))
    val tagged = Seq(1L, 2L)
      .map(e => docs.withColumn("epoch", lit(e)))
      .reduce(_ unionAll _)
    val h = Sketch.mix(
      pmod(col("doc_id") + col("epoch") * EpochMix, lit(Sketch.HashMod)))
    val hashed = tagged
      .select(col("epoch"), col("doc_id"), h.as("h"))
      .withColumn("shard", pmod(col("h"), lit(ShuffleShards)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("epoch", "shard").orderBy(col("h"), col("doc_id"))
    hashed
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("term",
        pmod(col("pos") * pmod(col("h"), lit(TextOps.P)), lit(TextOps.P)))
      .groupBy("epoch", "shard")
      .agg(count(lit(1)).as("n_docs"),
        expr(s"CAST(sum(CAST(term AS DECIMAL(38,0))) % ${TextOps.P} AS BIGINT)")
          .as("checksum"))
  }

  /** Per-class keep cap and selection-checksum modulus for
    * [[balanceClasses]]. */
  val BalanceCap = 100L
  val BalanceP = 1000000007L

  /** [[weightedSample]]: P(keep) = min(1, n_chars / WeightCap). */
  val WeightCap = 500L

  /** Importance-weighted Bernoulli sampling — the data-mixing
    * primitive that favors longer/higher-value documents without a
    * sort: keep doc ⟺ mix(doc_id) mod Cap < weight. The decision is a
    * pure integer function of the row, so it is partition-invariant,
    * reproducible, and needs NO global pass (contrast `pipe_mixture`'s
    * exact per-source budgets); expected kept mass is Σ w/Cap. The
    * report carries exact totals + a selection checksum, so the hash
    * gate pins exactly WHICH docs a re-run keeps. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.Tpch.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("keep",
        when(pmod(Sketch.mix(pmod(col("doc_id") * 97L, lit(Sketch.HashMod))),
          lit(WeightCap)) < col("n_chars"), 1L).otherwise(0L))
    d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("keep").as("n_kept"),
      sum("n_chars").as("chars_total"),
      sum(col("keep") * col("n_chars")).as("chars_kept"),
      pmod(sum(col("keep") * pmod(col("doc_id") * 31L, lit(BalanceP))),
        lit(BalanceP)).as("kept_sum"))
  }

  /** Class-balanced resampling: cap every label at [[BalanceCap]]
    * examples, chosen by deterministic hash order (so the undersample
    * is reproducible and shard-stable — re-running on re-partitioned
    * data keeps the SAME examples). The report carries a selection
    * checksum (Σ vec_id·rank mod P over kept rows), pinning exactly
    * WHICH rows survive, not just how many. The per-label rank is a
    * window over one label's rows; labels are the parallelism unit —
    * for a label too hot for one partition, the same selection is a
    * threshold lookup (keep h below the label's Cap-th smallest hash,
    * a bottom-k per group à la [[Sketch.kmvOrders]]) — the window form
    * is the exact-parity twin of that. */
  def balanceClasses(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = graft.sources.Tpch.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"))
      .withColumn("h",
        Sketch.mix(pmod(col("vec_id") * 131L, lit(Sketch.HashMod))))
    val w = Window.partitionBy("label").orderBy(col("h"), col("vec_id"))
    e.withColumn("rn", row_number().over(w).cast("long"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("rn") <= BalanceCap, 1L).otherwise(0L)).as("n_kept"),
        pmod(sum(when(col("rn") <= BalanceCap,
          pmod(col("vec_id") * col("rn"), lit(BalanceP))).otherwise(0L)),
          lit(BalanceP)).as("kept_sum"))
  }

  // ---- per-domain frequency cap ---------------------------------------

  val DomainCap = 15L

  /** Per-domain (source) frequency cap — the anti-over-representation
    * rule every web-scale corpus applies: no single domain contributes
    * more than Cap documents, the keeps chosen by a deterministic
    * mixed-hash order (a reproducible "random" Cap-subset, never
    * `rand()`). Same scale shape as [[balanceClasses]]: the window
    * partitions by source, so selection is partition-local per domain;
    * a pathologically hot domain degrades to a bottom-k threshold
    * lookup, not a global sort. Reports the cap's bite per source —
    * kept docs, dropped docs, and the chars the cap removed. */
  def domainCap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    TextOps.docs(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        pmod(col("doc_id") * SampleMult, lit(SampleMod)).as("h"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("rn") <= DomainCap, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") > DomainCap, col("n_chars")).otherwise(0L)).as("chars_dropped"))
  }

  /** The dataset card — the one-row release summary every corpus ships
    * with (docs, sources, tokens, vocabulary, mean quality score,
    * language mix, exact-duplicate mass — and, r12, the release-audit
    * rollups: cross-split leakage over every detector family,
    * cross-source duplication, and the epoch plan's budget shortfall;
    * VERDICT r11 Next #6). Each figure is an existing oracle-gated
    * operator's aggregate; the value is the composition: the
    * independent partial-aggregable passes' 1-row results
    * broadcast-join into the card, so the report costs one scan per
    * statistic family at ANY corpus size and nothing ever leaves the
    * executors until the final row. The three audit rollups aggregate
    * ≤20-row tables built over already-memoized pair tables — scalars
    * over scalars. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame =
    // eagerly checkpointed, not persisted: the 1-row card's logical
    // plan spans every folded audit's memoized lineage and re-ran
    // Catalyst analysis on every read (1.07 s suite wall at 0.0
    // exec-s); a LogicalRDD re-analyzes in O(1). The cold bypass still
    // rebuilds the full card (checkpoints are not CacheManager-
    // registered, so the rebuild cannot alias this entry).
    cardMemo.getOrElseUpdate(spark, dir)(
      datasetCardCompute(spark, dir).localCheckpoint(true))

  /** The card's own passes (quality, langId, vocab, exact-dup, plus
    * the audit rollups) re-ran per touch after the r12 extension (8.8
    * exec-s warm) — memoized; the cold pass prices the FULL release-
    * card rebuild including every audit's pair-table rebuild, which is
    * exactly what "regenerate the card from scratch" costs. */
  private val cardMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def datasetCardCompute(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    val d = TextOps.docs(spark, dir)
    val base = d.agg(count(lit(1)).as("n_docs"),
      countDistinct("source").as("n_sources"),
      sum(size(TextOps.toks(col("text"))).cast("long")).as("n_tokens"))
    val vocab = d.select(explode(TextOps.toks(col("text"))).as("tok"))
      .agg(countDistinct("tok").as("n_vocab"))
    val qual = TextOps.quality(spark, dir).agg(avg("quality").as("mean_quality"))
    val langs = TextOps.langId(spark, dir).agg(
      sum(when(col("pred") === "en", 1L).otherwise(0L)).as("n_en"),
      sum(when(col("pred") === "de", 1L).otherwise(0L)).as("n_de"),
      sum(when(col("pred") === "es", 1L).otherwise(0L)).as("n_es"),
      sum(when(col("pred") === "fr", 1L).otherwise(0L)).as("n_fr"),
      sum(when(col("pred") === "zh", 1L).otherwise(0L)).as("n_zh_docs"))
    val dups = d.select(expr(TextOps.fpSql("text")).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("n"))
      .agg(sum(when(col("n") > 1, col("n")).otherwise(0L)).as("dup_docs"))
    // cross-SPLIT near-dup pairs (train/val/test boundary crossings)
    // summed over every detector family, plus how many families see one
    val leak = leakageFamilies(spark, dir)
      .filter(col("split_a") =!= col("split_b"))
      .agg(coalesce(sum("n_pairs"), lit(0L)).as("leak_pairs"),
        countDistinct("family").as("leak_families"))
    // cross-SOURCE near-dup mass (off-diagonal cells of dupSources)
    val xsrc = dupSources(spark, dir)
      .filter(col("source_lo") =!= col("source_hi"))
      .agg(coalesce(sum("n_pairs"), lit(0L)).as("cross_src_pairs"),
        coalesce(sum("n_strong"), lit(0L)).as("cross_src_strong"))
    // epoch-plan budget shortfall, rounded to whole tokens (the sum of
    // ≤|sources| doubles rounds identically on both engines; reporting
    // the raw double would hash the engines' addition orders)
    val plan = epochPlan(spark, dir)
      .agg(round(sum("shortfall")).cast("long").as("plan_shortfall_tokens"))
    // eval-integrity numbers (VERDICT r13 Next #2): the n-gram
    // contamination audit's per-split counts + overall hit rate, and
    // the decontamination action's dropped/kept totals — the audit's
    // own doc says the card is where these belong. Scalars over the
    // already-memoized 2-row / per-source tables; the overall rate is
    // ONE division of two exact BIGINT sums (engine-order-proof).
    val contam = ngramOverlap(spark, dir).agg(
      coalesce(sum(when(col("split") === "val", col("n_contaminated"))), lit(0L))
        .as("contam_val_docs"),
      coalesce(sum(when(col("split") === "test", col("n_contaminated"))), lit(0L))
        .as("contam_test_docs"),
      (sum("n_hits").cast("double") / sum("n_grams").cast("double"))
        .as("contam_hit_rate"))
    val decon = ngramDecontaminate(spark, dir).agg(
      coalesce(sum("n_dropped"), lit(0L)).as("decontam_dropped_docs"),
      coalesce(sum("n_kept"), lit(0L)).as("decontam_kept_docs"))
    base.crossJoin(broadcast(vocab)).crossJoin(broadcast(qual))
      .crossJoin(broadcast(langs)).crossJoin(broadcast(dups))
      .crossJoin(broadcast(leak)).crossJoin(broadcast(xsrc))
      .crossJoin(broadcast(plan))
      .crossJoin(broadcast(contam)).crossJoin(broadcast(decon))
  }

  /** DSIR feature space: hashed-unigram bucket count and the
    * micro-unit scale for the integer likelihood ratio. */
  val DsirBuckets = 4096L
  val DsirScale = 1000000L

  /** Data Selection via Importance Resampling (Xie et al. 2023) —
    * score every document by how target-like its hashed n-gram
    * feature distribution is. Target here is the `lang = 'en'` slice
    * (the usual "select web data that looks like the curated set"
    * setup); features are unigram AND bigram fingerprints folded into
    * [[DsirBuckets]] buckets (the paper's hashed n-gram space, n ≤ 2 —
    * bigrams carry the language/style signal unigram template overlap
    * washes out).
    *
    * Per bucket b the add-one-smoothed likelihood ratio
    * (tc+1)/(T+B) ÷ (rc+1)/(R+B) is emitted in integer micro-units
    * (the [[graft.operators.TextOps.lmScore]] device — `div`, not
    * doubles — so the per-doc sums are exact BIGINTs both engines
    * reproduce bit-for-bit; DSIR's log is monotone, so ranking by the
    * ratio sum selects the same documents). Scale shape: the bucket
    * table is ≤ 4096 rows → BROADCAST; per-doc scoring is one
    * partial-agg groupBy over (doc, bucket) counts — linear in corpus
    * size, one shuffle on doc_id. */
  /** Session-memoized: `pipe_dsir` and `pipe_dsir_sample` share the
    * per-doc weight table (same lifecycle as the dedup pair memos). */
  private val dsirMemo = new graft.SessionMemo[DataFrame](outputMemo = true)
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    dsirMemo.getOrElseUpdate(spark, dir)(
      dsirWeightsOf(TextOps.tokenTable(spark, dir),
        TextOps.docs(spark, dir).filter(col("lang") === "en")
          .select(col("doc_id")))
        .persist())
  }

  /** The resampling step DSIR's weights exist for: keep documents
    * whose mean per-token likelihood ratio beats the CORPUS MEAN
    * (threshold = ⌊Σ avg_micro / n⌋ — exact BIGINT arithmetic, so the
    * keep decision is deterministic and engine-identical; an absolute
    * ratio ≥ 1 cut is degenerate under add-one smoothing, which pulls
    * every small-corpus ratio below 1). Reported as per-language
    * selection rates; the gate the table proves: the en slice selects
    * at a higher rate than every other language, i.e. the weights
    * actually steer the mixture toward the target. One 1-row
    * broadcast threshold and a partial-agg groupBy over the memoized
    * weight table. */
  def dsirSample(spark: SparkSession, dir: String): DataFrame = {
    val w = dsirWeights(spark, dir)
    val thr = w.agg(expr("sum(avg_micro) div count(1)").as("thr"))
    w.crossJoin(broadcast(thr))
      .join(TextOps.docs(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("avg_micro") >= col("thr"), 1L).otherwise(0L))
          .as("n_selected"))
      .withColumn("sel_rate", col("n_selected") / col("n_docs").cast("double"))
  }

  /** [[dsirWeights]] over an arbitrary tokenized corpus (doc_id, t)
    * with an explicit target-slice id set. Callers must
    * [[TextOps.ensureRegistered]] first. */
  def dsirWeightsOf(t: DataFrame, target: DataFrame): DataFrame = {
    val b = DsirBuckets
    // per-(doc, hashed-bucket) n-gram counts (n ≤ 2): the corpus-sized pass
    val uni = t.select(col("doc_id"), explode(col("t")).as("g"))
    val bi = t.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(t) - 2),
          |  j -> concat_ws(' ', element_at(t, j + 1), element_at(t, j + 2)))"""
          .stripMargin)).as("g"))
    val docBuck = uni.unionAll(bi)
      .select(col("doc_id"),
        pmod(expr(TextOps.fpSql("g")), lit(DsirBuckets)).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
    // per-bucket (rc, tc) counts
    val tc = docBuck.join(target, "doc_id")
      .groupBy("bucket").agg(sum("cnt").as("tc"))
    val ratio = docBuck.groupBy("bucket").agg(sum("cnt").as("rc"))
      .join(tc, Seq("bucket"), "left")
      .select(col("bucket"), col("rc"), coalesce(col("tc"), lit(0L)).as("tc"))
    val totals = ratio.agg(sum("tc").as("tt"), sum("rc").as("rt"))
    // DECIMAL(38,0) intermediates (HUGEINT in the DuckDB twin): the
    // int64 product Scale·(tc+1)·(rt+B) wraps once (tc+1)·(rt+B)
    // exceeds ~9.2e12 — a hot bucket holding a few percent of a
    // 1e8-token corpus is enough, and Spark (ANSI off) wraps SILENTLY
    // where DuckDB raises, so the engines would diverge exactly where
    // integer parity is claimed. The 38-digit envelope holds to
    // ~1e32 ≫ any corpus (1e6 scale · tc ≤ 1e13 · rt ≤ 1e13);
    // the quotient itself is ≤ Scale·(rt+B)/(tt+B), back in int64 for
    // any non-degenerate target slice. PipelineSpec pins the overflow
    // regime with a one-hot-bucket corpus.
    // the QUOTIENT narrows back to int64 immediately: lr_micro ≤
    // Scale·(rt+B)/(tt+B) — ≤ 2.4e15 even in the degenerate tt=0 case
    // at rt = 1e13 reference tokens, far under 2^63
    val lr = ratio.crossJoin(broadcast(totals))
      .select(col("bucket"),
        expr(s"""cast((cast($DsirScale as decimal(38,0)) * (tc + 1) * (rt + $b))
                | div (cast(rc + 1 as decimal(38,0)) * (tt + $b)) as bigint)"""
          .stripMargin).as("lr_micro"))
    // per-doc sums stay LONG: the aggregation state is a primitive
    // 8-byte accumulator inside whole-stage codegen instead of a
    // 16-byte Decimal per group (1M groups × ~200M input rows on a
    // 1M-doc corpus), and the int64 envelope is generous — Σ cnt·lr ≤
    // tokens(doc) · max lr, and with any non-degenerate target (≥1% of
    // reference mass) max lr ≤ 100·Scale = 1e8, so docs up to 1e10
    // tokens sum exactly. (Measured 1M-doc DSIR walls are parity
    // within this box's same-commit drift — the narrowing is a scale
    // argument, not a measured-win claim; see BASELINE.md.) The
    // decimal widening above is the one that matters: it protects
    // GLOBAL counts (tc·rt), which wrap at realistic corpus sizes
    // (ADVICE r8). The DuckDB twin sums in HUGEINT and casts — equal
    // wherever the envelope holds; Round9OpsSpec pins the wrap regime.
    docBuck.join(broadcast(lr), "bucket")
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_tokens"),
        sum(col("cnt") * col("lr_micro")).as("score_micro"))
      .withColumn("avg_micro", expr("score_micro div n_tokens"))
  }

  /** Temperature exponent for [[sourceMix]] — the α of
    * q_s ∝ p_s^α (α < 1 upsamples the tail). */
  val MixAlpha = 0.7

  /** Temperature-scaled source mixture design (the mT5/XLM-R sampling
    * rule, also GPT-3's corpus-weighting shape): from each source's
    * exact token mass p_s, the training sampling weight
    * q_s ∝ p_s^[[MixAlpha]] and the implied epoch boost q_s/p_s —
    * the table a data recipe publishes to decide how often each
    * source repeats in the mixture.
    *
    * Scale shape: one partial-agg groupBy(source) over the corpus
    * (counts are exact integers; the doubles are derived from them in
    * a fixed op order), then the ≤|sources|-row table normalizes
    * against its own 1-row broadcast total — nothing corpus-sized
    * shuffles twice at any scale. */
  def sourceMix(spark: SparkSession, dir: String): DataFrame = {
    val by = TextOps.docs(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextOps.toks(col("text"))).cast("long")).as("n_tokens"))
    val tot = by.agg(sum("n_tokens").as("tt"))
    val p = by.crossJoin(broadcast(tot))
      .withColumn("p", col("n_tokens") / col("tt").cast("double"))
      .withColumn("pa", pow(col("p"), lit(MixAlpha)))
    val z = p.agg(sum("pa").as("z"))
    p.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("p"),
        (col("pa") / col("z")).as("q"),
        ((col("pa") / col("z")) / col("p")).as("boost"))
  }

  /** Cross-source duplication audit — which sources duplicate each
    * other, PER DETECTOR FAMILY (r12: extended from ngram-Jaccard only
    * to the full [[leakagePairSources]] union, so paraphrase-level
    * cross-source duplication the shingle detectors miss shows up in
    * the `semantic` rows — VERDICT r11 Missing #1): every verified
    * near-dup pair mapped back to its base documents' sources
    * (variant ids fold with mod [[graft.operators.Dedup.IdOffset]] —
    * pure arithmetic, no corpus rescan), counted per canonically-
    * ordered source pair with each family's native strong-pair
    * column. The off-diagonal cells are the actionable ones: two
    * crawls overlapping heavily should be deduped against each other
    * BEFORE mixture weighting, or the duplicated mass is
    * double-counted in [[sourceMix]]'s token shares. All sources are
    * memoized pair tables; ≤ families × |sources|² rows of exact
    * integers. */
  def dupSources(spark: SparkSession, dir: String): DataFrame =
    dupSrcMemo.getOrElseUpdate(spark, dir)(
      dupSourcesCompute(spark, dir).persist())

  /** Per-family union + double source join re-ran per touch (r12 first
    * cut: 8.9 exec-s warm, a fresh instance of the very pattern this
    * round retired) — memoized like its consumers' other inputs. */
  private val dupSrcMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  private def dupSourcesCompute(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    val src = TextOps.docs(spark, dir).select(col("doc_id"), col("source"))
    leakagePairSources(spark, dir)
      .map { case (f, df, strong) =>
        df.select(lit(f).as("family"),
          pmod(col("a"), lit(Dedup.IdOffset)).as("ba"),
          pmod(col("b"), lit(Dedup.IdOffset)).as("bb"),
          when(strong, 1L).otherwise(0L).as("strong")) }
      .reduce(_ unionAll _)
      .join(src.select(col("doc_id").as("ba"), col("source").as("sa")), "ba")
      .join(src.select(col("doc_id").as("bb"), col("source").as("sb")), "bb")
      .select(col("family"), least(col("sa"), col("sb")).as("source_lo"),
        greatest(col("sa"), col("sb")).as("source_hi"), col("strong"))
      .groupBy("family", "source_lo", "source_hi")
      .agg(count(lit(1)).as("n_pairs"), sum("strong").as("n_strong"))
  }

  /** Token budget + per-source epoch cap for [[epochPlan]]. The budget
    * is an absolute constant (like [[BudgetChars]]) so the twin stays
    * compile-time; at sf0.01 it exceeds most sources' supply, which is
    * precisely the regime epoch capping exists for. */
  val PlanTokenBudget = 500000L
  val MaxEpochs = 3.0

  /** Training-mixture epoch plan — the table that turns [[sourceMix]]'s
    * α-temperature shares into an executable data recipe: per source,
    * target tokens = budget·q, raw epochs = target/supply, epochs
    * capped at [[MaxEpochs]] (the published data-recipe practice:
    * repeating a small source beyond a few epochs stops helping and
    * starts hurting), realized tokens = epochs·supply, and the
    * utilization shortfall the cap leaves against the target. The
    * budget shortfall Σ(target − realized) is what a planner
    * re-allocates in the next temperature sweep — emitting per-source
    * shortfall (not silently re-normalizing) keeps the plan auditable.
    *
    * Scale shape: everything after [[sourceMix]]'s single corpus pass
    * operates on the ≤|sources|-row mix table; the doubles derive from
    * exact integer token counts in a fixed op order both engines
    * mirror. */
  def epochPlan(spark: SparkSession, dir: String): DataFrame =
    sourceMix(spark, dir)
      .withColumn("target_tokens", lit(PlanTokenBudget.toDouble) * col("q"))
      .withColumn("epochs_raw", col("target_tokens") / col("n_tokens").cast("double"))
      .withColumn("epochs", least(col("epochs_raw"), lit(MaxEpochs)))
      .withColumn("realized_tokens", col("epochs") * col("n_tokens").cast("double"))
      .withColumn("shortfall", col("target_tokens") - col("realized_tokens"))
      .select(col("source"), col("n_tokens"), col("q"), col("target_tokens"),
        col("epochs_raw"), col("epochs"), col("realized_tokens"), col("shortfall"))

  /** Bucket count for [[sourceShift]]'s hashed-vocabulary histograms.
    * 4096 buckets keep the per-source audit table ≤ |sources|·4096
    * rows (bounded, never corpus-sized) while the birthday collision
    * rate stays low enough that a real vocabulary shift dominates
    * hash-collision noise. */
  val ShiftBuckets = 4096L

  /** Distribution-shift audit between each source and the corpus —
    * the table a mixture designer reads BEFORE trusting
    * [[sourceMix]]'s token-mass weights: two sources with equal mass
    * but divergent vocabularies are different training data. Per
    * source, over hashed-unigram histograms ([[ShiftBuckets]]
    * buckets): KL(source ‖ corpus) in nats and total-variation
    * distance. The TV term handles buckets where the source has no
    * mass without materializing them: Σ_{b∉s} p_c(b) = 1 − Σ_{b∈s}
    * p_c(b), so TV = ½(Σ_{b∈s} |p_s − p_c| + 1 − Σ_{b∈s} p_c). KL
    * needs no such term (0·ln 0 = 0), and p_c > 0 wherever p_s > 0
    * because the corpus histogram contains the source's own counts.
    *
    * Scale shape: ONE corpus-sized partial-agg shuffle
    * (groupBy(source, bucket)); everything after operates on the
    * bounded histogram table — bucket totals (≤4096 rows) and source
    * totals (≤|sources| rows) broadcast back onto it. Probabilities
    * are doubles derived from exact integer counts in a fixed op
    * order; the oracle mirrors the op order so both engines round
    * identically at the gate's 6-dp canonicalization. */
  def sourceShift(spark: SparkSession, dir: String): DataFrame = {
    TextOps.ensureRegistered(spark)
    val sb = TextOps.docs(spark, dir)
      .select(col("source"), explode(TextOps.toks(col("text"))).as("tok"))
      .select(col("source"),
        pmod(expr(TextOps.fpSql("tok")), lit(ShiftBuckets)).as("bucket"))
      .groupBy("source", "bucket").agg(count(lit(1)).as("sc"))
    val cb = sb.groupBy("bucket").agg(sum("sc").as("cc"))
    val st = sb.groupBy("source").agg(sum("sc").as("stot"))
    val ct = cb.agg(sum("cc").as("ctot"))
    sb.join(broadcast(cb), "bucket")
      .join(broadcast(st), "source")
      .crossJoin(broadcast(ct))
      .withColumn("ps", col("sc") / col("stot").cast("double"))
      .withColumn("pc", col("cc") / col("ctot").cast("double"))
      .groupBy("source")
      .agg(min("stot").as("n_tokens"),
        count(lit(1)).as("n_buckets"),
        sum(col("ps") * log(col("ps") / col("pc"))).as("kl_nats"),
        ((sum(abs(col("ps") - col("pc"))) + lit(1.0) - sum(col("pc"))) / 2.0)
          .as("tv_dist"))
  }

  /** Independent-gate ablation funnel per source — the companion view
    * to [[curateLineage]]'s first-fail verdicts: every curation gate
    * (quality ≥ τ, repetition keep, not a near-dup loser, not
    * benchmark-contaminated) evaluated on ALL documents, counted per
    * source, plus the intersection. First-fail lineage tells you what
    * the pipeline DID; the ablation table tells you what each gate
    * WOULD do alone — the numbers threshold tuning actually needs
    * (a gate whose independent pass rate is 0.99 on one source and
    * 0.40 on another is mis-calibrated, which first-fail counts hide
    * behind earlier gates).
    *
    * Scale shape: identical to [[curateFull]] — the two drop sides
    * are small (near-dup losers, contaminated docs) and left-join
    * against one linear pass; the gate columns are per-doc flags
    * summed in a single partial-agg groupBy(source). Documents too
    * short for the repetition statistics (< 3 tokens — the operator
    * emits no row) count as failing that gate, mirrored in the
    * oracle. */
  def filterFunnel(spark: SparkSession, dir: String): DataFrame = {
    val q = TextOps.quality(spark, dir).select(col("doc_id"),
      when(col("quality") >= QualityTau, 1L).otherwise(0L).as("pq"))
    val r = TextOps.repetition(spark, dir)
      .select(col("doc_id"), col("keep").as("pr0"))
    val dup = Dedup.dedupClusters(spark, dir)
      .filter(col("doc_id") < Dedup.IdOffset)
      .select(col("doc_id"), lit(1L).as("is_dup"))
    val cont = Dedup.decontaminate(spark, dir)
      .select(col("doc_id"), lit(1L).as("is_cont"))
    TextOps.docs(spark, dir).select(col("doc_id"), col("source"))
      .join(q, "doc_id")
      .join(r, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .withColumn("pr", coalesce(col("pr0"), lit(0L)))
      .withColumn("pd", when(col("is_dup").isNull, 1L).otherwise(0L))
      .withColumn("pc", when(col("is_cont").isNull, 1L).otherwise(0L))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("pq").as("pass_quality"),
        sum("pr").as("pass_repetition"),
        sum("pd").as("pass_dedup"),
        sum("pc").as("pass_decontam"),
        sum(col("pq") * col("pr") * col("pd") * col("pc")).as("pass_all"))
  }
}
