package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.TpchGraph

/** HyperBall (Boldi & Vigna, WWW'11): the neighborhood function
  * |ball(v, t)| for every node at once, via one HyperLogLog register
  * set per node merged along edges by `max`.
  *
  * The reference ships no whole-graph distance analytics — its
  * traversal framework (reference: kernel TraversalDescription usage in
  * ha/../ClusterManager) expands one start node at a time. At 100 TB an
  * all-sources exact BFS is |V|·|ball| pairs — infeasible — while
  * HyperBall is |V|·m registers (m = 64 here), and the round update is
  * a single groupBy-max whose combine runs map-side: registers merge
  * associatively, so Spark's partial aggregation does the per-partition
  * union before anything crosses the wire. That property — sketch
  * merge == partial agg — is exactly why this is THE published
  * algorithm for distance distributions on billion-edge graphs.
  *
  * Engine-invariance: same degski-mixed 32-bit hash as [[Sketch]], rho
  * from a when-cascade bit-length, Z' as an exact integer
  * (missing-bucket term folded in arithmetically: Z' = (m−present)·2^S
  * + Σ 2^(S−rho)), and ONE double division per output row. The top-10
  * ball ranking needs no floats at all: est is monotone-decreasing in
  * Z', so ordering by (z asc, node asc) is pure-integer deterministic.
  * Each reported sketch estimate sits next to the EXACT 3-hop ball
  * size (10-seed bounded BFS — cheap because it runs only for the
  * winners), so the probe quantifies its own error like `ann_recall`
  * and `q08_hll_distinct` do.
  */
object HyperBall {
  val BucketBits = 6
  val Buckets = 1 << BucketBits  // m = 64: per-node cost is the point
  val SuffixBits = 32 - BucketBits
  val Scale = SuffixBits + 1     // rho ∈ [1, 27]; empty register = 0
  val Iters = 3
  val TopN = 10

  /** α₆₄·m²·2^Scale as ONE double constant (α₆₄ = 0.709, Flajolet et
    * al. 2007 Fig. 5); the oracle embeds its shortest-roundtrip form. */
  val EstNumerator: Double = 0.709 * Buckets * Buckets * (1L << Scale).toDouble

  /** bit-length of a non-negative < 2^SuffixBits integer; same
    * when-cascade as [[Sketch.bitLen]] but over this sketch's wider
    * suffix. */
  private[graft] def bitLen(x: Column): Column =
    (1 to SuffixBits).foldLeft(lit(0)) { (acc, b) =>
      when(x >= (1L << (b - 1)), lit(b)).otherwise(acc)
    }

  /** PACKED register layout (round 15): one row per node, one LONG
    * column per rho LEVEL k ∈ [1, Scale] — bit j of b_k is the
    * monotone predicate (rho of bucket j ≥ k). Max-merge per bucket
    * then IS bit_or per level (rho≥k is monotone in rho), still
    * associative, so the combine stays map-side. The r14 shape (one
    * int column per bucket, 64 max-aggregations) shuffled 65 8-byte
    * UnsafeRow slots per node per round; this moves Scale+1 = 28 —
    * a 2.32× cut in exchange bytes per round (guide §2.3 "narrower
    * types"), which is the pyramid's dominant cost. (The original
    * exploded (node, bucket, rho) layout was |E|·m rows — measured
    * 6× worse than the wide form at sf0.1; the packed form keeps the
    * wide form's row count AND drops its width.) Exposed
    * private[operators] so the spec pins pack∘bit_or∘decode ≡
    * max-merge and the round-plan dump can show the exchange schema. */
  private[graft] def packCols: Seq[Column] =
    (1 to Scale).map(k =>
      when(col("rho") >= k, expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))"))
        .otherwise(lit(0L)).as(s"b$k"))

  /** one register-merge round: push every node's packed registers to
    * its out-neighbors and bit_or-merge per level (== per-bucket max). */
  private[graft] def mergeRound(regs: DataFrame, edges: DataFrame): DataFrame = {
    val orCols = (1 to Scale).map(k => expr(s"bit_or(b$k)").as(s"b$k"))
    val fromNbrs = edges
      .join(regs.withColumnRenamed("node", "src"), "src")
      .select(col("dst").as("node") +:
        (1 to Scale).map(k => col(s"b$k")): _*)
    regs.unionByName(fromNbrs)
      .groupBy("node").agg(orCols.head, orCols.tail: _*)
  }

  /** Z' per node, exact-integer, decoded from the level masks via the
    * telescoping identity 2^(Scale−rho) = 2^Scale − Σ_{k=1..rho}
    * 2^(Scale−k), summed over all 64 buckets:
    *   Z' = m·2^Scale − Σ_{k=1..Scale} 2^(Scale−k)·popcount(b_k)
    * (empty registers rho=0 contribute the full 2^Scale term, exactly
    * the r14 per-bucket sum). 27 bit_counts replace a 64-bucket
    * decode; the integer value — and thus every downstream estimate
    * and the oracle hash — is unchanged. */
  private[graft] val zExpr: String =
    s"CAST(${Buckets.toLong << Scale} AS BIGINT) - (" +
      (1 to Scale).map(k =>
        s"shiftleft(CAST(bit_count(b$k) AS BIGINT), ${Scale - k})")
        .mkString(" + ") + ")"

  /** All three outputs are tiny (TopN or Iters+1 rows) — memoize them
    * as a tuple (one register pyramid feeds them all) and drop the big
    * intermediates once all are materialized. */
  private val memo = new graft.SessionMemo[(DataFrame, DataFrame, DataFrame)](outputMemo = true)

  def hyperball(spark: SparkSession, dir: String): DataFrame =
    memo.getOrElseUpdate(spark, dir)(compute(spark, dir))._1

  /** Neighborhood function / distance distribution (the effective-
    * diameter primitive; Boldi & Vigna WWW'11 §5): N(t) = Σ_v
    * |ball(v,t)| read off the SAME register pyramid, one row per round.
    * Per-node estimates stay exact integers (`EstNumerator.toLong div
    * z` — both engines embed the identical BIGINT literal and floor-
    * divide), so the per-round sum is order-invariant and
    * hash-comparable; the only double is the final frac_of_final
    * division of two exact BIGINTs. The smallest t with frac ≥ 0.9 IS
    * the effective diameter — at 100 TB this is how distance
    * distributions are measured (exact all-pairs BFS is |V|²). */
  def neighborhood(spark: SparkSession, dir: String): DataFrame =
    memo.getOrElseUpdate(spark, dir)(compute(spark, dir))._3

  /** Harmonic centrality (Boldi & Vigna, "Axioms for centrality",
    * 2014) from the SAME register pyramid: for the TopN largest-ball
    * nodes, Σ_t (|ball(t)|−|ball(t−1)|)/t with ball sizes read off the
    * per-round HLL estimates. Selection stays pure-integer (final z
    * ascending, node) — doubles appear only as output values computed
    * by ONE fixed-order expression both engines evaluate identically.
    * This is the published way to get closeness-family centralities on
    * billion-edge graphs: the exact all-pairs BFS is |V|² and dead on
    * arrival, while this reuses sketches the neighborhood function
    * already paid for. */
  def harmonic(spark: SparkSession, dir: String): DataFrame =
    memo.getOrElseUpdate(spark, dir)(compute(spark, dir))._2

  /** [[phases]] with each phase's jobs described `hyperball <phase>`
    * (pyramid+topk, probe+out, harmonic, neighborhood), so a listener
    * can attribute the compute's cold cost; the caller's description
    * is restored on return, as `Iterative.minFixpoint` does. */
  private def compute(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    try phases(spark, dir, p => sc.setJobDescription(s"hyperball $p"))
    finally sc.setJobDescription(caller)
  }

  private def phases(spark: SparkSession, dir: String,
                     phase: String => Unit): (DataFrame, DataFrame, DataFrame) = {
    // session-memoized symmetric edge table, src-partitioned: every
    // round (and the exact-ball probe) joins on src against this copy
    val edges = Iterative.symAllSrc(spark, dir)
    val nodeKinds = TpchGraph.nodes(spark, dir)
      .select(col("id").as("node"), col("kind"))

    // round 0: each node holds exactly its own hash's register
    val h = Sketch.mix(pmod(col("node"), lit(Sketch.HashMod)))
    val seeded = nodeKinds
      .select(col("node"), shiftright(h, SuffixBits).as("bucket"),
        (lit(Scale) - bitLen(pmod(h, lit(1L << SuffixBits)))).as("rho"))
    phase("pyramid+topk")
    var regs = seeded.select(col("node") +: packCols: _*).persist()
    val cached = scala.collection.mutable.ListBuffer(regs)
    val rounds = scala.collection.mutable.ListBuffer(regs) // r0..rIters
    for (_ <- 1 to Iters) {
      val next = mergeRound(regs, edges).persist()
      // EAGER fill: the next round's plan references this cache from
      // TWO independent map stages (the self-union side and the
      // edge-join side), which Spark submits concurrently — against an
      // unfilled cache each recomputes the round's whole lineage, and
      // the duplication compounds per round (measured: eager fills cut
      // the pyramid from ~51 s to ~12.5 s wall at sf0.1). A
      // delta-frontier variant was measured and rejected: 186,003 of
      // 186,030 register vectors still change in round 3 on this
      // corpus, so the frontier never shrinks and the per-round diff
      // join is pure overhead.
      next.count()
      cached += next
      rounds += next
      regs = next
    }

    val z = regs.select(col("node"), expr(zExpr).as("z"))
    // top-10 balls by integer order; tiny — checkpoint so the seeds
    // feed both the BFS probe and the final join without re-sorting
    val top = z.orderBy(col("z"), col("node")).limit(TopN).localCheckpoint()
    phase("probe+out")

    // exact |ball(seed, Iters)| for the winners only: 10-seed BFS in
    // FRONTIER form — only nodes first reached last round expand, and
    // the distinct runs over the expansion alone. The r13 shape
    // expanded the whole accumulated ball each round and distinct-ed
    // ball ∪ expansion, so round k re-joined and re-deduped everything
    // rounds 1..k-1 had already settled (ball₃ ≈ the reachable set ×
    // 10 seeds). Set equality is the textbook BFS invariant: a node at
    // distance k enters via a distance-(k-1) node.
    var ball = top.select(col("node").as("seed"), col("node"))
    var bfsFrontier = ball
    for (_ <- 1 to Iters) {
      val fresh = bfsFrontier.join(edges, bfsFrontier("node") === edges("src"))
        .select(col("seed"), col("dst").as("node"))
        .distinct()
        .join(ball, Seq("seed", "node"), "left_anti")
        .persist()
      cached += fresh
      ball = ball.unionAll(fresh) // disjoint by construction
      bfsFrontier = fresh
    }
    val balls = ball.groupBy("seed").agg(count(lit(1)).as("exact_ball"))

    // The three outputs are eagerly CHECKPOINTED, not persisted: their
    // logical plans span the whole register pyramid (3 unioned rounds ×
    // 27 level-mask aggregates each), and a persisted entry makes every later read
    // re-run Catalyst analysis over that tree — the suite measured
    // it_diameter/it_harmonic at ~0.9 s wall per run with exec ~0
    // (pure driver-side replanning, 3 runs per query per bench). A
    // LogicalRDD plan re-analyzes in O(1); the cold bypass cannot alias
    // a checkpoint (not CacheManager-registered), and the memo layer
    // already handles checkpoint-backed entries (see SessionMemo).
    val out = top
      .join(nodeKinds, "node")
      .join(balls, col("node") === col("seed"))
      .select(col("node"), col("kind"), col("z"),
        (lit(EstNumerator) / col("z")).as("est"), col("exact_ball"))
      .localCheckpoint(true) // materialize, then release the pyramid
    phase("harmonic")

    // harmonic centrality for the same TopN winners: per-round z read
    // off each persisted register round restricted to the 10 winners
    // (broadcast semi-join — the register tables never move)
    val roundZ = rounds.toList.zipWithIndex.map { case (r, t) =>
      r.join(broadcast(top.select("node")), "node")
        .select(col("node"), expr(zExpr).as(s"z$t"))
    }
    val estT = (t: Int) => lit(EstNumerator) / col(s"z$t")
    val harmExpr = (1 to Iters)
      .map(t => (estT(t) - estT(t - 1)) / lit(t.toDouble))
      .reduce(_ + _) // left-assoc: identical IEEE order in the oracle
    val harm = roundZ.reduce(_.join(_, "node"))
      .join(nodeKinds, "node")
      .select(col("node") :: col("kind") ::
        (0 to Iters).map(t => col(s"z$t")).toList :::
        harmExpr.as("harmonic") :: Nil: _*)
      .localCheckpoint(true)
    phase("neighborhood")

    // neighborhood function: one row per round t, exact-integer sums
    val estInt = EstNumerator.toLong
    val nbh = rounds.toList.zipWithIndex.map { case (r, t) =>
      r.select(expr(zExpr).as("z"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(expr(s"$estInt div z")).as("sum_est"))
        .select(lit(t.toLong).as("t"), col("n_nodes"), col("sum_est"))
    }.reduce(_ unionByName _)
      .withColumn("frac_of_final",
        col("sum_est").cast("double") /
          max(when(col("t") === Iters, col("sum_est")))
            .over(org.apache.spark.sql.expressions.Window
              .partitionBy(lit(0)))) // Iters+1 rows total
      .localCheckpoint(true)

    cached.foreach(_.unpersist())
    // a cold-mode bypass rebuilds all three; the memo layer only drains
    // Dataset-valued entries, so tuple members register here (the same
    // site-local rule as bandSweep's inner checkpoint, Dedup.scala)
    if (graft.SessionMemo.coldMode)
      Seq(out, harm, nbh).foreach(graft.SessionMemo.coldOrphans.add)
    (out, harm, nbh)
  }

  /** Effective diameter (Palmer/Faloutsos ANF convention): the
    * interpolated hop count at which the neighborhood function reaches
    * 90% of its final mass — THE one-number connectivity summary for a
    * web-scale graph, and free once [[neighborhood]]'s register
    * pyramid is paid for. The derivation runs over the Depth+1-row NF
    * artifact (bounded, like the Zipf head), with one fixed-order
    * interpolation both engines evaluate identically. */
  val DiameterFrac = 0.9

  def effectiveDiameter(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("t")
    val p = neighborhood(spark, dir)
      .select(col("t"), col("sum_est"), col("frac_of_final"))
      .withColumn("prev_frac", lag("frac_of_final", 1).over(w))
      .withColumn("prev_t", lag("t", 1).over(w))
    p.filter(col("frac_of_final") >= DiameterFrac)
      .orderBy("t").limit(1)
      .select(col("t").as("t90"),
        when(col("prev_frac").isNull, col("t").cast("double"))
          .otherwise(col("prev_t") +
            (lit(DiameterFrac) - col("prev_frac")) /
              (col("frac_of_final") - col("prev_frac"))).as("d_eff_90"),
        col("sum_est").as("nf_at_t90"))
  }
}
