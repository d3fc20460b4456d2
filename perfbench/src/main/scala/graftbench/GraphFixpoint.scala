package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Iterative

/** `graph_fixpoint`: connected components on a random small-diameter
  * graph (`wide`: few rounds, big frontiers) and on chains (`deep`: one
  * round per hop, little data per round), plus SSSP on the chains. It
  * separates per-round overhead from data volume. Each cycle first sends
  * a batch of [[TxStream]]'s seeded transactions, so the driver-bound API
  * and per-batch diff check run in the same process. */
final class GraphFixpoint(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  private val tx = new TxStream(spark, seed)
  val txBatches = 1
  val wideN = 6000L
  val wideDegree = 8
  val chains = 16
  val chainLen = 10
  /** round cap far above either shape's diameter: the frontier empties first */
  val iters = 200
  /** Broadcast cap for a round's frontier, lowered from the engine's
    * default (2M rows) so that, at these sizes, `wide`'s first rounds
    * (up to 6,000-row frontiers) join co-partitioned as big frontiers do
    * at scale, while every `deep` round (at most 160 nodes) broadcasts. */
  val broadcastMaxRows = 1000L
  spark.conf.set(Iterative.BroadcastMaxRowsKey, broadcastMaxRows)

  def mainCall = "cc_deep"
  def throughputUnit = "vertices labelled/s"

  def tables(s: Long): Seq[(String, DataFrame)] = {
    val deep = Gen.deepNodes(spark, s, chains, chainLen, Iterative.Unreachable)
    Seq(
      "wide_edges" -> Gen.wideEdges(spark, s, wideN, wideDegree),
      "wide_nodes" -> Gen.wideNodes(spark, wideN),
      "deep_nodes" -> deep.select("node", "label"),
      "deep_edges" -> Gen.deepEdges(deep, s)) ++ tx.tables(s)
  }

  private var in: Map[String, DataFrame] = Map.empty
  private var expectWide: Map[Long, Long] = Map.empty
  private var expectDeepCc: Map[Long, Long] = Map.empty
  private var expectSssp: Map[Long, Long] = Map.empty
  private var vertices = 0L

  def load(dir: String): Unit = {
    in = tables(seed).map { case (n, _) => n -> spark.read.parquet(s"$dir/$n") }.toMap
    // independent answers, computed on the driver from the same files
    def pairs(df: DataFrame) =
      df.select("src", "dst").collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val wideNodes = in("wide_nodes").collect().toSeq.map(_.getLong(0))
    val deepRows = in("deep_nodes").collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val deepW = in("deep_edges").collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    expectWide = GraphFixpoint.components(wideNodes, pairs(in("wide_edges")))
    expectDeepCc = GraphFixpoint.components(deepRows.map(_._1), deepW.map(e => (e._1, e._2)))
    expectSssp = GraphFixpoint.dijkstra(deepRows, deepW, Iterative.Unreachable)
    vertices = wideNodes.length.toLong + 2L * deepRows.length
    tx.load(dir)
  }

  private def sym(e: DataFrame, cols: String*): DataFrame =
    e.unionAll(e.select(col("dst").as("src") +: col("src").as("dst") +: cols.map(col): _*))

  /** run one fixpoint call; its labels are checked against the driver's */
  private def run(h: Harness, name: String, expect: Map[Long, Long])(
      labels: => DataFrame): Unit =
    h.call(name, "operators.iterative") {
      val v = labels.persist()
      v.count()
      v
    }.foreach { case (v, _) =>
      val got = v.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      v.unpersist()
      val bad = expect.count { case (k, l) => !got.get(k).contains(l) } + (got.size - expect.size).abs
      h.verify(name, bad == 0, s"$bad labels differ from the driver's computation")
    }

  /** One whole cycle, checked like the others. A warm-in cut short to a
    * few rounds a call leaves the measured cycles slower and noisier. */
  def warmIn(h: Harness): Unit = cycle(h)

  def cycle(h: Harness): Unit = {
    (0 until txBatches).foreach(_ => tx.batch(h))
    run(h, "cc_wide", expectWide)(Iterative.iterateMin(
      in("wide_nodes").select(col("node"), col("node").as("label")),
      sym(in("wide_edges")), iters, 0L))
    run(h, "cc_deep", expectDeepCc)(Iterative.iterateMin(
      in("deep_nodes").select(col("node"), col("node").as("label")),
      sym(in("deep_edges").select("src", "dst")), iters, 0L))
    val deep = in("deep_nodes")
    run(h, "sssp_deep", expectSssp)(Iterative.iterateMinPlus(deep,
      sym(in("deep_edges"), "w"), iters, frontier0 = Some(deep.filter(col("label") === 0L))))
    h.sampleCache()
  }

  def throughput(h: Harness): Double = {
    val per = Seq("cc_wide", "cc_deep", "sssp_deep").map(n => Stats.median(h.seconds(n))).sum
    vertices / per
  }

  def named(h: Harness): Seq[(String, Double, String)] = Seq(
    ("cc_wide_s", Stats.median(h.seconds("cc_wide")), "s"),
    ("cc_deep_s", Stats.median(h.seconds("cc_deep")), "s"),
    ("sssp_deep_s", Stats.median(h.seconds("sssp_deep")), "s")) ++ tx.named(h)

  def layers(h: Harness, spans: Seq[Span]): Seq[(String, Double, String)] =
    Seq("cc_wide", "cc_deep", "sssp_deep").flatMap { n =>
      Workload.callFigures(h, spans, n, s"iterative.$n", h.cores)
        .filter(x => Set("jobs", "stages", "tasks", "exec_s", "gc_s", "shuffle_write_mb",
          "idle_core_frac")(x._1.stripPrefix(s"iterative.$n.")))
    } ++ tx.layers(h, spans)
}

object GraphFixpoint {
  /** union-find: each node's label is the least id of its component */
  def components(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var y = x
      while (y != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    nodes.foreach(n => parent(n) = n)
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    nodes.map(n => n -> find(n)).toMap
  }

  /** Dijkstra over the undirected weighted edges from every label-0 node */
  def dijkstra(nodes: Seq[(Long, Long)], edges: Seq[(Long, Long, Long)],
               unreachable: Long): Map[Long, Long] = {
    val adj = mutable.HashMap[Long, mutable.ArrayBuffer[(Long, Long)]]()
    edges.foreach { case (a, b, w) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer()) += (b -> w)
      adj.getOrElseUpdate(b, mutable.ArrayBuffer()) += (a -> w)
    }
    val dist = mutable.HashMap[Long, Long]()
    nodes.foreach { case (n, l) => dist(n) = l }
    val pq = mutable.PriorityQueue[(Long, Long)]()(Ordering.by[(Long, Long), Long](_._1).reverse)
    nodes.filter(_._2 == 0L).foreach { case (n, _) => pq.enqueue(0L -> n) }
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (d == dist(u)) adj.getOrElse(u, Nil).foreach { case (v, w) =>
        if (d + w < dist(v)) { dist(v) = d + w; pq.enqueue((d + w) -> v) }
      }
    }
    dist.toMap.map { case (k, v) => k -> math.min(v, unreachable) }
  }
}
