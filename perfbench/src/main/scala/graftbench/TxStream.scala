package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.checker.DiffCheck
import graft.operators.EngineSession

/** The transaction stream of `graph_fixpoint`: one client sends seeded
  * batches of transactions through an [[EngineSession]] (create nodes and
  * relationships, set properties, add index entries, delete some
  * entities), interleaves point reads, and after each batch commits
  * checks the batch's DiffStore with [[DiffCheck.violationsFromDiffs]]
  * before the next batch starts. Bound by the driver; little data moves.
  * The session restarts from a preloaded graph every `epoch` batches so
  * per-commit cost does not depend on how many batches a run reaches. */
final class TxStream(spark: SparkSession, seed: Long) {
  val preloadNodes = 1000
  val preloadRels = 2000
  val txPerBatch = 8
  val epoch = 25
  /** share of a batch's node diffs whose old back-pointer dangles, in % */
  val danglingPct = 25

  /** the seed's parameters: names, score range and per-batch streams
    * are drawn from this table, so the seed is an input like the others */
  def tables(s: Long): Seq[(String, DataFrame)] = Seq(
    "names" -> spark.range(256).select(col("id"),
      concat(lit("n"), Gen.below(100000, s, 20, col("id")).cast("string")).as("name")))

  private var names: Array[String] = Array.empty
  def load(dir: String): Unit =
    names = spark.read.parquet(s"$dir/names").orderBy("id").collect().map(_.getString(1))

  // the benchmark's own record of what it wrote
  private var session: EngineSession = _
  private val props = mutable.HashMap[Long, Map[String, String]]()
  private val relsOf = mutable.HashMap[Long, mutable.Set[Long]]()
  private val relEnds = mutable.HashMap[Long, (Long, Long)]()
  private val index = mutable.HashMap[String, mutable.Set[Long]]()
  private var liveNodes = mutable.ArrayBuffer[Long]()
  private val lonely = mutable.LinkedHashSet[Long]()
  private var batch = 0L

  private def rng(b: Long) = new java.util.SplittableRandom(seed * 1000003L + b)

  private def record(tx: EngineSession.Tx, id: Long, r: java.util.SplittableRandom): Unit = {
    val name = names(r.nextInt(names.length))
    val p = Map("name" -> name, "score" -> r.nextInt(1000).toString)
    p.foreach { case (k, v) => tx.setProperty(id, k, v) }
    tx.indexAdd("people", "name", name, id)
    props(id) = p
    index.getOrElseUpdate(name, mutable.Set()) += id
    relsOf(id) = mutable.Set()
    liveNodes += id
    lonely += id
  }

  private def relate(tx: EngineSession.Tx, a: Long, b: Long, r: java.util.SplittableRandom): Long = {
    val id = tx.createRelationship(a, b, if (r.nextBoolean()) "KNOWS" else "LIKES")
    relsOf(a) += id; relsOf(b) += id
    lonely -= a; lonely -= b
    relEnds(id) = (a, b)
    id
  }

  private def restart(): Unit = {
    session = new EngineSession(spark)
    Seq(props, relsOf, relEnds, index).foreach(_.clear())
    lonely.clear()
    liveNodes = mutable.ArrayBuffer(0L)
    props(0L) = Map.empty
    relsOf(0L) = mutable.Set()
    val r = rng(-1L - batch)
    val tx = session.beginTx()
    (0 until preloadNodes).foreach(_ => record(tx, tx.createNode(), r))
    (0 until preloadRels).foreach { _ =>
      relate(tx, liveNodes(1 + r.nextInt(preloadNodes)), liveNodes(1 + r.nextInt(preloadNodes)), r)
    }
    tx.success(); tx.finish()
  }

  private def pick(r: java.util.SplittableRandom): Long = liveNodes(r.nextInt(liveNodes.size))

  /** The interleaved reads after a commit, each checked against the
    * benchmark's record. */
  private def reads(h: Harness, r: java.util.SplittableRandom): Unit = {
    val n = pick(r)
    h.quick("node_by_id", "operators.api")(session.nodeById(n))
      .foreach(got => h.verify("node_by_id", got == props(n), s"node $n: $got"))
    val m = pick(r)
    h.quick("expand", "operators.api")(session.relationships(m))
      .foreach(got => h.verify("expand", got.map(_._1).toSet == relsOf(m).toSet, s"node $m"))
    val name = names(r.nextInt(names.length))
    h.quick("index_get", "operators.api")(session.indexGet("people", "name", name))
      .foreach(got => h.verify("index_get", got.toSet == index.getOrElse(name, Set.empty).toSet,
        s"name $name"))
  }

  /** one batch: its transactions and reads, then its diff check */
  def batch(h: Harness): Unit = {
    if (session == null || batch % epoch == 0) restart()
    val r = rng(batch)
    batch += 1
    val t0 = System.nanoTime()
    // (node id, old next_rel) pairs of the batch's DiffStore; dangling
    // pointers target an id no relationship of the batch has
    val nodeDiffs = mutable.ArrayBuffer[(Long, Long)]()
    val newRels = mutable.ArrayBuffer[Long]()
    var dangling = 0L
    var ok = true
    for (_ <- 0 until txPerBatch if ok) {
      val tx = session.beginTx()
      val a = tx.createNode(); record(tx, a, r)
      val b = tx.createNode(); record(tx, b, r)
      val rels = Seq(relate(tx, a, b, r), relate(tx, pick(r), a, r))
      // a relationship and a relationship-free node are deleted now and then
      if (r.nextInt(4) == 0) relsOf(pick(r)).filterNot(rels.contains).headOption.foreach { id =>
        tx.deleteRelationship(id)
        val (x, y) = relEnds.remove(id).get
        Seq(x, y).foreach { n => relsOf(n) -= id; if (relsOf(n).isEmpty && n != 0L) lonely += n }
      }
      if (r.nextInt(3) == 0) lonely.headOption.foreach { n =>
        tx.delete(n)
        lonely -= n; props.remove(n); relsOf.remove(n); liveNodes -= n
      }
      tx.success()
      ok = h.quick("commit", "operators.api")(tx.finish()).isDefined
      if (ok) {
        newRels ++= rels
        Seq(a, b).foreach { n =>
          val dang = r.nextInt(100) < danglingPct
          if (dang) dangling += 1
          nodeDiffs += n -> (if (dang) 1000000000L + n else rels.head)
        }
        reads(h, r)
      }
    }
    if (!ok) session = null // the record may be ahead of a failed commit: start over
    else {
      import spark.implicits._
      val nodes = nodeDiffs.toSeq.map { case (id, old) => (id, old, -1L, -1L, -1L) }
        .toDF("id", "o_next_rel", "n_next_rel", "o_next_prop", "n_next_prop")
      val rels = newRels.toSeq.map(id => (id, -1L, -1L, -1L, -1L, -1L, -1L, -1L, -1L, -1L, -1L))
        .toDF("id", "o_first_prev", "n_first_prev", "o_first_next", "n_first_next",
          "o_second_prev", "n_second_prev", "o_second_next", "n_second_next",
          "o_next_prop", "n_next_prop")
      val noProps = Seq.empty[(Long, Long, Long, Long, Long)]
        .toDF("id", "o_prev_prop", "n_prev_prop", "o_next_prop", "n_next_prop")
      val noNeo = Seq.empty[(Long, Long, Long)].toDF("id", "o_next_prop", "n_next_prop")
      h.call("diff_check", "checker.diff")(DiffCheck.violationsFromDiffs(
        DiffCheck.TxDiffs(nodes = nodes, rels = rels, props = noProps, neo = noNeo)).count())
        .foreach { case (v, _) =>
          h.verify("diff_check", v == dangling, s"$v violations, $dangling dangling pointers")
        }
      h.record("batch", (System.nanoTime() - t0) / 1e9)
    }
  }

  def named(h: Harness): Seq[(String, Double, String)] = {
    val b = h.seconds("batch")
    val reads = Seq("node_by_id", "expand", "index_get").flatMap(h.seconds)
    Seq(
      ("tx_per_s", txPerBatch * b.size / b.sum, "1/s"),
      ("tx_batch_p50_ms", Stats.q(b, 0.5) * 1e3, "ms"),
      ("tx_batch_p90_ms", Stats.q(b, 0.9) * 1e3, "ms"),
      ("read_p50_us", Stats.q(reads, 0.5) * 1e6, "us"),
      ("read_p90_us", Stats.q(reads, 0.9) * 1e6, "us"),
      ("batches", b.size.toDouble, "count"),
      ("reads", reads.size.toDouble, "count"))
  }

  def layers(h: Harness, spans: Seq[Span]): Seq[(String, Double, String)] = {
    val diff = Workload.callFigures(h, spans, "diff_check", "checker.diff", h.cores)
    def get(n: String) = diff.find(_._1 == s"checker.diff.$n").map(_._2).getOrElse(0.0)
    def us(n: String, p: Double) = Stats.q(h.seconds(n), p) * 1e6
    val commits = h.seconds("commit")
    val lastDecile = commits.drop(commits.size * 9 / 10)
    Seq(
      ("checker.diff.p50_ms", Stats.median(h.seconds("diff_check")) * 1e3, "ms"),
      ("checker.diff.plan_ms", get("plan_ms"), "ms"),
      ("checker.diff.jobs_per_batch", get("jobs"), "count"),
      ("checker.diff.tasks_per_batch", get("tasks"), "count"),
      ("checker.diff.exec_ms_per_batch", get("exec_s") * 1e3, "ms"),
      ("checker.diff.idle_core_frac", get("idle_core_frac"), "ratio"),
      ("api.commit_p50_us", us("commit", 0.5), "us"),
      ("api.commit_p90_us", us("commit", 0.9), "us"),
      ("api.commit_last_decile_us", Stats.median(lastDecile) * 1e6, "us"),
      ("api.node_by_id_p50_us", us("node_by_id", 0.5), "us"),
      ("api.expand_p50_us", us("expand", 0.5), "us"),
      ("api.index_get_p50_us", us("index_get", 0.5), "us"))
  }
}
