package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.model.TpchGraph

/** The min-propagation round driver against plain-Scala references:
  * the unrolled join plan `v ⟕ min(frontier ⋈ edges)` round by round
  * (exact short of convergence, on multisets), and union-find for the
  * converged jump loop. */
class FixpointSpec extends SparkTestBase {
  import spark.implicits._

  private type Rows = Seq[(Long, Long)]

  /** `iters` rounds of the join plan, unrolled: round 0's frontier is
    * `f0` or every vertex row; each round lowers every row of `v` to the
    * least `label + w` its node receives from the frontier; the lowered
    * rows are the next frontier. */
  private def unrolled(v0: Rows, f0: Option[Rows], edges: Seq[(Long, Long, Long)],
                       iters: Int): Rows = {
    var v = v0
    var f = f0.getOrElse(v0)
    for (_ <- 0 until iters) {
      val m = (for ((u, l) <- f; (s, d, w) <- edges if s == u) yield (d, l + w))
        .groupMapReduce(_._1)(_._2)(math.min)
      val next = v.map { case (n, l) => (n, math.min(l, m.getOrElse(n, l))) }
      f = v.zip(next).collect { case ((_, l), (n, nl)) if nl < l => (n, nl) }
      v = next
    }
    v.sorted
  }

  private def rows(df: DataFrame): Rows =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def sym(e: Seq[(Long, Long, Long)]) = e ++ e.map { case (a, b, w) => (b, a, w) }

  private def minPlus(v0: Rows, f0: Option[Rows], edges: Seq[(Long, Long, Long)],
                      iters: Int): Rows =
    rows(Iterative.iterateMinPlus(v0.toDF("node", "label"),
      edges.toDF("src", "dst", "w"), iters, f0.map(_.toDF("node", "label"))))

  private val chain: Seq[(Long, Long, Long)] = sym((1L until 10L).map(i => (i, i + 1, 0L)))
  private val chainV: Rows = (1L to 10L).map(i => (i, i))

  test("2 rounds on a 10-node chain equal the unrolled rounds, short of convergence") {
    val got = rows(Iterative.iterateMin(chainV.toDF("node", "label"),
      chain.map(e => (e._1, e._2)).toDF("src", "dst"), 2, 0L))
    assert(got === unrolled(chainV, None, chain, 2))
    assert(got.toMap.apply(10L) === 8L) // not converged
  }

  test("a seed frontier whose labels differ from the vertex rows") {
    val v0 = (1L to 6L).map(i => (i, 100L))
    val f0 = Seq((1L, 0L), (4L, 5L))
    val e = sym((1L until 6L).map(i => (i, i + 1, 1L)))
    for (iters <- Seq(1, 2, 3, 8))
      assert(minPlus(v0, Some(f0), e, iters) === unrolled(v0, Some(f0), e, iters), s"iters $iters")
  }

  test("duplicate vertex rows, parallel edges and self-loops keep the join plan's multiset") {
    val v0 = Seq((1L, 1L), (2L, 2L), (2L, 7L), (3L, 3L), (3L, 3L), (4L, 9L), (5L, 5L))
    val e = sym(Seq((1L, 2L, 1L), (1L, 2L, 1L), (2L, 2L, 0L), (3L, 3L, 2L), (2L, 3L, 1L),
      (3L, 4L, 1L), (3L, 4L, 5L), (4L, 5L, 1L)))
    for (iters <- 1 to 4)
      assert(minPlus(v0, None, e, iters) === unrolled(v0, None, e, iters), s"iters $iters")
    val f0 = Seq((2L, 0L), (2L, 1L))
    assert(minPlus(v0, Some(f0), e, 3) === unrolled(v0, Some(f0), e, 3))
  }

  test("messages to nodes missing from the vertex rows are dropped") {
    val v0 = Seq((1L, 1L), (2L, 2L), (3L, 3L))
    // 9 has no vertex row: it never joins the output or the frontier;
    // the seed 7 has none either, but still sends its messages
    val e = Seq((1L, 2L, 0L), (2L, 3L, 0L), (3L, 9L, 0L), (9L, 1L, 0L), (7L, 3L, 0L))
    val f0 = Seq((7L, 0L), (1L, 1L))
    assert(minPlus(v0, None, e, 5) === unrolled(v0, None, e, 5))
    assert(minPlus(v0, Some(f0), e, 5) === unrolled(v0, Some(f0), e, 5))
    assert(minPlus(v0, Some(f0), e, 5) === Seq((1L, 1L), (2L, 1L), (3L, 0L)))
  }

  test("weighted SSSP equals the unrolled min-plus rounds") {
    val n = 30L
    val e = sym((0L until n).flatMap(i => Seq((i, (i * 7 + 3) % n, i % 5 + 1),
      (i, (i + 1) % n, (i * 3) % 4 + 2))))
    val v0 = (0L until n).map(i => (i, if (i % 13 == 0) 0L else Iterative.Unreachable))
    val f0 = v0.filter(_._2 == 0L)
    for (iters <- Seq(1, 3, Iterative.SsspIters))
      assert(minPlus(v0, Some(f0), e, iters) === unrolled(v0, Some(f0), e, iters), s"iters $iters")
  }

  test("the output keeps (node, label) and the vertex rows' node type") {
    val v0 = Seq((1, 1L), (2, 2L)).toDF("node", "label")
    val out = Iterative.iterateMin(v0, Seq((1, 2)).toDF("src", "dst"), 2, 0L)
    assert(out.columns.toSeq === Seq("node", "label"))
    assert(out.schema("node").dataType === v0.schema("node").dataType)
    assert(rows(out.select(col("node").cast("long"), col("label"))) === Seq((1L, 1L), (2L, 1L)))
  }

  test("each round job is described by its round and frontier; the caller's description is restored") {
    val sc = spark.sparkContext
    val (seen, _) = traced({
      val group = sc.getLocalProperty("spark.jobGroup.id")
      val out = Iterative.iterateMin(chainV.toDF("node", "label"),
        chain.map(e => (e._1, e._2)).toDF("src", "dst"), 50, 0L)
      assert(sc.getLocalProperty("spark.job.description") === "caller")
      assert(sc.getLocalProperty("spark.jobGroup.id") === group)
      out.collect()
    }, "caller")
    val rounds = seen.filter(_.startsWith("fixpoint min round"))
    // CC on an id-ordered chain: round r lowers the 9 - r nodes past r + 1
    assert(rounds === (0 until 10).map(r => s"fixpoint min round $r: frontier ${10 - r}"))
    assert(seen.last === "caller") // the collect
  }

  test("superseded rounds are released without the local-checkpoint unpersist warning") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("fixpoint-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    def warned = {
      import scala.jdk.CollectionConverters._
      lines.asScala.count(_.contains("was locally checkpointed"))
    }
    root.addAppender(appender)
    try {
      // the capture sees the warning a plain unpersist of a local checkpoint logs
      val probe = spark.sparkContext.parallelize(1 to 4)
      probe.localCheckpoint(); probe.count(); probe.unpersist()
      assert(warned === 1, lines)
      lines.clear()
      val got = rows(Iterative.iterateMin(chainV.toDF("node", "label"),
        chain.map(e => (e._1, e._2)).toDF("src", "dst"), 50, 0L))
      assert(got.forall(_._2 == 1L) && got.size == 10)
      assert(warned === 0, lines)
    } finally {
      root.removeAppender(appender)
      appender.stop()
    }
  }

  /** least node id of each node's component, over `edges` */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      parent(ra) = ra; parent(rb) = rb
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  test("the jump loop converges to union-find's component minima") {
    // scrambled ids along long chains plus a few cross links: the
    // shortcut must do the doubling, not the hops
    val ids = (0L until 200L).map(i => (i * 73) % 200 + 1)
    val e = ids.sliding(2).collect { case Seq(a, b) if a % 50 != 0 => (a, b) }.toSeq ++
      Seq((ids(10), ids(120)), (ids(3), ids(77)))
    val v0 = ids.map(i => (i, i)).toDF("node", "label")
    val se = (e ++ e.map(_.swap)).toDF("src", "dst")
    val got = rows(Iterative.iterateMinJump(v0, se, Iterative.CcConvergeIters)).toMap
    val isolated = ids.filterNot(unionFind(e).contains).map(i => i -> i)
    assert(got === unionFind(e) ++ isolated)
  }

  test("converged cc equals union-find on both paths: one task and the jump loop") {
    val dir = "/root/testdata/sf0.001"
    val e = TpchGraph.relsLite(spark, dir).filter(col("type") === "HAS_PART")
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expect = unionFind(e)
    for (cutoff <- Seq(Iterative.CcLocalEdgeCutoffDefault, 0L)) {
      spark.conf.set(Iterative.CcLocalEdgeCutoffKey, cutoff.toString)
      try assert(rows(Iterative.ccLabelsConverged(spark, dir)).toMap === expect, s"cutoff $cutoff")
      finally spark.conf.unset(Iterative.CcLocalEdgeCutoffKey)
    }
  }
}
