package graft.operators

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class IterativeSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  test("cc labels are fixpoint-consistent: every edge joins same-label nodes") {
    val cc = Iterative.connectedComponents(spark, dir)
    val rels = graft.model.TpchGraph.rels(spark, dir)
      .filter(col("type") === "HAS_PART")
    // after convergence, an edge with different labels would mean the
    // bounded iteration stopped early — assert none (diameter small)
    val crossing = rels
      .join(cc.select(col("node").as("src"), col("label").as("la")), "src")
      .join(cc.select(col("node").as("dst"), col("label").as("lb")), "dst")
      .filter(col("la") =!= col("lb"))
    assert(crossing.count() === 0L)
    // label is a member of its own component (min id)
    assert(cc.filter(col("label") > col("node")).count() === 0L)
  }

  test("converged cc labels are a true fixpoint: zero crossing edges, canonical labels") {
    val cc = Iterative.ccLabelsConverged(spark, dir)
    val rels = graft.model.TpchGraph.rels(spark, dir)
      .filter(col("type") === "HAS_PART")
    val crossing = rels
      .join(cc.select(col("node").as("src"), col("label").as("la")), "src")
      .join(cc.select(col("node").as("dst"), col("label").as("lb")), "dst")
      .filter(col("la") =!= col("lb"))
    assert(crossing.count() === 0L)
    assert(cc.filter(col("label") > col("node")).count() === 0L)
    // and every label is itself a member node (canonical min-id)
    val labels = cc.select(col("label")).distinct()
    assert(labels.join(cc.select(col("node").as("label")), Seq("label"), "left_anti")
      .count() === 0L)
  }

  test("converged cc: union-find cutoff and jump-loop paths agree exactly") {
    val uf = Iterative.ccLabelsConverged(spark, dir) // default cutoff: union-find
    spark.conf.set(Iterative.CcLocalEdgeCutoffKey, "0") // force the loop
    try {
      val loop = Iterative.ccLabelsConverged(spark, dir)
      assert(uf.exceptAll(loop).count() === 0L)
      assert(loop.exceptAll(uf).count() === 0L)
    } finally spark.conf.unset(Iterative.CcLocalEdgeCutoffKey)
  }

  test("lpa on a path graph walks the hand-computed synchronous trajectory") {
    import spark.implicits._
    // path 1-2-3, symmetric. Synchronous min-tie LPA:
    // r1: 1->2, 2->1 (tie {2,3} -> hmm labels of nbrs {2's? no: nbr
    // labels are node ids initially: {1,3} -> min 1), 3->2
    // r2: 1->1? nbr 2 has label 1 -> 1; 2: nbrs labels {2,2} -> 2; 3: 1
    // r3: 1: nbr 2 label 2 -> 2; 2: nbrs {1,1} -> 1; 3: 2
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val got = Iterative.lpaRounds(sym, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
  }

  test("lpa labels are partitioning-invariant") {
    val a = Iterative.labelPropagation(spark, dir)
    val rels = graft.model.TpchGraph.relsLite(spark, dir)
      .filter(col("type") === "HAS_PART").repartition(7)
    val sym = rels.select(col("src"), col("dst"))
      .unionAll(rels.select(col("dst").as("src"), col("src").as("dst")))
    val b = Iterative.lpaRounds(sym, Iterative.LpaIters)
    assert(a.exceptAll(b).count() === 0L)
    assert(b.exceptAll(a).count() === 0L)
  }

  test("bfs depths from regions: nations at 1, customers/suppliers at 2, orders 3, parts 4") {
    val depths = Iterative.bfsDepth(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(depths(0L) === 5L)   // regions
    assert(depths(1L) === 25L)  // nations
    assert(depths.contains(2L) && depths.contains(3L) && depths.contains(4L))
    assert(!depths.contains(Iterative.Unreachable)) // everything connected
  }

  test("iterateMin over a persisted, unmaterialized self-join stays at the core count") {
    // the dedup-cluster shape: pair edges derived from a cached join
    // that has not run yet, so its Catalyst estimate is the product of
    // its inputs' sizes (~10^14 bytes for 3 × 3,000 rows) and nothing
    // grounds it in real bytes
    val t = spark.range(0L, 3000L)
      .select(col("id").as("x"), (col("id") / 3).cast("long").as("g"))
    val pairs = t.as("p")
      .join(t.as("q"), col("p.g") === col("q.g") && col("p.x") < col("q.x"))
      .join(t.as("r"), col("r.x") === col("q.x"))
      .select(col("p.x").as("a"), col("r.x").as("b"))
      .persist()
    assert(pairs.queryExecution.optimizedPlan.stats.sizeInBytes >= BigInt(10).pow(13))
    // both orientations from ONE scan: a union would double the input
    // partitions of the stages that read it, past the core count
    val edges = pairs.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select("e.*")
    val v = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    // a stage wider than the core count cancels the run at once, so a
    // partition count taken from the estimate fails here in seconds
    // instead of scheduling its ~10^6 tasks
    val sc = spark.sparkContext
    val cap = sc.defaultParallelism
    val group = "iterative-core-count"
    val wide = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group) &&
            e.stageInfo.numTasks > cap) {
          wide.add(e.stageInfo.numTasks)
          sc.cancelJobGroup(group)
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "iterateMin over an unmaterialized cached join")
    val got = try {
      Iterative.iterateMin(v, edges, 10, 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    } catch {
      case e: SparkException => fail(s"cancelled: stages of $wide tasks (cap $cap)", e)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    // reference labels: union-find over the collected pairs
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
    pairs.collect().foreach { r =>
      val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
      parent(ra) = ra; parent(rb) = rb
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    pairs.unpersist()
    assert(wide.isEmpty, s"stages of $wide tasks (cap $cap)")
    assert(got.nonEmpty && got === parent.keys.map(n => n -> find(n)).toMap)
  }
}
