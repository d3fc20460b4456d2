package graft

/** Plan-shape regression guards for the fixes that perf depends on —
  * the numbers in BENCH only hold while these shapes hold, so they are
  * pinned as asserts:
  *
  *  - dd_minhash_lsh must score CANDIDATES (joins keyed by doc id or
  *    (doc, sfp)) — an sfp-only join is the full inverted-index pair
  *    expansion that defeated the LSH in r2;
  *  - rec_chain_reconstruction must stay a partial-agg plan — no
  *    per-node array materialization;
  *  - q03_topk must compile to TakeOrderedAndProject (per-partition
  *    top-k), never a global sort.
  */
class PlanInvariantsSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  test("entry smoke: SparkEntry.entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0L)
  }

  test("dd_minhash_lsh verify path has no pair-expansion join (candidate-scored)") {
    val p = plan("dd_minhash_lsh")
    // the r2 anti-shape: sh(a) ⋈ sh(b) keyed ONLY by the shingle
    // fingerprint with the pair condition (a < b) pushed into the join
    // — the full inverted-index pair expansion. The df-cap semi-join
    // also keys on sfp but carries no pair condition; candidate
    // scoring joins on doc id or (doc id, sfp).
    // build side is optional: SortMergeJoin prints no build side while
    // ShuffledHashJoin does, and which one the planner picks follows
    // the (persisted) shingle table's size estimates — the anti-shape
    // is the sfp-keyed join with the pair condition, not the strategy
    val pairExpansion =
      raw"Join \[sfp#\d+L\], \[sfp#\d+L\], Inner, (\w+, )?\(\w#\d+L < \w#\d+L\)".r
    assert(pairExpansion.findFirstIn(p).isEmpty, p)
    // and the ngram path (which legitimately expands pairs) proves the
    // regex matches the anti-shape
    val ngram = plan("dd_ngram_jaccard")
    assert(pairExpansion.findFirstIn(ngram).isDefined, ngram)
  }

  test("rec_chain_reconstruction has no array materialization") {
    val p = plan("rec_chain_reconstruction")
    assert(!p.contains("collect_list"), p)
    assert(!p.contains("sort_array"), p)
    assert(p.contains("partial"), p) // map-side partial aggregation
  }

  test("dd_band_sweep probes ONE materialized signature table (single subtree)") {
    // Round12OpsSpec proves output equivalence to the per-config form;
    // this pins the PLAN fact behind the r12 rewrite: the 16-min
    // signature aggregation materializes once (localCheckpoint) and
    // both pair sides scan that SAME RDD — the r11 regression (each
    // probe re-running the ~30 exec-s aggregation) would resurface
    // here as two distinct rdd ids or as inline min-aggs instead of
    // RDD scans (VERDICT r12 Next #7).
    val df = graft.operators.Dedup.bandSweep(spark, dir)
    val sigRdds = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD
          if l.output.exists(_.name == "mh0") => l.rdd.id
    }
    assert(sigRdds.size == 2,
      s"expected both pair sides to probe the checkpointed signature table, saw rdd ids $sigRdds")
    assert(sigRdds.distinct.size == 1,
      s"signature table materialized more than once: rdd ids $sigRdds")
  }

  test("q03_topk is per-partition top-k, not a global sort") {
    val p = plan("q03_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("t_pii is one shuffle-free projection") {
    val p = plan("t_pii")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("regexp_extract_all"), p)
  }

  test("t_pii_redact is one shuffle-free projection (map-only transform)") {
    val p = plan("t_pii_redact")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("regexp_replace"), p)
  }

  test("pipe_pack and pipe_mixture window per source, never a single partition") {
    for (q <- Seq("pipe_pack", "pipe_mixture")) {
      val p = plan(q)
      // the cumsum/rank window must be hash-partitioned by source —
      // a global (SinglePartition) window is the anti-shape that
      // serializes 100 TB through one task
      assert(p.contains("hashpartitioning(source"), s"$q:\n$p")
      assert(!p.contains("SinglePartition"), s"$q:\n$p")
    }
  }

  test("pipe_domain_cap and mm_shard_pack window per source, never a single partition") {
    for (q <- Seq("pipe_domain_cap", "mm_shard_pack")) {
      val p = plan(q)
      assert(p.contains("hashpartitioning(source"), s"$q:\n$p")
      assert(!p.contains("SinglePartition"), s"$q:\n$p")
    }
  }

  test("emb_knn_graph pairs only within capped candidate groups — no cartesian, no uncapped bucket join") {
    val p = plan("emb_knn_graph")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the per-vector top-k window partitions by qid, never globally
    assert(!p.contains("SinglePartition"), p)
    // the corpus×corpus candidate join must key on the occupancy-capped
    // (key1, slice) group, never on the raw fixed-plane bucket alone —
    // the r7 anti-shape whose within-bucket pair count grows
    // quadratically with the corpus (Similarity.knnCandidates)
    val pairJoin = raw"Join \[key1#\d+L, slice#\d+L\], \[key1#\d+L, slice#\d+L\]".r
    assert(pairJoin.findFirstIn(p).isDefined, p)
    // and the occupancy dimensions ride broadcast, not shuffle
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("t_zipf head extraction is distributed top-k, not a global sort") {
    val p = plan("t_zipf")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q42_kmv_intersect bottom-k sketches are TakeOrdered, never full sorts") {
    val p = plan("q42_kmv_intersect")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q43_mad aggregates the value histogram with map-side partials") {
    val p = plan("q43_mad")
    assert(p.contains("partial"), p)
    // phase-1 medians broadcast back; the fact side never sort-merges
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("dd_decontaminate broadcasts the benchmark side — corpus never shuffles on the gram key") {
    val p = plan("dd_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    // the corpus-side join must not sort-merge (that would shuffle
    // every corpus gram); the only exchanges allowed are the per-doc
    // aggregation's
    assert(!p.contains("SortMergeJoin"), p)
  }

  private def chainCc(iters: Int): Seq[(Long, Long)] = {
    import spark.implicits._
    import graft.operators.Iterative
    val v = (1L to 10L).map(i => (i, i)).toDF("node", "label")
    val e = (1L until 10L).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("src", "dst")
    Iterative.iterateMin(v, e, iters, 0L).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("fixpoint round: a 10-node chain call runs at most rounds + 3 jobs") {
    var got = Seq.empty[(Long, Long)]
    val (jobs, _) = traced { got = chainCc(50) }
    assert(got.forall(_._2 == 1L) && got.size == 10)
    val rounds = jobs.count(_.startsWith("fixpoint min round"))
    // one job per round: 9 hops plus the round that finds no change
    assert(rounds === 10, jobs)
    assert(jobs.size <= rounds + 3, jobs)
  }

  test("fixpoint adjacency: one edge shuffle per call, not one per round") {
    import graft.operators.Iterative
    val (jobs, stages) = traced(chainCc(50))
    assert(jobs.count(_.startsWith("fixpoint min round")) > 1, jobs)
    assert(stages.count(_.contains(Iterative.FixpointEdgesName)) === 1, stages)
  }

  test("pipe_epoch_shuffle windows per (epoch, shard), never a single partition") {
    val p = plan("pipe_epoch_shuffle")
    assert(p.contains("hashpartitioning(epoch"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("s_windowed_distinct register aggregation is partial and window-free") {
    val p = plan("s_windowed_distinct")
    // HLL registers must combine map-side; an exact distinct-per-window
    // (expand or two-phase count distinct over user_id) is the anti-shape
    assert(p.contains("partial"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("it_triangles wedge join is equi-keyed — no cartesian anywhere") {
    import graft.operators.GraphOps
    // inspect the un-checkpointed lineage: the public triangleStats
    // materializes through localCheckpoint, which hides the joins
    val (res, caches) = GraphOps.triangleStatsLazy(
      GraphOps.triangleRawEdges(spark, dir))
    val p = res.queryExecution.executedPlan.toString
    assert(p.contains("Join"), p) // non-vacuous: the wedge joins are visible
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    caches.foreach(_.unpersist())
  }

  test("t_bpe_pairs is per-partition top-k over a partial count — no global sort") {
    val p = plan("t_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial"), p) // map-side combined pair counts
  }

  test("q09_rollup is one Expand + one aggregate exchange, not a scan per level") {
    val p = plan("q09_rollup")
    assert(p.linesIterator.count(_.contains("Expand")) === 1, p)
    assert(p.linesIterator.count(_.contains("FileScan parquet")) === 1, p)
  }

  test("q08_hll_distinct register aggregation is partial (map-side combine)") {
    val p = plan("q08_hll_distinct")
    // the max-rho register merge must partial-aggregate before the
    // exchange — the property that makes the sketch one cheap pass
    assert(p.contains("partial_max"), p)
  }

  test("kcore dropped-set guard: large dropped set must not broadcast") {
    import spark.implicits._
    import graft.operators.Iterative
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val prev = spark.conf.getOption(Iterative.BroadcastMaxRowsKey)
    spark.conf.set(Iterative.BroadcastMaxRowsKey, "0") // everything "large"
    val prevAuto = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val survivors = Iterative.kcoreSurvivors(edges, k = 3, iters = 1)
      assert(!survivors.queryExecution.executedPlan.toString
        .contains("BroadcastExchange"))
    } finally {
      prev.fold(spark.conf.unset(Iterative.BroadcastMaxRowsKey))(
        spark.conf.set(Iterative.BroadcastMaxRowsKey, _))
      prevAuto.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
    }
  }

  test("pipe_dsir scores through a broadcast ratio table, no cartesian") {
    val p = plan("pipe_dsir")
    // the ≤4096-row likelihood-ratio table must broadcast into the
    // per-doc scoring join — a shuffle join there re-exchanges the
    // whole (doc, bucket) stream for a dictionary-sized build side
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t_code_detect is one shuffle-free projection") {
    val p = plan("t_code_detect")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("regexp_extract_all"), p)
  }

  test("dd_winnow_pairs joins on the fingerprint key, never all-pairs") {
    val p = plan("dd_winnow_pairs")
    assert(!p.contains("CartesianProduct"), p)
    // the pair join must be keyed by the selected fingerprint h
    val hJoin = raw"Join \[h#\d+L\], \[h#\d+L\]".r
    assert(hJoin.findFirstIn(p).isDefined, p)
  }

  test("pipe_source_shift: one partial-agg corpus pass; histogram joins broadcast") {
    val p = plan("pipe_source_shift")
    // the (source, bucket) histogram aggregate must combine map-side —
    // without partials the corpus-sized token stream shuffles raw
    assert(p.contains("partial"), p)
    // bucket totals / source totals / grand total are bounded tables:
    // they broadcast back onto the histogram, never a shuffle join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("emb_centroid_eval: centroid table broadcasts; argmax windows per vector") {
    val p = plan("emb_centroid_eval")
    // the dots join streams |corpus|·d rows against the (labels·d)-row
    // centroid-sum table — a shuffle join there re-exchanges the whole
    // exploded corpus for a broadcast-sized build side
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the argmax window partitions by vec_id — a SinglePartition
    // window would serialize the whole eval
    assert(!p.contains("Window [") || !p.contains("SinglePartition"), p)
  }
}
