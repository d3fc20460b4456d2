package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Round-9 additions: the DSIR integer-overflow regime (ADVICE r8) —
  * the likelihood-ratio product Scale·(tc+1)·(rt+B) wraps int64 once a
  * hot bucket's count crosses ~9.2e12/(rt), which real Zipfian corpora
  * reach; the DECIMAL(38,0)/HUGEINT intermediates must reproduce the
  * exact BigInt arithmetic where the old int64 path wrapped silently. */
class Round9OpsSpec extends SparkTestBase {

  test("dsirWeights: one-hot-bucket corpus in the int64 wrap regime stays exact") {
    TextOps.ensureRegistered(spark)
    val M = 2000000L
    // two identical docs of M repeated tokens — every gram lands in
    // (at most) two buckets, so tc/rc concentrate far past the wrap
    // threshold while the corpus stays a 2-row DataFrame. The count
    // reads the row (id ≤ 1 < M, so it is M) so Catalyst cannot fold
    // the array into a 2M-element literal shipped inside every task;
    // `id * 0 + M` would still fold
    val toks = spark.range(2).select(col("id").as("doc_id"),
      array_repeat(lit("x"), greatest(col("id").cast("int"), lit(M.toInt))).as("t"))
    val target = spark.range(1).select(col("id").as("doc_id"))

    // expected values in exact BigInt arithmetic, using the engine's
    // own bucket assignment for the two distinct grams
    val B = BigInt(Pipeline.DsirBuckets)
    val S = BigInt(Pipeline.DsirScale)
    val bucketOf = spark.sql(
      s"SELECT g, pmod(${TextOps.fpSql("g")}, ${Pipeline.DsirBuckets}) AS b " +
        "FROM VALUES ('x'), ('x x') AS t(g)")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val perDoc = {
      val m = scala.collection.mutable.Map[Long, BigInt]().withDefaultValue(BigInt(0))
      m(bucketOf("x")) += M          // unigrams
      m(bucketOf("x x")) += (M - 1)  // bigrams
      m.toMap
    }
    val tc = perDoc                                   // target = doc 0 only
    val rc = perDoc.map { case (b, c) => b -> c * 2 } // both docs
    val tt = tc.values.sum
    val rt = rc.values.sum
    // this corpus IS in the wrap regime: the old int64 product wraps
    assert(S * (tc.values.max + 1) * (rt + B) > BigInt(Long.MaxValue),
      "corpus must exceed the int64 product envelope or the test is vacuous")
    val lr = perDoc.keys.map(b =>
      b -> (S * (tc(b) + 1) * (rt + B)) / ((rc(b) + 1) * (tt + B))).toMap
    val expTokens = perDoc.values.sum
    val expScore = perDoc.map { case (b, c) => c * lr(b) }.sum
    val expAvg = expScore / expTokens
    assert(lr.values.forall(_ > 0))

    val out = Pipeline.dsirWeightsOf(toks, target).collect()
    assert(out.length === 2)
    out.foreach { r =>
      assert(r.getLong(1) === expTokens.toLong, "n_tokens")
      assert(r.getLong(2) === expScore.toLong, s"score_micro doc ${r.getLong(0)}")
      assert(r.getLong(3) === expAvg.toLong, s"avg_micro doc ${r.getLong(0)}")
    }
  }

  private val dir = "/root/testdata/sf0.001"

  test("sourceShift: Gibbs and Pinsker hold per source; histogram mass closes") {
    val docs = TextOps.docs(spark, dir)
    val nSources = docs.select("source").distinct().count()
    val rows = Pipeline.sourceShift(spark, dir).collect()
    assert(rows.length === nSources)
    rows.foreach { r =>
      val (kl, tv) = (r.getDouble(3), r.getDouble(4))
      // KL(p‖q) ≥ 0 (Gibbs) — a sign/op-order bug goes negative
      assert(kl >= 0.0, s"KL negative for ${r.getString(0)}")
      assert(tv >= 0.0 && tv <= 1.0, s"TV out of [0,1] for ${r.getString(0)}")
      // Pinsker: TV ≤ sqrt(KL/2) — ties the two statistics to each
      // other, so a bucket-mass bug must break one of them
      assert(tv <= math.sqrt(kl / 2.0) + 1e-12,
        s"Pinsker violated for ${r.getString(0)}: tv=$tv kl=$kl")
    }
    // per-source token totals must close over the whole corpus
    val totalTokens = rows.map(_.getLong(1)).sum
    val expected = docs
      .agg(sum(size(TextOps.toks(col("text")))).cast("long")).head.getLong(0)
    assert(totalTokens === expected)
  }

  test("filterFunnel: gate counts reconcile with the operators they summarize") {
    val f = Pipeline.filterFunnel(spark, dir).collect()
    val byName = f.map(r => r.getString(0) -> r).toMap
    val nDocs = TextOps.docs(spark, dir).count()
    assert(f.map(_.getLong(1)).sum === nDocs, "n_docs closes over corpus")
    f.foreach { r =>
      val n = r.getLong(1)
      val gates = Seq(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      gates.foreach(g => assert(g >= 0 && g <= n))
      assert(r.getLong(6) <= gates.min, s"pass_all > a gate for ${r.getString(0)}")
    }
    // independent-rate columns must equal the gate operators run alone
    val passQ = TextOps.quality(spark, dir)
      .filter(col("quality") >= Pipeline.QualityTau).count()
    assert(f.map(_.getLong(2)).sum === passQ, "pass_quality total")
    val dropped = Dedup.dedupClusters(spark, dir)
      .filter(col("doc_id") < Dedup.IdOffset).select("doc_id").distinct().count()
    assert(f.map(_.getLong(4)).sum === nDocs - dropped, "pass_dedup total")
    assert(byName.nonEmpty)
  }

  test("classCentroids: exact-BigInt recomputation matches; cosines bounded") {
    val out = Similarity.classCentroids(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    // ground truth in exact BigInt arithmetic straight off the parquet
    val raw = graft.sources.Tpch.table(spark, dir, "embeddings")
      .selectExpr("CAST(label AS BIGINT) AS label",
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val dims = raw.head._2.length
    val byLabel = raw.groupBy(_._1)
    val s = byLabel.map { case (l, vs) =>
      l -> Array.tabulate(dims)(i => BigInt(vs.map(_._2(i)).sum))
    }
    val g = Array.tabulate(dims)(i => s.values.map(_(i)).sum)
    val gg = g.map(x => x * x).sum
    assert(out.keySet === s.keySet)
    s.foreach { case (l, sv) =>
      val ss = sv.map(x => x * x).sum
      val sg = sv.zip(g).map { case (a, b) => a * b }.sum
      val n = byLabel(l).length
      val (nOut, normOut, cosOut) = out(l)
      assert(nOut === n.toLong)
      val expNorm = math.sqrt(ss.toDouble) / n / 1000.0
      val expCos = sg.toDouble / (math.sqrt(ss.toDouble) * math.sqrt(gg.toDouble))
      assert(normOut === expNorm, s"centroid_norm label $l")
      assert(cosOut === expCos, s"cos_to_global label $l")
      assert(cosOut >= -1.0 - 1e-12 && cosOut <= 1.0 + 1e-12)
    }
  }

  test("centroidEval: matrix closes over valid vectors; clustered labels classify well") {
    TextOps.ensureRegistered(spark)
    val m = Similarity.centroidEval(spark, dir).collect()
    val nValid = Similarity.quantized(spark, dir).count()
    assert(m.map(_.getLong(2)).sum === nValid, "every valid vector classified once")
    val diag = m.filter(r => r.getLong(0) === r.getLong(1)).map(_.getLong(2)).sum
    // the sf embeddings are WEAKLY label-clustered (measured 0.37-0.41
    // across sf dirs vs 0.10 chance at 10 labels) — the eval must
    // detect that structure without overstating it
    assert(diag.toDouble / nValid > 0.25,
      s"nearest-centroid accuracy ${diag.toDouble / nValid} not above chance")
  }

  test("sourceFlow: matrix closes over the pair table and is direction-free") {
    TextOps.ensureRegistered(spark)
    val pairs = Dedup.winnowPairs(spark, dir)
    val flow = Dedup.sourceFlow(spark, dir).collect()
    assert(flow.map(_.getLong(2)).sum === pairs.count(), "n_pairs closes")
    assert(flow.map(_.getLong(3)).sum ===
      pairs.agg(sum("n_shared")).head.getLong(0), "shared_fps closes")
    flow.foreach(r => assert(r.getString(0) <= r.getString(1),
      "cells ordered lexicographically"))
  }
}
