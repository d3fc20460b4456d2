package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Generated-corpus invariants at spec-sized n — the planted structure
  * ([[DedupScale]], [[AnnScale]]) that consumers grade recall against. */
class LlmScaleSpec extends SparkTestBase {

  test("DedupScale corpus: planted dup is the base doc's 57-token prefix") {
    val c = DedupScale.corpus(spark, 200)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(c.size === 200)
    (0L until 200L).filter(_ % 10 == 9).foreach { id =>
      val base = c(id - 1).split(" ")
      val dup = c(id).split(" ")
      assert(dup.length === DedupScale.DocLen - 3)
      assert(base.take(DedupScale.DocLen - 3).toSeq === dup.toSeq)
    }
    // deterministic: regeneration is identical
    val again = DedupScale.corpus(spark, 200)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again === c)
  }

  test("minhashLshOf over the generated corpus: high plant recall, no spurious pairs") {
    graft.operators.TextOps.ensureRegistered(spark)
    val (pairs, handles) = Dedup.minhashLshOf(DedupScale.corpus(spark, 1000))
    val found = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    handles.foreach(_.unpersist())
    // every found pair is a planted one (the mixed generator leaves no
    // genuine high-Jaccard accidental pairs at this n)
    found.foreach { case (a, b) =>
      assert(a % 10 === 8 && b === a + 1, s"spurious pair ($a, $b)")
    }
    // recall ≥ 0.9 (banding admits J≈0.9 pairs at ~98%+)
    assert(found.length >= 90, s"recall too low: ${found.length}/100")
  }

  test("AnnScale vectors: deterministic, 64-dim, bounded, cluster-structured") {
    val v = AnnScale.vectors(spark, 300).persist()
    val rows = v.collect()
    assert(rows.length === 300)
    rows.foreach { r =>
      val q = r.getSeq[Long](1)
      assert(q.length === AnnScale.Dim)
      assert(q.forall(x => x >= -1200 && x <= 1200))
    }
    // same cluster ⇒ higher cosine than cross-cluster for a probe pair
    val byId = rows.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def cos(a: Seq[Long], b: Seq[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
      dot / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    val same = cos(byId(0L), byId(AnnScale.Clusters))     // cluster 0 twice
    val cross = cos(byId(0L), byId(1L))                   // clusters 0 vs 1
    assert(same > cross + 0.3,
      s"cluster structure missing: same=$same cross=$cross")
    v.unpersist()
    ()
  }
}
