package graft.model

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.checker.{Corruption, FullCheck}

/** Integration invariants over the derived record stores:
  *  - a consistent derivation yields ZERO violations (the whole checker
  *    vouches for the whole derivation);
  *  - violations are invariant under input partitioning — the Spark twin
  *    of the reference's execution-order metamorphic test
  *    (ExecutionOrderIntegrationTest.java:95-123: single-threaded vs
  *    multi-pass must produce identical checks). */
class RecordStoresSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  test("consistent derivation has zero violations") {
    val s = RecordStores.derive(spark, dir)
    assert(FullCheck.violations(s).count() === 0L)
  }

  test("corrupted derivation violations are partition-invariant (metamorphic)") {
    val s1 = Corruption(RecordStores.derive(spark, dir))
    val v1 = FullCheck.violations(s1)
      .groupBy("record_type", "violation").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

    val s0 = RecordStores.derive(spark, dir)
    val s2 = Corruption(s0.copy(
      nodes = s0.nodes.repartition(13),
      rels = s0.rels.repartition(7),
      props = s0.props.repartition(3),
      dyns = s0.dyns.repartition(1)))
    val v2 = FullCheck.violations(s2)
      .groupBy("record_type", "violation").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

    assert(v1 === v2)
    assert(v1.nonEmpty)
  }

  test("relationship chains are internally consistent by construction") {
    val s = RecordStores.derive(spark, dir)
    // every in-use rel's first_node/second_node resolve to in-use nodes
    val n = s.nodes.select(col("id").as("n_id"))
    val dangling = s.rels
      .join(n, col("first_node") === col("n_id"), "left_anti")
    assert(dangling.count() === 0L)
    // chain heads: every node with next_rel != -1 points at a rel that
    // has the node as an endpoint
    val heads = s.nodes.filter(col("next_rel") =!= -1)
      .join(s.rels.select(col("id").as("r_id"), col("first_node"), col("second_node")),
        col("next_rel") === col("r_id"))
      .filter(col("first_node") =!= col("id") && col("second_node") =!= col("id"))
    assert(heads.count() === 0L)
  }

  test("persistAll eagerly marks every store; unpersistAll releases them") {
    // regression guard: Iterator.collect is lazy — a collect-only body
    // silently skipped the persist side effect (r14 warmup regression)
    val s = graft.checker.Corruption(
      graft.model.RecordStores.derive(spark, dir))
    try {
      s.persistAll()
      assert(s.productIterator.collect { case d: org.apache.spark.sql.DataFrame => d }
        .forall(_.storageLevel.useMemory),
        "persistAll must mark every store DataFrame for caching")
    } finally s.unpersistAll()
    assert(s.productIterator.collect { case d: org.apache.spark.sql.DataFrame => d }
      .forall(!_.storageLevel.useMemory),
      "unpersistAll must release every store DataFrame")
  }

  test("cache counters report the block manager's persisted state (A6 analog)") {
    val probe = spark.range(1000).toDF("id").persist()
    probe.count() // materialize so the block manager registers it
    try {
      val row = graft.checker.StoreProfile.cacheCounters(spark).collect().head
      assert(row.schema.fieldNames.toSeq ===
        Seq("n_cached_rdds", "partitions_cached", "mem_bytes", "disk_bytes"))
      assert(row.getAs[Long]("n_cached_rdds") >= 1L)
      assert(row.getAs[Long]("partitions_cached") >= 1L)
      assert(row.getAs[Long]("mem_bytes") + row.getAs[Long]("disk_bytes") > 0L)
    } finally { probe.unpersist(); () }
  }

  test("Stores.Names names each store after its field, in field order") {
    val s = RecordStores.derive(spark, dir)
    val fields = s.productElementNames
      .map(_.replaceAll("([A-Z])", "_$1").toLowerCase).toSeq
    assert(s.named.map(_._1) === fields)
    val back = Stores.fromNamed(s.named.toMap)
    assert(back.named.map(_._2).zip(s.named.map(_._2)).forall { case (a, b) => a eq b })
  }
}
