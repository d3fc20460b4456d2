package graft.checker

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.model.RecordStores

/** Chain repair must actually HEAL: applying the emitted actions back
  * onto the corrupted store eliminates every rel-chain and node-head
  * violation the full check reports. */
class RepairSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  test("repair actions restore the derivation's chain pointers exactly") {
    val good = RecordStores.derive(spark, dir)
    val bad = Corruption(good)
    val repairs = Repair.chainRepairs(bad)
    // every action's good_value equals the consistent derivation's
    // value for that (record, field) — melted comparison per field
    val goodRels = good.rels.select(col("id").as("record_id"), explode(array(
      Seq("first_prev", "first_next", "second_prev", "second_next").map { f =>
        struct(lit(f).as("field"), col(f).as("expected"))
      }: _*)).as("p"))
      .select(col("record_id"), col("p.field").as("field"),
        col("p.expected").as("expected"))
    val relActions = repairs.filter(col("record_type") === "relationship")
    val wrong = relActions.join(goodRels, Seq("record_id", "field"))
      .filter(col("good_value") =!= col("expected"))
    assert(wrong.count() === 0L)
    assert(relActions.count() > 0L)

    val goodNodes = good.nodes.select(col("id").as("record_id"),
      col("next_rel").as("expected"))
    val nodeActions = repairs.filter(col("record_type") === "node")
    val wrongN = nodeActions.join(goodNodes, "record_id")
      .filter(col("good_value") =!= col("expected"))
    assert(wrongN.count() === 0L)
    assert(nodeActions.count() > 0L)
  }

  test("applying the repairs removes all chain violations from the full check") {
    val good = RecordStores.derive(spark, dir)
    val bad = Corruption(good)
    val repairs = Repair.chainRepairs(bad).localCheckpoint(true)
    def patch(df: org.apache.spark.sql.DataFrame, recordType: String,
        fields: Seq[String]) = {
      fields.foldLeft(df) { (d, f) =>
        val fix = repairs.filter(col("record_type") === recordType &&
            col("field") === f)
          .select(col("record_id").as("_rid"), col("good_value").as("_fix"))
        d.join(fix, d("id") === col("_rid"), "left")
          .withColumn(f, coalesce(col("_fix"), col(f)))
          .drop("_rid", "_fix")
      }
    }
    val healed = bad.copy(
      rels = patch(bad.rels, "relationship",
        Seq("first_prev", "first_next", "second_prev", "second_next")),
      nodes = patch(bad.nodes, "node", Seq("next_rel")))
    val v = FullCheck.violations(healed)
      .groupBy("record_type", "violation").count().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // no J1/J3-linkage/J4 chain violations survive the repair. Out of
    // scope (and allowed to remain): node liveness (*_node_not_in_use —
    // a dead endpoint is not a chain-pointer defect), property chains,
    // dynamics, labels.
    val chainViolations = v.filter { case (rt, viol) =>
      (rt == "node" || rt == "relationship") &&
      (viol == "relationship_not_in_use" ||
        viol == "relationship_for_other_node" ||
        viol == "relationship_not_first_in_chain" ||
        viol.endsWith("_does_not_reference_back") ||
        viol.endsWith("_has_no_relationships") ||
        viol.endsWith("_references_other_node") ||
        viol.matches("(source|target)_(prev|next)_not_in_use"))
    }
    assert(chainViolations.isEmpty, v.toString)
  }

  test("a self-loop in an assembled store needs no repair") {
    import spark.implicits._
    val nodes = Seq(1L, 2L).toDF("id")
    // rel 10 is a loop on node 1; rel 11 shares node 1's chain with it
    val rels = Seq((10L, 1L, 1L, 0), (11L, 1L, 2L, 0))
      .toDF("id", "src", "dst", "type_id")
    // one inlined property per node and one on the NeoStore record
    val rows = Seq(0L, 1L, 2L).map(o => (o, 0, 0, 1, -1L, 0L, 0))
      .toDF("owner", "key_id", "seq", "ptype", "value_ref", "vlen", "max_seq")
    val s = RecordStores.assemble(spark, nodes, rels, rows,
      Seq(0 -> "LINK"), Seq(0 -> "name"), relNextProp = lit(-1L))
    assert(FullCheck.violations(s).count() === 0L)
    assert(Repair.chainRepairs(s).count() === 0L)
  }
}
