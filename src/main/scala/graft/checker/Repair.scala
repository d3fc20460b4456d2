package graft.checker

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{RecordStores, Stores}

/** J16 chain REPAIR — beyond reporting a broken pointer, compute what
  * it should have been. The reference explores neighbor chains to
  * re-link records (the consistency tooling's repair/rebuild path,
  * RebuildFromLogs.java:60-150 re-derives state rather than patching
  * it); relationally the true chain is a pure function of the
  * SURVIVING endpoint data (id, first_node, second_node — which
  * corruption never touches), so repair is: re-run the chain
  * derivation over the broken store itself and diff it against the
  * stored pointers.
  *
  * Emits one repair ACTION per wrong pointer:
  * (record_type, record_id, field, bad_value, good_value) — directly
  * applicable as a column-wise MERGE back onto the store.
  *
  * The true chains come from the derivation that builds the stores
  * ([[RecordStores.incidence]], [[RecordStores.chainPointers]],
  * [[RecordStores.chainHeads]]) run over the live relationship
  * records, so a self-loop is one chain position here exactly as in
  * the stores. Scale shape: one window shuffle keyed by endpoint node
  * plus one join on rel id; never materializes per-node chain arrays.
  */
object Repair {
  private val Pointers = Seq("first_prev", "first_next", "second_prev", "second_next")

  def chainRepairs(s: Stores): DataFrame = {
    val live = s.rels.filter(col("in_use"))
    val inc = RecordStores.incidence(live.select(col("id"),
      col("first_node").as("src"), col("second_node").as("dst")))
    val chain = RecordStores.chainPointers(inc)
      .select(col("rel_id") +: Pointers.map(f => col(f).as(s"g_$f")): _*)

    val relRepairs = live
      .join(chain, live("id") === chain("rel_id"))
      .select(live("id"), explode(array(Pointers.map { f =>
          struct(lit(f).as("field"), col(f).as("bad"), col(s"g_$f").as("good"))
        }: _*)).as("p"))
      .filter(col("p.bad") =!= col("p.good"))
      .select(lit("relationship").as("record_type"), col("id").as("record_id"),
        col("p.field").as("field"), col("p.bad").as("bad_value"),
        col("p.good").as("good_value"))

    // node chain heads: the true next_rel is the min surviving rel at
    // the node
    val nodeRepairs = s.nodes.filter(col("in_use"))
      .join(RecordStores.chainHeads(inc), col("id") === col("node"), "left")
      .withColumn("good", coalesce(col("min_rel"), lit(-1L)))
      .filter(col("next_rel") =!= col("good"))
      .select(lit("node").as("record_type"), col("id").as("record_id"),
        lit("next_rel").as("field"), col("next_rel").as("bad_value"),
        col("good").as("good_value"))

    relRepairs.unionAll(nodeRepairs)
  }
}
