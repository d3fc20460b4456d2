package graft.checker

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Stores

/** Incremental (diff) consistency check — SURVEY.md §2.5 T1-T3 / §2.3
  * J12: the reference applies `checkChange` predicates to the
  * changed-record stream of each committed transaction
  * (checking/incremental/IncrementalDiffCheck.java,
  * NodeRecordCheck.checkChange:91-102, @IncrementalOnly predicates
  * ConsistencyReport.java:54-56,124-127).
  *
  * A transaction's DiffStore is the per-store set of (old, new) record
  * pairs. The core incremental predicate family is "...NotUpdated"
  * (ConsistencyReport.java:233-266): when a chain pointer changes, the
  * record it USED to point at must itself be part of the same
  * transaction (its back-pointer had to change too) — otherwise the tx
  * left a dangling back-reference. Re-expressed relationally:
  * diff ⋈ diff anti-joins on the old pointer value. The full family:
  *
  *  - node.next_rel          → relationship_not_updated
  *  - node.next_prop         → property_not_updated
  *  - rel.first_prev/next,
  *    rel.second_prev/next   → source/target_prev/next_not_updated ×4
  *    (the reference's RelationshipField NotUpdated quartet)
  *  - rel.next_prop          → property_not_updated (rel owner kind)
  *  - neo.next_prop          → property_not_updated (neostore kind)
  *  - prop.prev/next_prop    → prev/next_property_not_updated
  *
  * The streaming form treats each micro-batch as one transaction and
  * runs [[violations]] per batch via foreachBatch (stream-static:
  * the diff is the stream, nothing else is needed because every
  * predicate is internal to the tx's own change set).
  */
object DiffCheck {
  private val NIL = -1L

  /** One transaction's DiffStore: per-store (old, new) pairs of the
    * changed records, columns id + o_c/n_c per watched column. At
    * scale this ARRIVES small (from the tx log / CDC source); the
    * snapshot-join [[diff]] below exists for callers that only hold
    * two store versions. */
  final case class TxDiffs(nodes: DataFrame, rels: DataFrame,
    props: DataFrame, neo: DataFrame)

  /** (old, new) pairs of one store whose watched columns changed —
    * the snapshot⋈snapshot fallback construction. */
  def diff(old: DataFrame, neu: DataFrame, cols: Seq[String]): DataFrame = {
    val o = old.select(col("id") +: cols.map(c => col(c).as(s"o_$c")): _*)
    val n = neu.select(col("id") +: cols.map(c => col(c).as(s"n_$c")): _*)
    o.join(n, "id")
      .filter(cols.map(c => col(s"o_$c") =!= col(s"n_$c")).reduce(_ || _))
  }

  /** All checkChange violations of one transaction given the old and
    * new store bundles (derives the DiffStore by snapshot join). */
  def violations(oldS: Stores, newS: Stores): DataFrame =
    violationsFromDiffs(TxDiffs(
      nodes = diff(oldS.nodes, newS.nodes,
        Seq("in_use", "next_rel", "next_prop")),
      rels = diff(oldS.rels, newS.rels,
        Seq("type_id", "first_prev", "first_next",
          "second_prev", "second_next", "next_prop")),
      props = diff(oldS.props, newS.props, Seq("prev_prop", "next_prop")),
      neo = diff(oldS.neo, newS.neo, Seq("next_prop"))))

  /** All checkChange violations of one transaction given its
    * DiffStore directly — the scale path: the diff is the (small)
    * input, never a join of two full snapshots. */
  def violationsFromDiffs(d: TxDiffs): DataFrame = {
    // the rel and prop diffs each feed their own pointers and the
    // anti-join's id set; an eager localCheckpoint materializes the
    // small changed-record set once instead of re-running its
    // derivation per consumer
    val relDiff = d.rels.localCheckpoint(true)
    val propDiff = d.props.localCheckpoint(true)

    // every changed pointer's old value, with the store it targets
    def changed(diff: DataFrame, recordType: String, ptrs: (String, String, String)*) =
      diff.select(col("id"), explode(array(ptrs.map { case (violation, c, target) =>
          struct(lit(violation).as("violation"), col(s"o_$c").as("ptr"),
            lit(target).as("target_store"), (col(s"o_$c") =!= col(s"n_$c")).as("changed"))
        }: _*)).as("p"))
        .filter(col("p.changed") && col("p.ptr") =!= NIL)
        .select(lit(recordType).as("record_type"), col("p.violation").as("violation"),
          col("id"), col("p.ptr").as("ptr"), col("p.target_store").as("target_store"))
    val owned = ("property_not_updated", "next_prop", "property")
    val ptrs = changed(d.nodes, "node",
        ("relationship_not_updated", "next_rel", "relationship"), owned)
      .unionAll(changed(relDiff, "relationship",
        ("source_prev_not_updated", "first_prev", "relationship"),
        ("source_next_not_updated", "first_next", "relationship"),
        ("target_prev_not_updated", "second_prev", "relationship"),
        ("target_next_not_updated", "second_next", "relationship"), owned))
      .unionAll(changed(d.neo, "neostore", owned))
      .unionAll(changed(propDiff, "property",
        ("prev_property_not_updated", "prev_prop", "property"),
        ("next_property_not_updated", "next_prop", "property")))

    // the old target must itself be in the tx: one anti-join against
    // the tx's rel and prop ids, tagged by store
    val txIds = relDiff.select(lit("relationship").as("store"), col("id").as("did"))
      .unionAll(propDiff.select(lit("property").as("store"), col("id").as("did")))
    ptrs.join(txIds, col("target_store") === col("store") && col("ptr") === col("did"),
        "left_anti")
      .select(col("record_type"), col("violation"), col("id").as("record_id"))
  }
}
