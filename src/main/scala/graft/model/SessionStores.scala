package graft.model

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.EngineSession

/** Record-store twin of a LIVE [[EngineSession]] — the bridge that
  * lets the SAME consistency checker ([[graft.checker.FullCheck]])
  * validate the OLTP facade's store image. The reference has exactly
  * one store validated from both paths (embedded API writes, the
  * consistency tool reads); here the session's graph materializes into
  * the [[Stores]] shape and every J-check runs unchanged.
  *
  * Only what is specific to a session is decided here; the record
  * layout itself (chain pointers and heads, property records, dynamic
  * blocks, dictionaries and name stores) is [[RecordStores.assemble]]'s,
  * so the session image is laid out exactly like the analytic twin.
  * What a session adds:
  *
  *  - dictionaries built from the OBSERVED property keys and rel types
  *    (collected to the driver — the sanctioned S4 small-store
  *    materialization), key-sorted for determinism;
  *  - property rows whose per-owner seqs come from a window over
  *    (owner, key) — key-sorted, so the derivation is deterministic for
  *    any session history — with value_ref = (owner·[[KeySpace]] +
  *    key_id)·spacing, because a dynamic dictionary is not bounded by
  *    16 keys and a session string by 128 chars: the spacing covers the
  *    session's longest value (at least the generated stores' 8 ids),
  *    so no two values' dynamic chains share a record id;
  *  - NIL property-chain heads for nodes and rels without properties;
  *  - the NeoStore record at the pseudo-owner [[GraphOwner]] (= -2,
  *    outside the session's non-negative id space; its property record
  *    ids are negative, distinct from NIL=-1), holding the graph
  *    properties.
  */
object SessionStores {
  import RecordSpec.TShortString

  val GraphOwner = -2L
  val KeySpace = 1024L

  /** dynamic-store ids reserved per value: enough for the longest one */
  private def spacing(snap: EngineSession.GraphSnapshot): Long = {
    val values = snap.nodes.values.flatMap(_.values) ++
      snap.rels.values.flatMap(_._4.values) ++ snap.graphProps.values
    val longest = values.map(_.length).maxOption.getOrElse(0)
    RecordStores.valueSpacing((longest + RecordSpec.BlockSize - 1) / RecordSpec.BlockSize)
  }

  def derive(s: EngineSession): Stores = {
    val spark: SparkSession = s.nodesDF.sparkSession
    import spark.implicits._
    val snap = s.snapshot

    // observed dictionaries, key-sorted for determinism (S4: collected
    // wholly, broadcast back)
    val keyNames: Seq[String] =
      (snap.nodes.values.flatMap(_.keys) ++
        snap.rels.values.flatMap(_._4.keys) ++
        snap.graphProps.keys).toSeq.distinct.sorted
    val typeNames: Seq[String] =
      snap.rels.values.map(_._3).toSeq.distinct.sorted
    val keyDict = keyNames.zipWithIndex.toDF("k", "key_id")
    val typeDict = typeNames.zipWithIndex.toDF("t", "type_id")

    // property rows: (owner, key, vlen) from all three owner kinds
    val nodeProps = s.nodesDF
      .select(col("id").as("owner"), explode(col("props")).as(Seq("k", "v")))
    val relProps = s.relsDF
      .select(col("id").as("owner"), explode(col("props")).as(Seq("k", "v")))
    val graphProps = snap.graphProps.toSeq.sortBy(_._1)
      .map { case (k, v) => (GraphOwner, k, v) }
      .toDF("owner", "k", "v")
    val wOwner = Window.partitionBy("owner").orderBy("key_id")
    val rows = RecordStores.typed(nodeProps.unionAll(relProps).unionAll(graphProps)
      .join(broadcast(keyDict), "k")
      .select(col("owner"), col("key_id"),
        (row_number().over(wOwner) - 1).as("seq"), lit(TShortString).as("ptype0"),
        length(col("v")).cast("long").as("vlen"))
      .withColumn("max_seq", max("seq").over(Window.partitionBy("owner"))),
      KeySpace, spacing(snap))

    val rels1 = s.relsDF.join(broadcast(typeDict), col("type") === col("t"))
      .select(col("id"), col("src"), col("dst"), col("type_id"))
    val st = RecordStores.assemble(spark, s.nodesDF.select("id"), rels1, rows,
      typeNames.zipWithIndex.map(_.swap), keyNames.zipWithIndex.map(_.swap))

    // an entity without properties has no chain: its head is NIL
    def headless(ids: Iterable[Long]): Column =
      when(col("id").isin(ids.toSeq: _*), lit(-1L)).otherwise(col("next_prop"))
    st.copy(
      nodes = st.nodes.withColumn("next_prop",
        headless(snap.nodes.collect { case (id, ps) if ps.isEmpty => id })),
      rels = st.rels.withColumn("next_prop",
        headless(snap.rels.collect { case (id, r) if r._4.isEmpty => id })),
      neo = Seq((GraphOwner, true,
        if (snap.graphProps.nonEmpty) GraphOwner * 4 else -1L))
        .toDF("id", "in_use", "next_prop"))
  }
}
