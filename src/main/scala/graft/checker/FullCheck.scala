package graft.checker

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanTemplate
import org.apache.spark.sql.types._

import graft.model.Stores

/** Full-store consistency check as one deferred-reference pass — the
  * Spark re-expression of the reference's FullCheck
  * (consistency-check/.../checking/full/FullCheck.java:71-142).
  *
  * The reference scans each store once and *defers* every reference
  * check until the referenced record is read (PendingReferenceCheck,
  * report/ConsistencyReport.java:97-98), so it meets each pointer with
  * its target once and not once per pointer kind. The same shape here:
  * every store is scanned once and melted into rows keyed by the record
  * they concern, `(store, id)`:
  *
  *  - a record row per record of a store a pointer can reach, not-in-use
  *    records included — the target side;
  *  - a pointer row per outgoing pointer, keyed by its target, carrying
  *    `(src_type, src_id, field, node, prev)`;
  *  - a claim row per chain head an owner or block claims, and a head row
  *    per candidate chain head;
  *  - a row per violation of a record's own scan predicates.
  *
  * One shuffle on `(store, id)` brings each pointer together with every
  * record of its key — a pointer whose key has no record meets none, so
  * the pairs are exactly a left join's rows — and one CASE per `field`
  * checks it. Claims and heads are counted over the same key.
  *
  * The plan is analyzed once per store layout (each store's column names
  * and types, nullability ignored) and phase set, in each session, and
  * rebound to every bundle of that layout ([[PlanTemplate]]): a restored
  * copy, whose fields all read nullable, reuses its live bundle's plan.
  * Analysis of the melt was about 0.2 s of driver time per call.
  *
  * Output schema: (record_type, violation, record_id) — one row per
  * violated predicate, summarized by [[summary]] like the reference's
  * ConsistencySummaryStatistics (A1).
  *
  * Checks and where they run (SURVEY.md §2.3):
  *  J1  node→first rel       field `next_rel`      (NodeRecordCheck.java:42-77)
  *  J2  rel→type dictionary  field `type`          (RelationshipRecordCheck.java:39-81)
  *  J3  rel→endpoint nodes   fields `source`, `target` (RelationshipNodeField.java:33-147)
  *  J4  rel→prev/next ×4     fields `source_prev`, `source_next`, `target_prev`,
  *                           `target_next`        (RelationshipRecordCheck.java:83-285)
  *  J5  owner→prop chain     field `next_prop`, from node, rel and neostore
  *                           (PrimitiveRecordCheck.java:34-139, NeoStoreCheck.java:25)
  *  J6  prop→prev/next       fields `prev`, `next` (PropertyRecordCheck.java:168-226)
  *  J7  block→key dictionary field `key`           (PropertyRecordCheck.java:129-137)
  *  J8  block→dynamic chain  fields `string`, `array`, each into its own store
  *                           (PropertyRecordCheck.java:139-162,
  *                           ConsistencyReport.java:359-373)
  *  J9  dynamic→next         field `next_block`; its length-range rules are
  *                           scan predicates   (DynamicRecordCheck.java:62-108)
  *  J10 dictionary→name      field `name`          (NameRecordCheck.java:40-66)
  *  P3  block type validity  scan predicate        (PropertyRecordCheck.java:139-160)
  *  J13/J14 duplicate owners: a key claimed more than once, counted over
  *      the J5/J8 claims (OwnerCheck.java:59-430)
  *  J15 orphan chains: a head row whose key nobody claims
  *      (OwnerCheck.scanForOrphanChains:81-117)
  */
object FullCheck {
  import graft.model.RecordSpec.{BlockSize, TLong, TDouble, TShortString, TLongString, TArray}

  private val NIL = -1L

  /** The full-check "task list" (FullCheck.java:90-125) grouped into the
    * reference's per-store-scan phases (JsonReportWriter.java:115-124). */
  private val PhaseNames: Seq[String] = Seq("node_store", "rel_store", "prop_store",
    "string_store", "array_store", "prop_keys", "rel_types", "owners")

  /** what a pointer's check reads of the record it reaches */
  private val RecType = StructType(StructField("in_use", BooleanType) +:
    Seq("next_rel", "first_node", "second_node", "first_prev", "first_next",
      "second_prev", "second_next", "prev_prop", "next_prop", "length")
      .map(StructField(_, LongType)))
  private val PtrType = StructType(Seq(StructField("src_type", StringType),
    StructField("src_id", LongType), StructField("field", StringType),
    StructField("node", LongType), StructField("prev", LongType)))

  /** One melted row of a store's record: keyed by `(store, id)`, emitted
    * where `keep` holds, in the slice of `phase`. */
  private final case class Keyed(phase: String, store: String, id: Column, keep: Column,
      rec: Column = lit(null).cast(RecType), ptr: Column = lit(null).cast(PtrType),
      claim: Boolean = false, head: Boolean = false,
      own: Column = lit(null).cast(StringType)) {
    def column: Column = struct(lit(store).as("store"), id.cast(LongType).as("id"),
      keep.as("keep"), rec.as("rec"), ptr.as("ptr"), lit(claim).as("claim"),
      lit(head).as("head"), own.as("own"))
  }

  /** Every row each store melts into, by store. */
  private def melt(s: Stores): Seq[(DataFrame, Seq[Keyed])] = {
    val used = col("in_use")
    def set(c: String) = used && col(c) =!= NIL
    def record(df: DataFrame, store: String) = Keyed("", store, col("id"), col("id").isNotNull,
      rec = struct(RecType.fields.toSeq.map(f =>
        (if (df.columns.contains(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)): _*))
    def ptr(phase: String, srcType: String, srcId: String, field: String, target: String,
        targetId: String, keep: Column, node: Column = lit(null), prev: Column = lit(null)) =
      Keyed(phase, target, col(targetId), keep, ptr = struct(lit(srcType).as("src_type"),
        col(srcId).cast(LongType).as("src_id"), lit(field).as("field"),
        node.cast(LongType).as("node"), prev.cast(LongType).as("prev")))
    def chain(nm: String, c: String, node: String) =
      ptr("rel_store", "relationship", "id", nm, "relationship", c, set(c), node = col(node))
    // J5 and its J13/J15 claim, from one owner kind
    def owner(srcType: String) = Seq(
      ptr("prop_store", srcType, "id", "next_prop", "property", "next_prop", set("next_prop")),
      Keyed("owners", "property", col("next_prop"), set("next_prop"), claim = true))
    // J8 and its J14/J15 claim, for one dynamic store
    def block(phase: String, kind: String, ptype: Int) = Seq(
      ptr(phase, "property", "prop_id", kind, kind, "value_ref", col("ptype") === ptype),
      Keyed("owners", kind, col("value_ref"), col("ptype") === ptype, claim = true))
    // a record's own scan predicate, kept where it fires
    def rule(phase: String, store: String, id: String, keep: Column, v: Column) =
      Keyed(phase, store, col(id), keep && v.isNotNull, own = v)
    // J9: next pointer plus the record's own length rules
    def dynamic(df: DataFrame, phase: String, store: String, more: Keyed*) = df -> (Seq(
      record(df, store),
      ptr(phase, store, "id", "next_block", store, "next_block", set("next_block")),
      rule(phase, store, "id", used,
        when(col("length") <= 0 || col("length") > BlockSize, "invalid_length")
          .when(col("length") < BlockSize && col("next_block") =!= NIL,
            "record_not_full_references_next"))) ++ more)
    def dictionary(df: DataFrame, phase: String, store: String, names: String) = df -> Seq(
      record(df, store),
      ptr(phase, store, "id", "name", names, "name_id", used))
    val dynHead = used && col("id") % 8 === 0
    Seq(
      s.nodes -> (Seq(record(s.nodes, "node"),
        ptr("node_store", "node", "id", "next_rel", "relationship", "next_rel", set("next_rel"))) ++
        owner("node")),
      s.rels -> (Seq(record(s.rels, "relationship"),
        ptr("rel_store", "relationship", "id", "type", "label", "type_id", used),
        ptr("rel_store", "relationship", "id", "source", "node", "first_node", used,
          prev = col("first_prev")),
        ptr("rel_store", "relationship", "id", "target", "node", "second_node", used,
          prev = col("second_prev")),
        chain("source_prev", "first_prev", "first_node"),
        chain("source_next", "first_next", "first_node"),
        chain("target_prev", "second_prev", "second_node"),
        chain("target_next", "second_next", "second_node")) ++
        owner("relationship")),
      s.neo -> owner("neostore"),
      s.props -> Seq(record(s.props, "property"),
        ptr("prop_store", "property", "id", "prev", "property", "prev_prop", set("prev_prop")),
        ptr("prop_store", "property", "id", "next", "property", "next_prop", set("next_prop")),
        Keyed("owners", "property", col("id"), used && col("prev_prop") === NIL, head = true)),
      s.blocks -> (Seq(
        ptr("prop_keys", "property", "prop_id", "key", "key", "key_id", lit(true)),
        rule("prop_store", "property", "prop_id", lit(true),
          when(!col("ptype").isin(TLong, TDouble, TShortString, TLongString, TArray),
            "invalid_property_value"))) ++
        block("string_store", "string", TLongString) ++ block("array_store", "array", TArray)),
      dynamic(s.dyns, "string_store", "string",
        Keyed("owners", "string", col("id"), dynHead, head = true)),
      dynamic(s.arrays, "array_store", "array",
        Keyed("owners", "array", col("id"), dynHead, head = true)),
      dictionary(s.relTypes, "rel_types", "label", "label_name"),
      dictionary(s.propKeys, "prop_keys", "key", "key_name"),
      dynamic(s.typeNames, "rel_types", "label_name"),
      dynamic(s.keyNames, "prop_keys", "key_name"))
  }

  /** The rows of the phases in `only`, one scan per store. Record rows
    * ride along whenever a pointer may need them. */
  private def rows(s: Stores, only: Set[String]): DataFrame = {
    val wanted = (r: Keyed) => only(r.phase) || (r.phase.isEmpty && only.exists(_ != "owners"))
    melt(s).collect { case (df, rs) if rs.exists(wanted) =>
      df.select(explode(array(rs.filter(wanted).map(_.column): _*)).as("r"))
        .filter(col("r.keep")).select("r.*").drop("keep")
    }.reduce(_ unionAll _)
  }

  /** The violation of one pointer row against one record of its key
    * (`r`, null when the key has none). */
  private def reference: Column = {
    val field = col("ptr.field")
    val src = col("ptr.src_id")
    def r(c: String) = col(s"r.$c")
    val missing = col("r").isNull || !r("in_use")
    def named(suffix: String) = concat(field, lit(suffix))
    // J4: a prev pointer is reciprocated by the target's next on the
    // shared endpoint's side, and vice versa
    val relBack =
      when(r("first_node") === col("ptr.node"),
        when(field.endsWith("_prev"), r("first_next")).otherwise(r("first_prev")))
        .when(r("second_node") === col("ptr.node"),
          when(field.endsWith("_prev"), r("second_next")).otherwise(r("second_prev")))
    val propBack = when(field === "prev", r("next_prop")).otherwise(r("prev_prop"))
    when(field === "next_rel",
      when(missing, "relationship_not_in_use")
        .when(r("first_node") =!= src && r("second_node") =!= src,
          "relationship_for_other_node")
        .when((r("first_node") === src && r("first_prev") =!= NIL) ||
              (r("second_node") === src && r("second_prev") =!= NIL),
          "relationship_not_first_in_chain"))
      .when(field === "type", when(missing, "label_not_in_use"))
      .when(field.isin("source", "target"),
        when(missing, named("_node_not_in_use"))
          .when(col("ptr.prev") === NIL && r("next_rel") === NIL,
            named("_node_has_no_relationships"))
          .when(col("ptr.prev") === NIL && r("next_rel") =!= src,
            named("_node_does_not_reference_back")))
      .when(field.isin("source_prev", "source_next", "target_prev", "target_next"),
        when(missing, named("_not_in_use"))
          .when(relBack.isNull, named("_references_other_node"))
          .when(relBack =!= src, named("_does_not_reference_back")))
      .when(field === "next_prop",
        when(missing, "property_not_in_use")
          .when(r("prev_prop") =!= NIL, "property_not_first_in_chain"))
      .when(field.isin("prev", "next"),
        when(missing, named("_not_in_use"))
          .when(propBack =!= src, named("_does_not_reference_back")))
      .when(field === "key", when(missing, "key_not_in_use"))
      .when(field.isin("string", "array"),
        when(missing, named("_not_in_use"))
          .when(r("length") <= 0, named("_empty")))
      .when(field === "next_block",
        when(col("id") === src, "self_reference")
          .when(missing, "next_block_not_in_use")
          .when(r("length") <= 0, "next_block_empty"))
      .when(field === "name",
        when(missing, "name_block_not_in_use")
          .when(r("length") <= 0, "empty_name"))
  }

  /** The violations of the phases in `only`. Within a key, the claim rows
    * sort first, so the first row carries the key's one multiple_owners;
    * each head row whose key nobody claims is an orphan (a null id is
    * never claimed, like an anti-join's null key). */
  private def check(s: Stores, only: Set[String]): DataFrame = {
    val key = Window.partitionBy("id", "store").orderBy(col("claim").desc)
    val whole = key.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rows(s, only)
      .select(col("*"), collect_list("rec").over(whole).as("recs"),
        count_if(col("claim")).over(whole).as("claims"), row_number().over(key).as("rank"))
      .filter(col("rec").isNull)
      .select(col("*"), explode_outer(when(col("ptr").isNotNull, col("recs"))).as("r"))
      // the CASE runs once: a filter on its result would be pushed below
      // the projection and run it twice
      .select(
        when(col("ptr").isNotNull, col("ptr.src_type")).otherwise(col("store")).as("record_type"),
        explode(array_compact(array(when(col("ptr").isNotNull, reference)
          .when(col("own").isNotNull, col("own"))
          .when(col("head") && (col("claims") === 0 || col("id").isNull), "orphan_chain")
          .when(col("claim") && col("rank") === 1 && col("claims") > 1, "multiple_owners"))))
          .as("violation"),
        when(col("ptr").isNotNull, col("ptr.src_id")).otherwise(col("id")).as("record_id"))
  }

  /** [[check]]'s analyzed plans, by store layout and phase set */
  private val templates = new graft.SessionMemo[PlanTemplate]
  /** templates built so far, in every session */
  private[checker] val templatesBuilt = new AtomicInteger

  /** [[check]] over `s`, rebound from its layout's template. */
  private def bound(s: Stores, only: Set[String]): DataFrame = {
    val stores = s.named.map(_._2)
    val spark = stores.head.sparkSession
    val key = (stores.map(PlanTemplate.layout) :+ only.toSeq.sorted.mkString(",")).mkString("\n")
    templates.getOrElseUpdate(spark, key) {
      templatesBuilt.incrementAndGet()
      PlanTemplate(spark, stores.map(_.schema)) { leaves =>
        check(Stores.fromNamed(Stores.Names.zip(leaves).toMap), only)
      }
    }.bind(stores)
  }

  /** All checks in one plan. */
  def violations(s: Stores): DataFrame = bound(s, PhaseNames.toSet)

  /** [[violations]] sliced by phase, for timing each phase alone: each
    * slice melts only its own rows; together they are exactly
    * [[violations]]. */
  def phases(s: Stores): Seq[(String, DataFrame)] =
    PhaseNames.map(n => n -> bound(s, Set(n)))

  /** A1: per-(record type, violation) summary
    * (ConsistencySummaryStatistics). */
  def summary(s: Stores): DataFrame =
    violations(s).groupBy("record_type", "violation")
      .agg(count(lit(1)).as("n"))
}
