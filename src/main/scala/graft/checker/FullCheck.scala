package graft.checker

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.RowFrame
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.Stores

/** Full-store consistency check in one deferred-reference pass, as the
  * reference's FullCheck (consistency-check/.../full/FullCheck.java:71-142,
  * PendingReferenceCheck) scans each store once and checks each pointer
  * when its target record is read.
  *
  * One map task per store partition copies its rows' columns (ordinals
  * resolved once per store) into items keyed by `(store, id)`: a record
  * item per record a pointer can reach, with the fields those checks read;
  * a pointer item per pointer, keyed by its target; claim and head items
  * for chain heads; own items for violations of a record's own rules.
  * Items are primitive longs, packed per map task into one block per
  * reduce partition and shuffled once on `HashPartitioner(defaultParallelism)`
  * (a null id is a key of its own). A reduce task groups them by key in
  * hash maps and checks each pointer against each record of its key, or
  * once against none (a left join's pairs), in SQL's three-valued logic:
  * a rule whose condition is null falls through. The result is one
  * `LogicalRDD` leaf ([[RowFrame]]) of (record_type, violation, record_id).
  *
  * Rules (SURVEY.md §2.3) by pointer field, after the reference's record
  * checks: J1 `next_rel` (NodeRecordCheck); J2 `type`, J4 `source_prev` …
  * `target_next` (RelationshipRecordCheck); J3 `source`/`target`
  * (RelationshipNodeField); J5 `next_prop` (PrimitiveRecordCheck,
  * NeoStoreCheck); J6 `prev`/`next`, J7 `key`, J8 `string`/`array`, P3 own
  * block type (PropertyRecordCheck); J9 `next_block`, own lengths
  * (DynamicRecordCheck); J10 `name` (NameRecordCheck); J13-J15: one
  * multiple_owners per key claimed twice or more, an orphan_chain per head
  * nobody claims (OwnerCheck).
  */
object FullCheck {
  import graft.model.RecordSpec.{BlockSize, TLong, TDouble, TShortString, TLongString, TArray}

  private val NIL = -1L

  /** The full-check "task list" (FullCheck.java:90-125) grouped into the
    * reference's per-store-scan phases (JsonReportWriter.java:115-124). */
  private val PhaseNames: Seq[String] = Seq("node_store", "rel_store", "prop_store",
    "string_store", "array_store", "prop_keys", "rel_types", "owners")

  /** Record types: the stores items are keyed in, then a source only. */
  private val Types = Vector("node", "relationship", "property", "string", "array", "label",
    "key", "label_name", "key_name", "neostore")
  private val Fields = Vector("next_rel", "type", "source", "target", "source_prev",
    "source_next", "target_prev", "target_next", "next_prop", "prev", "next", "key",
    "string", "array", "next_block", "name")
  private val OwnViolations = Vector("invalid_length", "record_not_full_references_next",
    "invalid_property_value")

  /** Value slots: the store columns the check reads (record fields first), then a pointer's
    * source id, key and `node`/`prev`, and a slot never set (it reads null). */
  private val Columns = Vector("in_use", "next_rel", "first_node", "second_node", "first_prev",
    "first_next", "second_prev", "second_next", "prev_prop", "next_prop", "length",
    "id", "type_id", "prop_id", "key_id", "ptype", "value_ref", "next_block", "name_id")
  private final val InUse = 0; private final val NextRel = 1; private final val FirstNode = 2
  private final val SecondNode = 3; private final val FirstPrev = 4; private final val FirstNext = 5
  private final val SecondPrev = 6; private final val SecondNext = 7; private final val PrevProp = 8
  private final val NextProp = 9; private final val Length = 10; private final val Id = 11
  private final val Src = 19; private final val Key = 20; private final val Node = 21
  private final val Prev = 22; private final val Unset = 23

  /** A record item's fields, by record type: what the checks of pointers reaching it read. */
  private val RecordFields: Array[Array[Int]] = Array(Array(InUse, NextRel),
    Array(InUse, FirstNode, SecondNode, FirstPrev, FirstNext, SecondPrev, SecondNext),
    Array(InUse, PrevProp, NextProp), Array(InUse, Length), Array(InUse, Length),
    Array(InUse), Array(InUse), Array(InUse, Length), Array(InUse, Length), Array())

  // SQL booleans: false, true, unknown
  private final val F = 0; private final val T = 1; private final val U = 2
  private def and(a: Int, b: Int) = if (a == F || b == F) F else if (a == U || b == U) U else T
  private def or(a: Int, b: Int) = if (a == T || b == T) T else if (a == U || b == U) U else F
  private def not(a: Int) = if (a == U) U else T - a
  private def holds(a: Int) = a == T
  /** the violation of the first rule that holds, or null */
  private def first(rules: (Int, String)*): String = rules.find(r => holds(r._1)).map(_._2).orNull

  /** Nullable long slots, compared under three-valued logic. */
  private final class Slots {
    val v = new Array[Long](Unset + 1)
    var nulls = -1L
    def isNull(i: Int): Boolean = (nulls >>> i & 1L) != 0L
    def set(i: Int, x: Long): Unit = { v(i) = x; nulls &= ~(1L << i) }
    def setNull(i: Int): Unit = nulls |= 1L << i
    def test(i: Int, ok: Boolean): Int = if (isNull(i)) U else if (ok) T else F
    def absent(i: Int): Int = if (isNull(i)) T else F
    def bool(i: Int): Int = test(i, v(i) != 0L)
    def eq(i: Int, c: Long): Int = test(i, v(i) == c)
    def ne(i: Int, c: Long): Int = test(i, v(i) != c)
    def lt(i: Int, c: Long): Int = test(i, v(i) < c)
    def le(i: Int, c: Long): Int = test(i, v(i) <= c)
    def gt(i: Int, c: Long): Int = test(i, v(i) > c)
    def same(i: Int, j: Int): Int = if (isNull(j)) U else eq(i, v(j))
    def differs(i: Int, j: Int): Int = not(same(i, j))
  }
  private type Pred = Slots => Int
  private final val Record = 0; private final val Pointer = 1; private final val Claim = 2
  private final val Head = 3; private final val Own = 4

  /** An item a store's rows emit where `keep` holds ("" phase: a record, wanted by every phase
    * but owners), written as a header (kind, payload width, record type, field or own violation,
    * source type, null bits), the key id (0 if null) and the payload slots' values. */
  private final case class Keyed(phase: String, kind: Int, store: Int, key: Int, keep: Pred,
      field: Int = 0, src: Int = 0, srcId: Int = Id, extra: Int = -1,
      own: Slots => String = null) {
    private val payload = if (kind == Record) RecordFields(store)
      else if (kind == Pointer) Array(srcId, extra) else Array.emptyIntArray
    def write(r: Slots, blocks: Array[mutable.ArrayBuilder.ofLong]): Unit = {
      val code = if (kind == Own) OwnViolations.indexOf(own(r)) else field
      if (code >= 0 && holds(keep(r))) {
        val keyNull = r.isNull(key)
        var nulls = if (keyNull) 1L else 0L
        for (i <- payload.indices if payload(i) < 0 || r.isNull(payload(i))) nulls |= 2L << i
        val h = if (keyNull) -1 - store else 31 * store + java.lang.Long.hashCode(r.v(key))
        val b = blocks(Math.floorMod(h, blocks.length))
        b += kind | payload.length << 3 | store << 7 | code << 11 | src << 16 | nulls << 20
        b += (if (keyNull) 0L else r.v(key))
        payload.foreach(i => b += (if (i < 0) 0L else r.v(i)))
      }
    }
  }
  private def kind(h: Long) = (h & 7).toInt; private def width(h: Long) = 2 + (h >>> 3 & 15).toInt
  private def src(h: Long) = (h >>> 16 & 15).toInt; private def store(h: Long) = (h >>> 7 & 15).toInt
  private def code(h: Long) = (h >>> 11 & 31).toInt
  private def isNull(h: Long, i: Int) = (h >>> 20 + i & 1L) != 0L

  /** Every item each store's rows emit, in [[Stores.Names]] order. */
  private val melt: Seq[Seq[Keyed]] = {
    def c(name: String) = Columns.indexOf(name)
    def ty(name: String) = Types.indexOf(name)
    val used: Pred = _.bool(InUse)
    def set(col: String): Pred = { val i = c(col); r => and(r.bool(InUse), r.ne(i, NIL)) }
    def record(t: String) = Keyed("", Record, ty(t), Id, r => not(r.absent(Id)))
    def ptr(ph: String, srcType: String, srcId: String, field: String, target: String,
        targetId: String, keep: Pred, extra: String = null) =
      Keyed(ph, Pointer, ty(target), c(targetId), keep, Fields.indexOf(field),
        ty(srcType), c(srcId), if (extra == null) -1 else c(extra))
    def owned(t: String, keyCol: String, keep: Pred) =
      Keyed("owners", Claim, ty(t), c(keyCol), keep)
    def head(t: String, keep: Pred) = Keyed("owners", Head, ty(t), Id, keep)
    def rule(ph: String, t: String, id: String, keep: Pred, v: Slots => String) =
      Keyed(ph, Own, ty(t), c(id), keep, own = v)
    val rel = "relationship"
    def chain(field: String, col: String, node: String) =
      ptr("rel_store", rel, "id", field, rel, col, set(col), node)
    // J5 and its J13/J15 claim, from one owner kind
    def owner(srcType: String) = Seq(
      ptr("prop_store", srcType, "id", "next_prop", "property", "next_prop", set("next_prop")),
      owned("property", "next_prop", set("next_prop")))
    // J8 and its J14/J15 claim, for one dynamic store
    val ptype = c("ptype")
    def block(ph: String, kind: String, code: Int) = {
      val typed: Pred = _.eq(ptype, code)
      Seq(ptr(ph, "property", "prop_id", kind, kind, "value_ref", typed),
        owned(kind, "value_ref", typed))
    }
    // J9: next pointer plus the record's own length rules
    val next = c("next_block")
    def dynamic(ph: String, t: String, more: Keyed*) = Seq(record(t),
      ptr(ph, t, "id", "next_block", t, "next_block", set("next_block")),
      rule(ph, t, "id", used, r => first(
        or(r.le(Length, 0), r.gt(Length, BlockSize)) -> "invalid_length",
        and(r.lt(Length, BlockSize), r.ne(next, NIL)) -> "record_not_full_references_next"))) ++
      more
    val dynHead: Pred = r => and(r.bool(InUse), r.test(Id, r.v(Id) % 8 == 0))
    val valid = Set[Long](TLong, TDouble, TShortString, TLongString, TArray)
    Seq(
      Seq(record("node"),
        ptr("node_store", "node", "id", "next_rel", "relationship", "next_rel", set("next_rel"))) ++
        owner("node"),
      Seq(record(rel),
        ptr("rel_store", rel, "id", "type", "label", "type_id", used),
        ptr("rel_store", rel, "id", "source", "node", "first_node", used, "first_prev"),
        ptr("rel_store", rel, "id", "target", "node", "second_node", used, "second_prev"),
        chain("source_prev", "first_prev", "first_node"),
        chain("source_next", "first_next", "first_node"),
        chain("target_prev", "second_prev", "second_node"),
        chain("target_next", "second_next", "second_node")) ++
        owner(rel),
      owner("neostore"),
      Seq(record("property"),
        ptr("prop_store", "property", "id", "prev", "property", "prev_prop", set("prev_prop")),
        ptr("prop_store", "property", "id", "next", "property", "next_prop", set("next_prop")),
        head("property", r => and(r.bool(InUse), r.eq(PrevProp, NIL)))),
      Seq(ptr("prop_keys", "property", "prop_id", "key", "key", "key_id", _ => T),
        rule("prop_store", "property", "prop_id", _ => T, r =>
          if (r.isNull(ptype) || valid(r.v(ptype))) null else "invalid_property_value")) ++
        block("string_store", "string", TLongString) ++ block("array_store", "array", TArray),
      dynamic("string_store", "string", head("string", dynHead)),
      dynamic("array_store", "array", head("array", dynHead)),
      Seq(record("label"), ptr("rel_types", "label", "id", "name", "label_name", "name_id", used)),
      Seq(record("key"), ptr("prop_keys", "key", "id", "name", "key_name", "name_id", used)),
      dynamic("rel_types", "label_name"),
      dynamic("prop_keys", "key_name"))
  }

  /** (slot, ordinal, type) of each column of the check a store has */
  private def reads(schema: StructType) =
    Columns.indices.filter(i => schema.fieldNames.contains(Columns(i))).map { i =>
      val f = schema(Columns(i))
      require(Seq(LongType, IntegerType, BooleanType).contains(f.dataType), s"store column $f")
      (i, schema.fieldIndex(f.name), f.dataType)
    }.toArray

  /** One map task of one store: each row's values copied into slots,
    * its items packed into one block per reduce partition. */
  private def meltRows(rows: Iterator[InternalRow], read: Array[(Int, Int, DataType)],
      keyed: Array[Keyed], n: Int): Iterator[(Int, Array[Long])] = {
    val r = new Slots
    val blocks = Array.fill(n)(new mutable.ArrayBuilder.ofLong)
    rows.foreach { row =>
      r.nulls = -1L
      for ((slot, o, t) <- read if !row.isNullAt(o)) r.set(slot, t match {
        case LongType => row.getLong(o)
        case IntegerType => row.getInt(o)
        case _ => if (row.getBoolean(o)) 1L else 0L
      })
      keyed.foreach(_.write(r, blocks))
    }
    blocks.indices.iterator.collect { case p if blocks(p).length > 0 => p -> blocks(p).result() }
  }

  /** The violation of a pointer (`Src`, `Key`, `Node`, `Prev`) against a record of its key (none
    * if not `hasRec`), or null; a name starting with `_` follows the field's name. */
  private def reference(field: String, hasRec: Boolean, r: Slots): String = {
    val missing = if (hasRec) not(r.bool(InUse)) else T
    field match {
      case "next_rel" => first(missing -> "relationship_not_in_use",
        and(r.differs(FirstNode, Src), r.differs(SecondNode, Src)) -> "relationship_for_other_node",
        or(and(r.same(FirstNode, Src), r.ne(FirstPrev, NIL)),
          and(r.same(SecondNode, Src), r.ne(SecondPrev, NIL))) -> "relationship_not_first_in_chain")
      case "type" => first(missing -> "label_not_in_use")
      case "source" | "target" => first(missing -> "_node_not_in_use",
        and(r.eq(Prev, NIL), r.eq(NextRel, NIL)) -> "_node_has_no_relationships",
        and(r.eq(Prev, NIL), r.differs(NextRel, Src)) -> "_node_does_not_reference_back")
      case "source_prev" | "source_next" | "target_prev" | "target_next" =>
        // J4: a prev pointer is reciprocated by the target's next on the
        // shared endpoint's side, and vice versa
        val prev = field.endsWith("_prev")
        val back = if (holds(r.same(FirstNode, Node))) (if (prev) FirstNext else FirstPrev)
          else if (holds(r.same(SecondNode, Node))) (if (prev) SecondNext else SecondPrev)
          else Unset
        first(missing -> "_not_in_use", r.absent(back) -> "_references_other_node",
          r.differs(back, Src) -> "_does_not_reference_back")
      case "next_prop" => first(missing -> "property_not_in_use",
        r.ne(PrevProp, NIL) -> "property_not_first_in_chain")
      case "prev" | "next" => first(missing -> "_not_in_use",
        r.differs(if (field == "prev") NextProp else PrevProp, Src) -> "_does_not_reference_back")
      case "key" => first(missing -> "key_not_in_use")
      case "string" | "array" => first(missing -> "_not_in_use", r.le(Length, 0) -> "_empty")
      case "next_block" => first(r.same(Key, Src) -> "self_reference",
        missing -> "next_block_not_in_use", r.le(Length, 0) -> "next_block_empty")
      case "name" => first(missing -> "name_block_not_in_use", r.le(Length, 0) -> "empty_name")
    }
  }

  private final class Group { var recs: List[Int] = Nil; var claims = 0 } // record offsets, claims

  /** One reduce task: items grouped by key, then each pointer, head and own item checked, and
    * one multiple_owners per key claimed more than once. */
  private def checkItems(blocks: Iterator[(Int, Array[Long])]): Iterator[InternalRow] = {
    val items = Array.concat(blocks.map(_._2).toSeq: _*)
    // by record type and whether the key is null (its id then reads 0)
    val groups = Array.fill(2 * Types.length)(new mutable.LongMap[Group])
    def group(at: Int) = groups(2 * store(items(at)) + (if (isNull(items(at), 0)) 1 else 0))
      .getOrElseUpdate(items(at + 1), new Group)
    def scan(f: Int => Unit) = { var at = 0
      while (at < items.length) { f(at); at += width(items(at)) } }
    scan(at => kind(items(at)) match {
      case Record => val g = group(at); g.recs = at :: g.recs
      case Claim => group(at).claims += 1
      case _ =>
    })
    val out = mutable.ArrayBuffer.empty[InternalRow]
    def emit(t: Int, v: String, id: Any) =
      out += InternalRow(UTF8String.fromString(Types(t)), UTF8String.fromString(v), id)
    val r = new Slots
    def load(slot: Int, at: Int, i: Int) =
      if (isNull(items(at), i)) r.setNull(slot) else r.set(slot, items(at + 1 + i))
    scan { at =>
      val h = items(at)
      val id: Any = if (isNull(h, 0)) null else items(at + 1)
      kind(h) match {
        case Pointer =>
          load(Key, at, 0); load(Src, at, 1); load(Node, at, 2); load(Prev, at, 2)
          val field = Fields(code(h))
          val recs = group(at).recs
          for (rec <- if (recs.isEmpty) List(-1) else recs) {
            r.nulls |= (1L << Id) - 1
            if (rec >= 0) RecordFields(store(items(rec))).zipWithIndex
              .foreach { case (slot, i) => load(slot, rec, i + 1) }
            val v = reference(field, rec >= 0, r)
            if (v != null) emit(src(h), if (v.startsWith("_")) field + v else v,
              if (r.isNull(Src)) null else r.v(Src))
          }
        case Head => if (id == null || group(at).claims == 0) emit(store(h), "orphan_chain", id)
        case Own => emit(store(h), OwnViolations(code(h)), id)
        case _ =>
      }
    }
    for (g <- groups.indices; (id, k) <- groups(g) if k.claims > 1)
      emit(g / 2, "multiple_owners", if (g % 2 == 1) null else id)
    out.iterator
  }

  private val Schema = StructType(Seq(StructField("record_type", StringType),
    StructField("violation", StringType, nullable = false), StructField("record_id", LongType)))

  /** The violations of the phases in `only`: one scan per store, one
    * exchange. Record items ride along whenever a pointer may need them. */
  private def check(s: Stores, only: Set[String]): DataFrame = {
    val spark = s.nodes.sparkSession
    val n = spark.sparkContext.defaultParallelism
    val scans = s.named.map(_._2).zip(melt).flatMap { case (df, ks) =>
      val keyed = ks.filter(k => only(k.phase) || (k.phase == "" && only != Set("owners"))).toArray
      val read = reads(df.schema)
      if (keyed.isEmpty) None
      else Some(df.queryExecution.toRdd.mapPartitions(meltRows(_, read, keyed, n)))
    }
    val items = spark.sparkContext.union(scans).partitionBy(new HashPartitioner(n))
    RowFrame(spark, Schema, items.mapPartitions(checkItems))
  }

  /** All checks in one pass. */
  def violations(s: Stores): DataFrame = check(s, PhaseNames.toSet)

  /** [[violations]] sliced by phase, for timing each phase alone: each slice emits only its own
    * items; together they are exactly [[violations]]. */
  def phases(s: Stores): Seq[(String, DataFrame)] = PhaseNames.map(n => n -> check(s, Set(n)))

  /** A1: per-(record type, violation) summary
    * (ConsistencySummaryStatistics). */
  def summary(s: Stores): DataFrame =
    violations(s).groupBy("record_type", "violation").agg(count(lit(1)).as("n"))
}
