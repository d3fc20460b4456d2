package graft.checker

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkTestBase
import graft.model.Stores

/** Per-check unit tests with hand-built record rows — the Spark twin of
  * the reference's RecordCheckTestBase pattern
  * (consistency-check/src/test/.../RecordCheckTestBase.java:45-300):
  * build a tiny store fixture, run one check, assert exactly which
  * violations fire. */
class FullCheckSpec extends SparkTestBase {
  import spark.implicits._

  private def nodes(rows: (Long, Boolean, Long, Long)*): DataFrame =
    rows.toDF("id", "in_use", "next_rel", "next_prop")
  private def rels(rows: (Long, Boolean, Int, Long, Long, Long, Long, Long, Long, Long)*): DataFrame =
    rows.toDF("id", "in_use", "type_id", "first_node", "second_node",
      "first_prev", "first_next", "second_prev", "second_next", "next_prop")
  private def props(rows: (Long, Boolean, Long, Long, Long)*): DataFrame =
    rows.toDF("id", "in_use", "owner", "prev_prop", "next_prop")
  private def blocks(rows: (Long, Int, Int, Int, Long, Long)*): DataFrame =
    rows.toDF("prop_id", "idx", "key_id", "ptype", "value_ref", "vlen")
  private def dyns(rows: (Long, Boolean, Long, Long)*): DataFrame =
    rows.toDF("id", "in_use", "length", "next_block")
  private def dims(rows: (Long, Boolean, Long)*): DataFrame =
    rows.toDF("id", "in_use", "name_id")

  private def neo(rows: (Long, Boolean, Long)*): DataFrame =
    rows.toDF("id", "in_use", "next_prop")

  /** Minimal consistent fixture: two nodes, one typed rel (with its own
    * property chain), the NeoStore record (graph property), one
    * string-overflow property, one array property — mirrors
    * FullCheckIntegrationTest.java:58-73 extended to every owner kind
    * (PrimitiveRecordCheck.java:34, NeoStoreCheck.java:25) and both
    * dynamic stores (RecordType.java:22-28). */
  private def fixture: Stores = Stores(
    nodes = nodes((1L, true, 10L, 4L), (2L, true, 10L, 8L)),
    rels = rels((10L, true, 0, 1L, 2L, -1L, -1L, -1L, -1L, 40L)),
    neo = neo((0L, true, 0L)),
    props = props((0L, true, 0L, -1L, -1L), (4L, true, 1L, -1L, -1L),
      (8L, true, 2L, -1L, -1L), (40L, true, 10L, -1L, -1L)),
    blocks = blocks((0L, 0, 0, 1, -1L, 0L), (4L, 0, 0, 3, -1L, 4L),
      (4L, 1, 0, 5, 200L, 24L), (8L, 0, 0, 4, 100L, 20L),
      (40L, 0, 0, 1, -1L, 0L)),
    dyns = dyns((100L, true, 16L, 101L), (101L, true, 4L, -1L)),
    arrays = dyns((200L, true, 16L, 201L), (201L, true, 8L, -1L)),
    relTypes = dims((0L, true, 0L)),
    propKeys = dims((0L, true, 0L)),
    typeNames = dyns((0L, true, 9L, -1L)),
    keyNames = dyns((0L, true, 4L, -1L)))

  private def viols(s: Stores): Set[(String, String, Long)] =
    FullCheck.violations(s).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

  test("consistent fixture produces zero violations") {
    assert(viols(fixture) === Set.empty)
  }

  test("J1: dangling node.next_rel -> relationship_not_in_use") {
    val s = fixture.copy(nodes = nodes((1L, true, 99L, 4L), (2L, true, 10L, 8L)))
    assert(viols(s).contains(("node", "relationship_not_in_use", 1L)))
  }

  test("J1: next_rel to a rel of other nodes -> relationship_for_other_node") {
    val s = fixture.copy(
      nodes = nodes((1L, true, 10L, 4L), (2L, true, 10L, 8L), (3L, true, 10L, -1L)))
    assert(viols(s).contains(("node", "relationship_for_other_node", 3L)))
  }

  test("J2: type id outside dictionary -> label_not_in_use") {
    val s = fixture.copy(rels = rels((10L, true, 9, 1L, 2L, -1L, -1L, -1L, -1L, -1L)))
    assert(viols(s).contains(("relationship", "label_not_in_use", 10L)))
  }

  test("J3: endpoint node not in use -> source_node_not_in_use") {
    val s = fixture.copy(nodes = nodes((1L, false, 10L, 4L), (2L, true, 10L, 8L)))
    val v = viols(s)
    assert(v.contains(("relationship", "source_node_not_in_use", 10L)))
  }

  test("J3: chain head not referenced back -> source_node_does_not_reference_back") {
    val s = fixture.copy(nodes = nodes((1L, true, -1L, 4L), (2L, true, 10L, 8L)))
    assert(viols(s).contains(("relationship", "source_node_has_no_relationships", 10L)))
  }

  test("J4: broken chain reciprocity -> source_next_does_not_reference_back") {
    // two rels on node 1's chain: 10 -> next 11, but 11's prev on node 1 is 99
    val s = fixture.copy(
      nodes = nodes((1L, true, 10L, 4L), (2L, true, 10L, 8L), (3L, true, 11L, -1L)),
      rels = rels(
        (10L, true, 0, 1L, 2L, -1L, 11L, -1L, -1L, -1L),
        (11L, true, 0, 1L, 3L, 99L, -1L, -1L, -1L, -1L)))
    val v = viols(s)
    assert(v.contains(("relationship", "source_next_does_not_reference_back", 10L)))
    // and 11's dangling prev pointer fires its own check
    assert(v.contains(("relationship", "source_prev_not_in_use", 11L)))
  }

  test("J5: node property head not first in chain") {
    val s = fixture.copy(props = props((4L, true, 1L, 77L, -1L), (8L, true, 2L, -1L, -1L)))
    assert(viols(s).contains(("node", "property_not_first_in_chain", 1L)))
  }

  test("J8: long-string block with dangling value_ref -> string_not_in_use") {
    val s = fixture.copy(dyns = dyns((101L, true, 4L, -1L)))
    assert(viols(s).contains(("property", "string_not_in_use", 8L)))
  }

  test("J9: dynamic self reference and invalid length") {
    val s = fixture.copy(dyns = dyns((100L, true, 16L, 100L), (101L, true, 0L, -1L)))
    val v = viols(s)
    assert(v.contains(("string", "self_reference", 100L)))
    assert(v.contains(("string", "invalid_length", 101L)))
  }

  test("J13/J15: duplicate owner and orphaned chain") {
    // node 2 claims node 1's chain head (4); node 2's own head (8) orphaned
    val s = fixture.copy(nodes = nodes((1L, true, 10L, 4L), (2L, true, 10L, 4L)))
    val v = viols(s)
    assert(v.contains(("property", "multiple_owners", 4L)))
    assert(v.contains(("property", "orphan_chain", 8L)))
  }

  test("J10: zero-length dictionary name -> empty_name") {
    val s = fixture.copy(typeNames = dyns((0L, true, 0L, -1L)))
    val v = viols(s)
    assert(v.contains(("label", "empty_name", 0L)))
    assert(v.contains(("label_name", "invalid_length", 0L)))
  }

  test("J5-rel: dangling relationship property head -> property_not_in_use") {
    val s = fixture.copy(rels = rels((10L, true, 0, 1L, 2L, -1L, -1L, -1L, -1L, 99L)))
    val v = viols(s)
    assert(v.contains(("relationship", "property_not_in_use", 10L)))
    // the rel's real chain head is now unclaimed
    assert(v.contains(("property", "orphan_chain", 40L)))
  }

  test("J5-neostore: dangling graph property head -> property_not_in_use") {
    val s = fixture.copy(neo = neo((0L, true, 99L)))
    val v = viols(s)
    assert(v.contains(("neostore", "property_not_in_use", 0L)))
    assert(v.contains(("property", "orphan_chain", 0L)))
  }

  test("J13 across owner kinds: rel claiming a node's chain head") {
    val s = fixture.copy(rels = rels((10L, true, 0, 1L, 2L, -1L, -1L, -1L, -1L, 4L)))
    val v = viols(s)
    assert(v.contains(("property", "multiple_owners", 4L)))
    assert(v.contains(("property", "orphan_chain", 40L)))
  }

  test("J8-array: dangling array value_ref -> array_not_in_use") {
    val s = fixture.copy(arrays = dyns((201L, true, 8L, -1L)))
    val v = viols(s)
    assert(v.contains(("property", "array_not_in_use", 4L)))
    // head 200 gone; 201 is mid-chain (not id%8==0) so no array orphan
    assert(!v.contains(("array", "orphan_chain", 201L)))
  }

  test("J9/J14/J15-array: self reference, duplicate owners, orphan chain") {
    val s = fixture.copy(
      blocks = blocks((0L, 0, 0, 1, -1L, 0L), (4L, 0, 0, 3, -1L, 4L),
        (4L, 1, 0, 5, 208L, 24L), (8L, 0, 0, 4, 100L, 20L),
        (8L, 1, 0, 5, 208L, 8L), (40L, 0, 0, 1, -1L, 0L)),
      arrays = dyns((200L, true, 16L, 200L), (208L, true, 8L, -1L)))
    val v = viols(s)
    assert(v.contains(("array", "self_reference", 200L)))
    assert(v.contains(("array", "multiple_owners", 208L)))
    assert(v.contains(("array", "orphan_chain", 200L)))
  }

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  /** The consistent fixture plus records with nulls in ids, `in_use`,
    * pointers, `ptype` and `length`: SQL's three-valued logic decides
    * which checks fire (a rule whose condition is null falls through). */
  private type L = Option[Long]
  private type B = Option[Boolean]
  private def nullFixture: Stores = {
    val (t, n) = (Some(true), None)
    def l(v: Long): L = Some(v)
    fixture.copy(
      nodes = Seq[(L, B, L, L)]((l(1), t, l(10), l(4)), (l(2), t, l(10), l(8)),
        (l(3), n, l(10), l(-1)), (n, t, l(10), l(-1)), (l(5), t, n, n), (l(6), t, l(11), l(-1)),
        (l(7), t, l(12), l(41)))
        .toDF("id", "in_use", "next_rel", "next_prop"),
      rels = Seq[(L, B, Option[Int], L, L, L, L, L, L, L)](
        (l(10), t, Some(0), l(1), l(2), l(-1), l(-1), l(-1), l(-1), l(40)),
        (l(11), t, Some(0), n, l(6), n, l(12), l(-1), l(-1), l(-1)),
        (l(12), n, None, l(7), l(3), l(11), n, l(-1), l(-1), l(-1)),
        (l(13), t, Some(0), l(3), l(6), l(12), l(-1), n, l(-1), n))
        .toDF("id", "in_use", "type_id", "first_node", "second_node",
          "first_prev", "first_next", "second_prev", "second_next", "next_prop"),
      neo = Seq[(L, B, L)]((l(0), t, l(0)), (l(1), n, n)).toDF("id", "in_use", "next_prop"),
      props = Seq[(L, B, L, L, L)]((l(0), t, l(0), l(-1), l(-1)), (l(4), t, l(1), l(-1), l(-1)),
        (l(8), t, l(2), l(-1), l(-1)), (l(40), t, l(10), l(-1), l(-1)),
        (l(41), n, l(7), l(-1), l(42)), (l(42), t, l(7), n, n), (n, t, l(3), l(-1), l(-1)))
        .toDF("id", "in_use", "owner", "prev_prop", "next_prop"),
      blocks = Seq[(L, Int, Option[Int], Option[Int], L, L)](
        (l(0), 0, Some(0), Some(1), l(-1), l(0)), (l(4), 0, Some(0), Some(3), l(-1), l(4)),
        (l(4), 1, Some(0), Some(5), l(200), l(24)), (l(8), 0, Some(0), Some(4), l(100), l(20)),
        (l(40), 0, Some(0), Some(1), l(-1), l(0)), (l(41), 0, None, None, l(300), l(0)),
        (l(41), 1, Some(0), Some(4), n, l(20)), (l(42), 0, Some(0), Some(4), n, l(20)),
        (n, 0, Some(0), Some(5), n, l(8)))
        .toDF("prop_id", "idx", "key_id", "ptype", "value_ref", "vlen"),
      dyns = Seq[(L, B, L, L)]((l(100), t, l(16), l(101)), (l(101), t, l(4), l(-1)),
        (l(102), t, n, l(103)), (l(103), n, l(4), l(-1)), (n, t, l(4), l(104)),
        (l(104), t, l(16), n), (l(112), n, n, l(112)))
        .toDF("id", "in_use", "length", "next_block"),
      arrays = Seq[(L, B, L, L)]((l(200), t, l(16), l(201)), (l(201), t, n, l(-1)),
        (l(208), t, l(8), n), (n, n, l(8), l(-1)))
        .toDF("id", "in_use", "length", "next_block"),
      relTypes = Seq[(L, B, L)]((l(0), t, l(0)), (l(1), t, n), (l(2), n, l(0)))
        .toDF("id", "in_use", "name_id"),
      typeNames = Seq[(L, B, L, L)]((l(0), t, l(9), l(-1)), (l(1), t, n, n))
        .toDF("id", "in_use", "length", "next_block"))
  }

  test("nulls in ids, in_use, pointers, ptype and length follow SQL's three-valued logic") {
    val s = nullFixture
    val got = multiset(FullCheck.violations(s))
    assert(FullCheck.violations(s).schema === StructType(Seq(
      StructField("record_type", StringType), StructField("violation", StringType, nullable = false),
      StructField("record_id", LongType))))
    // captured from the DataFrame formulation of the check (window + CASE)
    assert(got === Map[Seq[Any], Int](
      Seq("array", "orphan_chain", 208L) -> 1,
      Seq("label", "name_block_not_in_use", 1L) -> 1,
      Seq("node", "relationship_not_first_in_chain", 7L) -> 1,
      Seq("property", "array_not_in_use", null) -> 1,
      Seq("property", "key_not_in_use", 41L) -> 1,
      Seq("property", "orphan_chain", null) -> 1,
      Seq("property", "string_not_in_use", 41L) -> 1,
      Seq("property", "string_not_in_use", 42L) -> 1,
      Seq("relationship", "source_next_references_other_node", 11L) -> 1,
      Seq("relationship", "source_node_not_in_use", 11L) -> 1,
      Seq("relationship", "source_prev_does_not_reference_back", 13L) -> 1,
      Seq("string", "multiple_owners", null) -> 1,
      Seq("string", "orphan_chain", 104L) -> 1,
      Seq("string", "record_not_full_references_next", null) -> 1))
    assert(multiset(FullCheck.phases(s).map(_._2).reduce(_ unionAll _)) === got)
  }

  /** ScaleCheckSpec's generated store under the seeded corruption */
  private lazy val corrupted: Stores = Corruption(ScaleCheck.stores(spark, 500L)).persistAll()
  /** a second, smaller corrupted bundle */
  private lazy val smaller: Stores = Corruption(ScaleCheck.stores(spark, 300L)).persistAll()

  test("corrupted generated store: exact violation counts, duplicates included") {
    val v = FullCheck.violations(corrupted)
    val got = v.groupBy("record_type", "violation").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // captured from the per-join union this plan replaced
    assert(got === Map[(String, String), Long](
      ("array", "invalid_length") -> 12L,
      ("array", "multiple_owners") -> 3L,
      ("array", "next_block_empty") -> 9L,
      ("array", "orphan_chain") -> 3L,
      ("array", "self_reference") -> 9L,
      ("node", "relationship_not_in_use") -> 5L,
      ("property", "array_empty") -> 3L,
      ("property", "invalid_property_value") -> 6L,
      ("property", "multiple_owners") -> 6L,
      ("property", "orphan_chain") -> 11L,
      ("property", "string_empty") -> 4L,
      ("relationship", "label_not_in_use") -> 15L,
      ("relationship", "property_not_in_use") -> 10L,
      ("relationship", "source_next_does_not_reference_back") -> 7L,
      ("relationship", "source_next_not_in_use") -> 12L,
      ("relationship", "source_node_does_not_reference_back") -> 3L,
      ("relationship", "source_node_not_in_use") -> 15L,
      ("relationship", "source_prev_does_not_reference_back") -> 14L,
      ("relationship", "source_prev_not_in_use") -> 8L,
      ("relationship", "target_next_does_not_reference_back") -> 6L,
      ("relationship", "target_next_not_in_use") -> 9L,
      ("relationship", "target_node_does_not_reference_back") -> 2L,
      ("relationship", "target_node_not_in_use") -> 20L,
      ("relationship", "target_prev_does_not_reference_back") -> 7L,
      ("relationship", "target_prev_not_in_use") -> 5L,
      ("string", "invalid_length") -> 22L,
      ("string", "next_block_empty") -> 18L,
      ("string", "self_reference") -> 20L))
    assert(v.count() === 264L)
  }

  test("the eight phases together are exactly the violations multiset") {
    val ps = FullCheck.phases(corrupted)
    assert(ps.map(_._1) === Seq("node_store", "rel_store", "prop_store", "string_store",
      "array_store", "prop_keys", "rel_types", "owners"))
    assert(multiset(ps.map(_._2).reduce(_ unionAll _)) === multiset(FullCheck.violations(corrupted)))
  }

  test("the full check's summary runs in at most 2 jobs") {
    // a bundle with violations, its stores already cached: the scans and
    // the exchange, then the summary's own aggregation
    val s = corrupted
    val (jobs, _) = traced(FullCheck.summary(s).collect(), "FullCheck.summary over a corrupted bundle")
    assert(jobs.size <= 2, s"${jobs.size} jobs")
  }

  /** `df`'s rows with its plan cut off */
  private def fixed(df: DataFrame): DataFrame = df.localCheckpoint(true)

  test("two bundles' checks in one plan: exceptAll and unionAll") {
    val (a, b) = (corrupted, smaller)
    val (va, vb) = (FullCheck.violations(a), FullCheck.violations(b))
    val (fa, fb) = (fixed(FullCheck.violations(a)), fixed(FullCheck.violations(b)))
    val aNotB = multiset(fa.exceptAll(fb))
    assert(aNotB.nonEmpty)
    assert(multiset(va.exceptAll(vb)) === aNotB)
    assert(multiset(vb.exceptAll(va)) === multiset(fb.exceptAll(fa)))
    assert(multiset(va.unionAll(vb)) === multiset(fa.unionAll(fb)))
    assert(multiset(va.exceptAll(va)).isEmpty)
  }

  test("a bundle in which two stores are the same frame checks correctly") {
    // the string store read as both dynamic stores, against a copy of it
    // under a plan of its own
    val b = smaller
    val twice = b.copy(arrays = b.dyns)
    val apart = b.copy(arrays = spark.createDataFrame(b.dyns.rdd, b.dyns.schema))
    val want = multiset(FullCheck.violations(apart))
    assert(want.keys.exists(_.head == "array"))
    assert(multiset(FullCheck.violations(twice)) === want)
  }

  test("two threads checking different bundles concurrently get correct results") {
    val (a, b) = (corrupted, smaller)
    val (wa, wb) = (multiset(FullCheck.violations(a)), multiset(FullCheck.violations(b)))
    val got = Await.result(Future.sequence(Seq(a, b, a, b).map(s =>
      Future(multiset(FullCheck.violations(s))))), Duration.Inf)
    assert(got === Seq(wa, wb, wa, wb))
  }
}
