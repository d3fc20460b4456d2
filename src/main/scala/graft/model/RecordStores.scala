package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CacheFill

import graft.sources.Tpch

/** Record-level twin of the property graph — the physical schema the
  * reference's consistency checker operates on (SURVEY.md §1.2).
  *
  * Mirrors the reference's fixed-width record stores
  * (consistency-check/.../RecordType.java:22-28):
  *
  *  - node store:          `{id, inUse, nextRel, nextProp}`
  *    (NodeRecordCheck.java:29-57)
  *  - relationship store:  `{id, inUse, typeId, firstNode, secondNode,
  *    firstPrevRel, firstNextRel, secondPrevRel, secondNextRel, nextProp}`
  *    (RelationshipRecordCheck.java:34-37, RelationshipNodeField.java:33-110)
  *  - property store:      `{id, inUse, owner, prevProp, nextProp}` +
  *    a blocks table `{propId, idx, keyId, ptype, valueRef, vlen}`
  *    (PropertyRecordCheck.java:120-162)
  *  - dynamic string store `{id, inUse, length, nextBlock}`
  *    (DynamicRecordCheck.java:30-108)
  *  - rel-type / prop-key dictionaries `{id, inUse, nameId}` + name
  *    dynamic stores (NameRecordCheck.java:30-66)
  *
  * The stores are *derived* from the logical graph by pure arithmetic +
  * window functions — relationship prev/next chain pointers come from
  * lag/lead over (endpoint node, rel id), which replaces the reference's
  * doubly-linked lists with a shuffle-partitionable derivation (one
  * shuffle keyed by node id, the same key later joins need). Property
  * records chunk an entity's properties into records of ≤4 blocks;
  * string values longer than [[RecordSpec.BlockSize]] chars overflow
  * into chained dynamic blocks, exactly like the reference's dynamic
  * store chains.
  *
  * Every id is assigned by collision-free arithmetic (no driver-side
  * allocation, no monotonically_increasing_id), so the derivation is
  * deterministic at any scale and reproducible in the DuckDB oracle
  * ([[graft.oracle.RecordCtes]] generates the SQL twin from the same
  * [[RecordSpec]]).
  */
object RecordSpec {
  /** chars per dynamic block (reference: block-chained dynamic stores) */
  val BlockSize = 16
  /** property blocks per PropertyRecord (reference packs multiple
    * blocks per fixed-width property record) */
  val BlocksPerRecord = 4

  /** value-type codes for property blocks (reference PropertyType:
    * inlined primitives vs dynamic-store strings vs dynamic-store
    * arrays — the reference keeps STRING_PROPERTY and ARRAY_PROPERTY
    * as two separate dynamic stores, RecordType.java:22-28,
    * PropertyRecordCheck.java:128-162) */
  val TLong = 1; val TDouble = 2; val TShortString = 3; val TLongString = 4
  val TArray = 5

  /** One extra (non-name) property of a node kind.
    * `vlenExpr` is ANSI SQL over the source table's columns, shared
    * verbatim between Spark (`expr(...)`) and the DuckDB oracle. */
  final case class Extra(keyId: Int, seq: Int, ptype0: Int, vlenExpr: String)
  final case class KindProps(kindCode: Long, table: String, keyCol: String,
                             extras: Seq[Extra])

  import TpchGraph._
  /** Properties beyond `name` (key 0, carried by every node). */
  val extraProps: Seq[KindProps] = Seq(
    KindProps(Customer, "customer", "c_custkey", Seq(
      Extra(1, 1, TDouble, "0"),
      Extra(2, 2, TShortString, "length(c_mktsegment)"))),
    KindProps(Supplier, "supplier", "s_suppkey", Seq(
      Extra(1, 1, TDouble, "0"))),
    KindProps(Part, "part", "p_partkey", Seq(
      Extra(3, 1, TShortString, "length(p_brand)"),
      Extra(4, 2, TShortString, "length(p_type)"),
      Extra(5, 3, TLong, "0"),
      Extra(6, 4, TDouble, "0"),
      // ARRAY-typed property: 8 bytes per element, 1..5 elements —
      // chunked into the separate array dynamic store exactly like
      // long strings chunk into the string store
      Extra(12, 5, TArray, "8 * (p_partkey % 5 + 1)"))),
    KindProps(Order, "orders", "o_orderkey", Seq(
      Extra(7, 1, TShortString, "length(o_orderstatus)"),
      Extra(8, 2, TDouble, "0"))),
  )

  /** Relationship properties (reference: property chains hang off
    * nodes, relationships AND the NeoStore record through one shared
    * checker — PrimitiveRecordCheck.java:34, NeoStoreCheck.java:25).
    * Derived from rel-id arithmetic so the DuckDB oracle reproduces
    * them exactly: every rel carries `weight` (inlined long); rels
    * with id % [[RelNoteMod]] == 1 also carry `note`, a string of
    * 5 + id % 29 chars that overflows into the string dynamic store
    * when longer than a block — giving relationships their own
    * dynamic chains. */
  val RelWeightKey = 9
  val RelNoteKey = 10
  val RelNoteMod = 37

  /** The NeoStore pseudo-record: one well-known record (id 0, below
    * every entity id namespace) holding graph-wide properties — the
    * twin of the reference's NeoStore property chain
    * (NeoStoreCheck.java:25, graph props read at MasterImpl.java:96). */
  val NeoStoreId = 0L
  val NeoNameKey = 0
  val NeoTxKey = 11
  /** vlen of the neostore's `name` graph property ("graft-graph") */
  val NeoNameLen = 11L

  /** property-key dictionary (reference PropertyIndexRecord store) */
  val propKeys: Seq[(Int, String)] = Seq(
    0 -> "name", 1 -> "acctbal", 2 -> "mktsegment", 3 -> "brand",
    4 -> "type", 5 -> "size", 6 -> "retailprice", 7 -> "status",
    8 -> "totalprice", 9 -> "weight", 10 -> "note", 11 -> "tx_count",
    12 -> "sizes")

  /** relationship-type dictionary (reference RelationshipTypeRecord store) */
  val relTypes: Seq[(Int, String)] = Seq(
    0 -> "IN_REGION", 1 -> "IN_NATION", 2 -> "PLACED_BY",
    3 -> "HAS_PART", 4 -> "SUPPLIED_BY")

  /** Chunk a dictionary name into dynamic name-store records
    * `(id, inUse, length, nextBlock)` — driver-side twin of the
    * dynamic-store derivation, for the tiny literal dictionaries. */
  def nameBlocks(dictId: Int, name: String): Seq[(Long, Boolean, Long, Long)] = {
    val L = name.length
    val nb = (L + BlockSize - 1) / BlockSize
    (0 until nb).map { j =>
      val id = dictId.toLong * 8 + j
      val len = if (j < nb - 1) BlockSize.toLong else (L - BlockSize * (nb - 1)).toLong
      val next = if (j < nb - 1) id + 1 else -1L
      (id, true, len, next)
    }
  }
}

/** The full record-store bundle the checker runs over. [[Stores.Names]]
  * names each store, in field order. */
final case class Stores(
  nodes: DataFrame,     // id, in_use, next_rel, next_prop
  rels: DataFrame,      // id, in_use, type_id, first_node, second_node,
                        //   first_prev, first_next, second_prev, second_next, next_prop
  neo: DataFrame,       // id, in_use, next_prop — the single NeoStore record
  props: DataFrame,     // id, in_use, owner, prev_prop, next_prop
  blocks: DataFrame,    // prop_id, idx, key_id, ptype, value_ref, vlen
  dyns: DataFrame,      // id, in_use, length, next_block (STRING store)
  arrays: DataFrame,    // id, in_use, length, next_block (ARRAY store)
  relTypes: DataFrame,  // id, in_use, name_id
  propKeys: DataFrame,  // id, in_use, name_id
  typeNames: DataFrame, // id, in_use, length, next_block
  keyNames: DataFrame   // id, in_use, length, next_block
) {
  /** Every store with its name, in bundle order. */
  def named: Seq[(String, DataFrame)] =
    Stores.Names.zip(productIterator.collect { case d: DataFrame => d }.toSeq)

  /** Persist every store and fill the caches not loaded yet in one job
    * ([[CacheFill]]); a bundle already loaded runs no job. A store read
    * by several plans (the full check, its phase slices, a summary) is
    * otherwise re-read from its source by each — e.g. a freshly restored
    * backup's parquet — and a cache left unfilled costs the first query
    * one job per store. */
  def persistAll(): Stores = {
    named.foreach(_._2.persist())
    CacheFill.fill(named.map(_._2))
    this
  }

  /** Release every store's cache (non-blocking). */
  def unpersistAll(): Unit = named.foreach(_._2.unpersist(false))
}

object Stores {
  /** Store names in field order; a backup keeps each store in the
    * directory of its name. */
  val Names: Seq[String] = Seq("nodes", "rels", "neo", "props", "blocks",
    "dyns", "arrays", "rel_types", "prop_keys", "type_names", "key_names")

  /** The bundle whose store named `n` is `store(n)`. */
  def fromNamed(store: String => DataFrame): Stores = {
    val Seq(nodes, rels, neo, props, blocks, dyns, arrays, relTypes,
      propKeys, typeNames, keyNames) = Names.map(store)
    Stores(nodes, rels, neo, props, blocks, dyns, arrays, relTypes,
      propKeys, typeNames, keyNames)
  }
}

object RecordStores {
  import RecordSpec._

  /** Memoized, persisted derivation: the full check, the oracle-gated
    * checker queries and the backup queries all read the same five
    * stores — without persistence the derivation would execute once
    * PER READER. One cached derivation per sf dir (dimension stores are
    * literal, no need). */
  private val cached = new graft.SessionMemo[Stores]
  def deriveCached(spark: SparkSession, dir: String): Stores =
    cached.getOrElseUpdate(spark, dir) {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      // tap persists the shared intermediates (rels-with-ids, incidence
      // windows, prop rows): five stores otherwise re-derive them once
      // each during cache fill
      val taps = scala.collection.mutable.ArrayBuffer[DataFrame]()
      val s = derive(spark, dir, tap = { d => val p = d.persist(); taps += p; p })
      // taps arrive in derive() call order: rels-with-ids, propRows,
      // incidence (the last tapped inside assemble()). incidence depends
      // on rels; propRows is independent — fill the two chains
      // concurrently, then materialize the five stores in parallel (all
      // shared subtrees cached by then, so no branch races another's
      // work).
      val Seq(rels0, rows, incPN) = taps.toSeq
      Await.result(Future.sequence(Seq(
        Future { rels0.count(); incPN.count() },
        Future { rows.count() })), Duration.Inf)
      // Each store ends in repartition-by-id + eager localCheckpoint:
      // the checkpoint truncates the derivation out of the logical plan
      // (the full check — and every later query over the stores —
      // would otherwise re-run Catalyst analysis over the whole
      // derivation tree per query, which costs more than the joins at
      // this scale), and LogicalRDD keeps the hash partitioning, so
      // pointer joins building on id skip one exchange.
      val ckpt = Await.result(Future.sequence(Seq(
        "nodes" -> s.nodes.repartition(col("id")),
        "rels" -> s.rels.repartition(col("id")),
        "props" -> s.props.repartition(col("id")),
        "blocks" -> s.blocks.repartition(col("prop_id")),
        "dyns" -> s.dyns.repartition(col("id")),
        "arrays" -> s.arrays.repartition(col("id"))
      ).map { case (n, df) => Future(n -> df.localCheckpoint(true)) }),
        Duration.Inf).toMap
      // stores are now self-contained RDDs; the tap caches only served
      // the fill and would otherwise hold memory for the whole session
      // (neo is a one-row literal — nothing to checkpoint)
      taps.foreach(_.unpersist())
      s.copy(nodes = ckpt("nodes"), rels = ckpt("rels"),
        props = ckpt("props"), blocks = ckpt("blocks"), dyns = ckpt("dyns"),
        arrays = ckpt("arrays"))
    }

  /** prop_rows: one row per (entity, property) with only structural
    * fields — (owner, key_id, seq, ptype, value_ref, vlen). Values
    * themselves never enter the record stores (the checker validates
    * structure, not content — PropertyRecordCheck.java:128-162).
    * Owners span all three primitive kinds the reference's shared
    * checker walks (PrimitiveRecordCheck.java:34): nodes, relationships
    * (weight on every rel, an overflowing note on a deterministic
    * subset) and the NeoStore record (graph properties). */
  /** max property seq per owner, known STATICALLY per owner kind (the
    * property sets are spec data, and seqs are dense 0..max): lets the
    * record chunking below run shuffle-free — no distinct, no window. */
  private val maxSeqByTable: Map[String, Int] =
    extraProps.map(kp => kp.table -> kp.extras.map(_.seq).max).toMap
  private val kindNameToTable = Map(
    "customer" -> "customer", "supplier" -> "supplier",
    "part" -> "part", "order" -> "orders")

  def propRows(spark: SparkSession, dir: String, rels: DataFrame): DataFrame = {
    // name branch: owner's max seq depends on its kind (0 for kinds
    // with no extras)
    val nameMaxSeq = kindNameToTable.foldLeft(lit(0)) { case (acc, (kind, t)) =>
      when(col("kind") === kind, lit(maxSeqByTable(t))).otherwise(acc)
    }
    val name = TpchGraph.nodes(spark, dir).select(
      col("id").as("owner"), lit(0).as("key_id"), lit(0).as("seq"),
      lit(TShortString).as("ptype0"), length(col("name")).cast("long").as("vlen"),
      nameMaxSeq.as("max_seq"))
    val extras = extraProps.flatMap { kp =>
      val t = Tpch.table(spark, dir, kp.table)
      kp.extras.map { e =>
        t.select(
          (lit(kp.kindCode * TpchGraph.Base) + col(kp.keyCol)).as("owner"),
          lit(e.keyId).as("key_id"), lit(e.seq).as("seq"),
          lit(e.ptype0).as("ptype0"), expr(e.vlenExpr).cast("long").as("vlen"),
          lit(maxSeqByTable(kp.table)).as("max_seq"))
      }
    }
    val relMaxSeq = when(col("id") % RelNoteMod === 1, lit(1)).otherwise(lit(0))
    val relWeight = rels.select(col("id").as("owner"),
      lit(RelWeightKey).as("key_id"), lit(0).as("seq"),
      lit(TLong).as("ptype0"), lit(0L).as("vlen"), relMaxSeq.as("max_seq"))
    val relNote = rels.filter(col("id") % RelNoteMod === 1)
      .select(col("id").as("owner"), lit(RelNoteKey).as("key_id"),
        lit(1).as("seq"), lit(TShortString).as("ptype0"),
        (lit(5L) + col("id") % 29).as("vlen"), lit(1).as("max_seq"))
    typed((name +: extras :+ relWeight :+ relNote :+ neoRows(spark))
      .reduce(_ unionAll _))
  }

  /** The NeoStore record's two graph properties, `name` and `tx_count`,
    * as untyped property rows `(owner, key_id, seq, ptype0, vlen,
    * max_seq)`. */
  def neoRows(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((NeoStoreId, NeoNameKey, 0, TShortString, NeoNameLen, 1),
      (NeoStoreId, NeoTxKey, 1, TLong, 0L, 1))
      .toDF("owner", "key_id", "seq", "ptype0", "vlen", "max_seq")
  }

  /** Id offset of block `j` of a dynamic chain from its head. A chain
    * head is a block on an id ≡ 0 (mod 8) (the J15 orphan-chain rule),
    * so past its first 8 blocks a chain skips those ids: block 8 sits
    * at offset 9. Chains of at most 8 blocks are contiguous. */
  private def blockOffset(j: Column): Column = j + (j - 1).divide(7).cast("long")

  /** Ids a value of `blocks` dynamic blocks spans from its head,
    * rounded up to the next head slot: the `value_ref` spacing that
    * keeps such values' chains apart. */
  def valueSpacing(blocks: Long): Long = {
    val span = blocks + (blocks - 2) / 7
    math.max(8L, (span + 7) / 8 * 8)
  }

  /** Types untyped property rows: a short string longer than one block
    * becomes a long string, and every long string or array gets the
    * dynamic-store chain at `value_ref = (owner·keySpace + key_id)·
    * spacing`; inlined values get NIL. `keySpace` bounds the key ids: 16
    * for the static dictionaries, wider for a session's observed one.
    * `spacing` is 8 ids (8 blocks, 128 chars) for the generated stores,
    * whose values are shorter; a session passes the [[valueSpacing]] of
    * its longest value. */
  def typed(rows: DataFrame, keySpace: Long = 16L, spacing: Long = 8L): DataFrame = rows
    .withColumn("ptype",
      when(col("ptype0") === TShortString && col("vlen") > BlockSize,
        lit(TLongString)).otherwise(col("ptype0")))
    .withColumn("value_ref",
      when(col("ptype") === TLongString || col("ptype") === TArray,
        (col("owner") * keySpace + col("key_id")) * spacing).otherwise(lit(-1L)))
    .drop("ptype0")

  /** Incidence list with chain pointers: for each (node, rel) pair the
    * prev/next relationship in that node's chain (rel-id order), from
    * `rels(id, src, dst)`. One window shuffle keyed by node — scales as
    * a single exchange.
    *
    * A loop relationship (src == dst) participates ONCE in its node's
    * chain: melting it twice would put two identical (node, rel_id)
    * window rows back-to-back and break pointer reciprocity. Its
    * second-side pointers mirror the first side (see [[chainPointers]]). */
  def incidence(rels: DataFrame): DataFrame = {
    val inc = rels.select(col("src").as("node"), col("id").as("rel_id"), lit(0).as("side"))
      .unionAll(rels.filter(col("src") =!= col("dst"))
        .select(col("dst").as("node"), col("id").as("rel_id"), lit(1).as("side")))
    val w = Window.partitionBy("node").orderBy("rel_id")
    inc.select(col("node"), col("rel_id"), col("side"),
      lag("rel_id", 1, -1).over(w).as("prev"),
      lead("rel_id", 1, -1).over(w).as("next"))
  }

  /** Each relationship's four chain pointers from its [[incidence]]
    * rows: `(rel_id, first_prev, first_next, second_prev, second_next)`.
    * A loop has no side-1 row: its second-side pointers mirror the
    * first side (one chain position, both record slots). */
  def chainPointers(inc: DataFrame): DataFrame = inc.groupBy("rel_id").agg(
    max(when(col("side") === 0, col("prev"))).as("first_prev"),
    max(when(col("side") === 0, col("next"))).as("first_next"),
    coalesce(max(when(col("side") === 1, col("prev"))),
      max(when(col("side") === 0, col("prev")))).as("second_prev"),
    coalesce(max(when(col("side") === 1, col("next"))),
      max(when(col("side") === 0, col("next")))).as("second_next"))

  /** Each node's chain head, its lowest rel id: `(node, min_rel)`. A
    * node with no relationships has no row. */
  def chainHeads(inc: DataFrame): DataFrame =
    inc.groupBy("node").agg(min("rel_id").as("min_rel"))

  def typeIdExpr(typeCol: String): org.apache.spark.sql.Column =
    relTypes.foldLeft(when(lit(false), lit(-1))) { case (acc, (id, nm)) =>
      acc.when(col(typeCol) === nm, lit(id))
    }.otherwise(lit(-1))

  def derive(spark: SparkSession, dir: String,
             tap: DataFrame => DataFrame = identity): Stores = {
    val rels0 = tap(TpchGraph.rels(spark, dir))
    val g = PropertyGraph(TpchGraph.nodes(spark, dir), rels0)
    val rows = tap(propRows(spark, dir, g.rels))
    assemble(spark, g.nodes,
      g.rels.withColumn("type_id", typeIdExpr("type")), rows,
      relTypes, propKeys, tap = tap)
  }

  /** Generic record-store assembly from ANY property graph:
    * `nodes0(id, …)`, `rels1(id, src, dst, type_id, …)`, property
    * `rows(owner, key_id, seq, ptype, value_ref, vlen, max_seq)` plus
    * literal dictionaries. Every record-layout decision is made here:
    * chain pointers and heads, property-record chunking, dynamic-block
    * chunking, dictionaries and name stores. [[derive]] feeds it the
    * TPC-H graph; [[graft.checker.ScaleCheck]] feeds it the reference's
    * canonical generated perf workload (10M nodes / 30M rels / 40M
    * props —
    * enterprise-performance-tests/.../ConsistencyPerformanceCheck.java:76-86);
    * [[SessionStores]] feeds it a live session's graph.
    *
    * `relNextProp` is the relationship store's property-chain head
    * column: TPC-H rels all carry `weight`, chained at id*4; generated
    * workloads carry node properties only (`-node_properties`), so their
    * rel records point at NIL. */
  def assemble(spark: SparkSession, nodes0: DataFrame, rels1: DataFrame,
               rows: DataFrame,
               relTypeDict: Seq[(Int, String)],
               propKeyDict: Seq[(Int, String)],
               relNextProp: org.apache.spark.sql.Column = col("id") * 4,
               tap: DataFrame => DataFrame = identity): Stores = {
    val incPN = tap(incidence(rels1))
    val chain = chainPointers(incPN)

    // when rels own properties their chain head is id*4 — the same
    // arithmetic as nodes (PrimitiveRecordCheck walks both)
    val relRecs = rels1
      .join(chain, rels1("id") === chain("rel_id"))
      .select(rels1("id"), lit(true).as("in_use"), col("type_id"),
        col("src").as("first_node"), col("dst").as("second_node"),
        col("first_prev"), col("first_next"),
        col("second_prev"), col("second_next"),
        relNextProp.as("next_prop"))

    val minRel = chainHeads(incPN)
    val nodeRecs = nodes0
      .join(minRel, nodes0("id") === minRel("node"), "left")
      .select(nodes0("id"), lit(true).as("in_use"),
        coalesce(col("min_rel"), lit(-1L)).as("next_rel"),
        (nodes0("id") * 4).as("next_prop"))

    // property records: chunk into records of ≤4 blocks, doubly linked.
    // One record per 4 dense seqs — the rows with seq % 4 == 0 ARE the
    // record set (seqs are dense per owner by construction), and the
    // chain end comes from the statically-known max_seq: zero shuffles,
    // where a distinct + max-window would shuffle the full prop rows
    // twice (the oracle keeps the window form; values are identical)
    val propRecs = rows.filter(col("seq") % 4 === 0)
      .select((col("owner") * 4 + expr("seq div 4")).as("id"),
        lit(true).as("in_use"), col("owner"),
        when(expr("seq div 4") === 0, lit(-1L))
          .otherwise(col("owner") * 4 + expr("seq div 4") - 1).as("prev_prop"),
        when(expr("seq div 4") === expr("max_seq div 4"), lit(-1L))
          .otherwise(col("owner") * 4 + expr("seq div 4") + 1).as("next_prop"))

    val blocks = rows.select(
      (col("owner") * 4 + expr("seq div 4")).as("prop_id"),
      expr("seq % 4").as("idx"),
      col("key_id"), col("ptype"), col("value_ref"), col("vlen"))

    // dynamic stores: chained 16-unit blocks for overflowing values.
    // STRING and ARRAY values chunk identically but live in SEPARATE
    // stores (reference RecordType STRING_PROPERTY vs ARRAY_PROPERTY),
    // so the same chunker runs per ptype.
    def chunked(ptypeCode: Int): DataFrame = rows
      .filter(col("ptype") === ptypeCode)
      .select(col("value_ref"), col("vlen"),
        expr(s"(vlen + ${BlockSize - 1}) div $BlockSize").as("nb"))
      .select(col("value_ref"), col("vlen"), col("nb"),
        explode(sequence(lit(0L), col("nb") - 1)).as("j"))
      .select((col("value_ref") + blockOffset(col("j"))).as("id"), lit(true).as("in_use"),
        when(col("j") < col("nb") - 1, lit(BlockSize.toLong))
          .otherwise(col("vlen") - lit(BlockSize) * (col("nb") - 1)).as("length"),
        when(col("j") < col("nb") - 1, col("value_ref") + blockOffset(col("j") + 1))
          .otherwise(lit(-1L)).as("next_block"))
    val dyns = chunked(TLongString)
    val arrays = chunked(TArray)

    // dictionaries + their name dynamic stores (dimension-sized: S4 —
    // the reference materializes these wholly, FullCheck.java:127-142;
    // here they are literal DFs that Catalyst broadcast-joins)
    import spark.implicits._
    val relTypesDF = relTypeDict.map { case (i, _) => (i.toLong, true, i.toLong * 8) }
      .toDF("id", "in_use", "name_id")
    val propKeysDF = propKeyDict.map { case (i, _) => (i.toLong, true, i.toLong * 8) }
      .toDF("id", "in_use", "name_id")
    val typeNamesDF = relTypeDict.flatMap { case (i, n) => nameBlocks(i, n) }
      .toDF("id", "in_use", "length", "next_block")
    val keyNamesDF = propKeyDict.flatMap { case (i, n) => nameBlocks(i, n) }
      .toDF("id", "in_use", "length", "next_block")
    // the single NeoStore record: graph properties chain from id 0
    // (below every entity namespace, so owner arithmetic stays
    // collision-free) — NeoStoreCheck.java:25
    val neoDF = Seq((NeoStoreId, true, NeoStoreId * 4))
      .toDF("id", "in_use", "next_prop")

    Stores(nodeRecs, relRecs, neoDF, propRecs, blocks, dyns, arrays,
      relTypesDF, propKeysDF, typeNamesDF, keyNamesDF)
  }
}
