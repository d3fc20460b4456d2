package graft.checker

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{RecordSpec, RecordStores, Stores}
import graft.operators.DataGen

/** The reference's canonical consistency-check performance workload,
  * re-expressed on Spark: the generated perf graph (10M nodes,
  * `FOO:2,BAR:1` → 30M rels, `INTEGER:2,STRING:1,BYTE_ARRAY:1` → 40M
  * node properties —
  * enterprise-performance-tests/.../ccheck/ConsistencyPerformanceCheck.java:76-86,
  * generator/DataGenerator.java:96-102) and the record stores derived
  * from it, at any node count. `gen_store_check` runs it at n=2000
  * against its DuckDB twin; perfbench's `store_check` slices the same
  * store shape.
  *
  * Scale shape: generation is pure column arithmetic over `range()`
  * (no shuffle); store derivation shuffles once per chain family
  * (incidence window keyed by node id).
  */
object ScaleCheck {
  import RecordSpec.{TArray, TLong, TShortString}

  val NodePropSpec = "INTEGER:2,STRING:1,BYTE_ARRAY:1"
  val RelSpec = "FOO:2,BAR:1"

  /** dictionaries for the generated workload (tx_count rides along for
    * the NeoStore graph-property chain, like the TPC-H twin) */
  val relTypeDict: Seq[(Int, String)] = Seq(0 -> "FOO", 1 -> "BAR")
  val propKeyDict: Seq[(Int, String)] = Seq(
    0 -> "name", 1 -> "integer_0", 2 -> "integer_1",
    3 -> "string_0", 4 -> "byte_array_0", 11 -> "tx_count")

  /** Record stores for the generated workload. Node ids shift +1 so the
    * NeoStore record keeps id 0 below the entity namespace; rel ids are
    * dense above the node namespace. BYTE_ARRAY vlen is 1 byte per
    * element (PropertyGenerator.java:50-56 emits int values < 256), so
    * a 50-element array chains 4 dynamic blocks — within the 8-unit
    * value_ref spacing, like ≤120-char strings. Relationship records
    * carry no properties (the reference run generates `-node_properties`
    * only), so their chain heads are NIL. */
  def stores(spark: SparkSession, n: Long): Stores = {
    val gen = DataGen.nodes(spark, n, NodePropSpec)
    // slim structural projection: record stores carry vlen, never values
    // (PropertyRecordCheck validates structure — same contract as
    // RecordStores.propRows)
    val nodesSlim = gen.select(
      (col("id") + 1).as("id"),
      length(col("string_1_0")).cast("long").as("str_len"),
      size(col("byte_array_2_0")).cast("long").as("arr_len"))
    val relBase = n + 1
    val rels1 = DataGen.rels(spark, n, RelSpec).select(
      (col("id") + relBase).as("id"),
      (col("src") + 1).as("src"), (col("dst") + 1).as("dst"),
      when(col("type") === "FOO", 0).otherwise(1).as("type_id"))
    def propRow(keyId: Int, seq: Int, ptype0: Int, vlen: Column) =
      nodesSlim.select(col("id").as("owner"), lit(keyId).as("key_id"),
        lit(seq).as("seq"), lit(ptype0).as("ptype0"),
        vlen.as("vlen"), lit(3).as("max_seq"))
    val rows = RecordStores.typed(propRow(1, 0, TLong, lit(0L))
      .unionAll(propRow(2, 1, TLong, lit(0L)))
      .unionAll(propRow(3, 2, TShortString, col("str_len")))
      .unionAll(propRow(4, 3, TArray, col("arr_len")))
      .unionAll(RecordStores.neoRows(spark)))
    RecordStores.assemble(spark, nodesSlim.select("id"), rels1, rows,
      relTypeDict, propKeyDict, relNextProp = lit(-1L))
  }

  /** Session-memoized, checkpoint-truncated stores for the small-n
    * oracle query: profile()'s 7 count branches plus the check's store
    * scans would otherwise re-derive (and re-ANALYZE) the whole
    * assembly once per union branch — measured 8.7 s at n=2000 where
    * the data itself is trivial. Same pattern as
    * RecordStores.deriveCached; eager localCheckpoint is fine at this
    * size. */
  private val memo = new graft.SessionMemo[Stores]
  def storesCached(spark: SparkSession, n: Long): Stores =
    memo.getOrElseUpdate(spark, s"gen-$n") {
      val s = stores(spark, n)
      s.copy(nodes = s.nodes.localCheckpoint(true),
        rels = s.rels.localCheckpoint(true),
        props = s.props.localCheckpoint(true),
        blocks = s.blocks.localCheckpoint(true),
        dyns = s.dyns.localCheckpoint(true),
        arrays = s.arrays.localCheckpoint(true))
    }

  /** The 7-row profile is a pure function of (session, n) but its
    * violations branch re-runs the whole FullCheck
    * over the generated stores on EVERY touch — 83 warm exec-s for a
    * 7-row output in the r10 artifact (the round's largest
    * unattributed regression was this recomputation meeting box
    * load). Output-memo lifecycle like [[graft.operators.Stress
    * .topStress]]: fill in warm(), cold pass prices the check. */
  private val profileMemo = new graft.SessionMemo[DataFrame](outputMemo = true)

  def profile(spark: SparkSession, n: Long): DataFrame =
    profileMemo.getOrElseUpdate(spark, s"gen-profile-$n")(
      profileCompute(spark, n).persist())

  /** Oracle-checkable surface at a fixed small n: per-store record
    * counts plus the total violation count (a freshly generated store
    * MUST check clean — the invariant the reference's perf run rides
    * on). The DuckDB twin recomputes every count in closed form from
    * the same PRNG SQL ([[graft.oracle.GenCtes.storeCheck]]). */
  private def profileCompute(spark: SparkSession, n: Long): DataFrame = {
    val s = storesCached(spark, n)
    def c(nm: String, df: DataFrame) =
      df.agg(count(lit(1)).cast("long").as("n"))
        .select(lit(nm).as("store"), col("n"))
    c("nodes", s.nodes)
      .unionAll(c("rels", s.rels))
      .unionAll(c("props", s.props))
      .unionAll(c("blocks", s.blocks))
      .unionAll(c("strings", s.dyns))
      .unionAll(c("arrays", s.arrays))
      .unionAll(c("violations", FullCheck.violations(s)))
  }
}
