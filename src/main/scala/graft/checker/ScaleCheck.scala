package graft.checker

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model.{RecordSpec, RecordStores, Stores}
import graft.operators.DataGen

/** The reference's canonical consistency-check performance run,
  * re-expressed end-to-end on Spark: generate the perf workload
  * (10M nodes, `FOO:2,BAR:1` → 30M rels, `INTEGER:2,STRING:1,
  * BYTE_ARRAY:1` → 40M node properties —
  * enterprise-performance-tests/.../ccheck/ConsistencyPerformanceCheck.java:76-86,
  * generator/DataGenerator.java:96-102), derive the record stores, run
  * the FULL check, and report `recordsPerSecond = elementCount × 1000 /
  * millis` exactly as the reference's JSON report does
  * (JsonReportWriter.java:115-124, elementCount = nodes + rels + props).
  *
  * `runMain graft.checker.ScaleCheck [nodeCount]` — sf-independent (the
  * workload is generated, not read), one JSON line on stdout.
  *
  * Scale shape: generation is pure column arithmetic over `range()`
  * (no shuffle); store derivation shuffles once per chain family
  * (incidence window keyed by node id); the check is the same
  * one-shuffle plan the TPC-H twin runs, against MEMORY_AND_DISK-persisted
  * stores so the check and its phase slices share one materialization
  * without pinning ~180M rows in heap.
  */
object ScaleCheck {
  import RecordSpec._

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
  def stores(spark: SparkSession, n: Long,
             tap: DataFrame => DataFrame = identity): Stores = {
    val gen = DataGen.nodes(spark, n, NodePropSpec)
    // slim structural projection: record stores carry vlen, never values
    // (PropertyRecordCheck validates structure — same contract as
    // RecordStores.propRows)
    val nodesSlim = tap(gen.select(
      (col("id") + 1).as("id"),
      length(col("string_1_0")).cast("long").as("str_len"),
      size(col("byte_array_2_0")).cast("long").as("arr_len")))
    val relBase = n + 1
    val rels1 = tap(DataGen.rels(spark, n, RelSpec).select(
      (col("id") + relBase).as("id"),
      (col("src") + 1).as("src"), (col("dst") + 1).as("dst"),
      when(col("type") === "FOO", 0).otherwise(1).as("type_id")))
    def propRow(keyId: Int, seq: Int, ptype0: Int, vlen: Column) =
      nodesSlim.select(col("id").as("owner"), lit(keyId).as("key_id"),
        lit(seq).as("seq"), lit(ptype0).as("ptype0"),
        vlen.as("vlen"), lit(3).as("max_seq"))
    import spark.implicits._
    val neoRows = Seq(
      (NeoStoreId, NeoNameKey, 0, TShortString, NeoNameLen, 1),
      (NeoStoreId, NeoTxKey, 1, TLong, 0L, 1))
      .toDF("owner", "key_id", "seq", "ptype0", "vlen", "max_seq")
    val rows = tap(propRow(1, 0, TLong, lit(0L))
      .unionAll(propRow(2, 1, TLong, lit(0L)))
      .unionAll(propRow(3, 2, TShortString, col("str_len")))
      .unionAll(propRow(4, 3, TArray, col("arr_len")))
      .unionAll(neoRows)
      .withColumn("ptype",
        when(col("ptype0") === TShortString && col("vlen") > BlockSize,
          lit(TLongString)).otherwise(col("ptype0")))
      .withColumn("value_ref",
        when(col("ptype") === TLongString || col("ptype") === TArray,
          (col("owner") * 16 + col("key_id")) * 8).otherwise(lit(-1L)))
      .drop("ptype0"))
    RecordStores.assemble(spark, nodesSlim.select("id"), rels1, rows,
      relTypeDict, propKeyDict, relNextProp = lit(-1L), tap = tap)
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

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // 2× partitions vs the sf-suite: the check shuffles ~180M derived
      // rows; 64 × ~3M-row partitions keep sort spills bounded at 8g heap
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "64"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global

    val t0 = System.nanoTime()
    val taps = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val s0 = stores(spark, n, tap = { d =>
      val p = d.persist(StorageLevel.MEMORY_AND_DISK); taps += p; p
    })
    // taps in call order: nodesSlim, rels1, rows, incidence. Fill the
    // independent chains concurrently (nodesSlim feeds rows; rels1
    // feeds incidence), then materialize the six stores so the check
    // and its phase slices share one copy.
    val Seq(nodesSlim, rels1, rows, incPN) = taps.toSeq
    Await.result(Future.sequence(Seq(
      Future { nodesSlim.count(); rows.count() },
      Future { rels1.count(); incPN.count() })), Duration.Inf)
    val stored = Await.result(Future.sequence(Seq(
      "nodes" -> s0.nodes, "rels" -> s0.rels, "props" -> s0.props,
      "blocks" -> s0.blocks, "strings" -> s0.dyns, "arrays" -> s0.arrays
    ).map { case (nm, df) => Future {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      (nm, p, p.count())
    } }), Duration.Inf)
    taps.foreach(_.unpersist())
    val genSec = (System.nanoTime() - t0) / 1e9
    val byName = stored.map { case (nm, p, _) => nm -> p }.toMap
    val s = s0.copy(nodes = byName("nodes"), rels = byName("rels"),
      props = byName("props"), blocks = byName("blocks"),
      dyns = byName("strings"), arrays = byName("arrays"))

    val t1 = System.nanoTime()
    val violations = FullCheck.violations(s).count()
    val checkSec = (System.nanoTime() - t1) / 1e9
    // the reference's elementCount: nodes + relationships + properties
    // (ConsistencyPerformanceCheck passes store highIds to the report)
    val elements = n + 3 * n + 4 * n
    val recsPerSec = elements / checkSec
    def r1(d: Double) = BigDecimal(d).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString
    val storeRows = stored.map { case (nm, _, c) => s""""$nm":$c""" }.mkString(",")
    // Per-phase timings, mirroring the reference's one-report-entry-per
    // -store-scan-task shape (JsonReportWriter.java:115-124 computes
    // recordsPerSecond per TimingProgress task). Each phase counts its
    // own slice of the one plan over the persisted stores, so phase
    // walls sum to more than the single-plan check_sec (each slice pays
    // the plan's jobs and its record rows); the
    // records basis is the phase's primary scanned store, like the
    // reference's per-task elementCount.
    val countByName = stored.map { case (nm, _, c) => nm -> c }.toMap
    val phaseBasis = Map(
      "node_store" -> countByName("nodes"),
      "rel_store" -> countByName("rels"),
      "prop_store" -> countByName("props"),
      "string_store" -> countByName("strings"),
      "array_store" -> countByName("arrays"),
      "prop_keys" -> countByName("blocks"),
      "rel_types" -> relTypeDict.size.toLong,
      "owners" -> (countByName("props") + countByName("strings")
        + countByName("arrays")))
    val phaseJson = FullCheck.phases(s).map { case (nm, df) =>
      val p0 = System.nanoTime()
      df.count()
      val sec = (System.nanoTime() - p0) / 1e9
      val basis = phaseBasis(nm)
      s""""$nm":{"sec":${r1(sec)},"rows":$basis,"records_per_s":${r1(basis / sec)}}"""
    }.mkString(",")
    println(
      s"""{"metric":"scale_check","nodes":$n,"rels":${3 * n},"node_props":${4 * n},""" +
      s""""elements":$elements,"gen_sec":${r1(genSec)},"check_sec":${r1(checkSec)},""" +
      s""""records_per_s":${r1(recsPerSec)},"violations":$violations,""" +
      s""""store_rows":{$storeRows},"phases":{$phaseJson}}""")
    spark.stop()
  }
}
