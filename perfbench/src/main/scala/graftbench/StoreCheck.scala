package graftbench

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.checker.{Corruption, FullCheck, ScaleCheck}
import graft.model.{RecordSpec, RecordStores, Stores}
import graft.streaming.Backup

/** `store_check`: assemble record stores from a generated graph, back
  * them up, append a delta and catch the backup up incrementally (once
  * per run), then, cycle after cycle, restore the backup and check the
  * copy in full against the live stores' check. Bound by per-job
  * overhead and shuffle; no fixpoint and no per-transaction job. */
final class StoreCheck(spark: SparkSession, seed: Long, workDir: String)
    extends Workload(spark, seed) {
  import RecordSpec._

  val shape = Gen.StoreShape(base = 4000, delta = 200, hubs = 16, hubPct = 20)
  def mainCall = "full_check"
  def throughputUnit = "records checked/s"

  def tables(s: Long): Seq[(String, DataFrame)] = Seq(
    "base_nodes" -> Gen.storeNodes(spark, s, 1, shape.base),
    "base_rels" -> Gen.storeRels(spark, s, shape, 1, shape.base),
    "delta_nodes" -> Gen.storeNodes(spark, s, shape.deltaFrom, shape.last),
    "delta_rels" -> Gen.storeRels(spark, s, shape, shape.deltaFrom, shape.last))

  private var in: Map[String, DataFrame] = Map.empty
  def load(dir: String): Unit =
    in = tables(seed).map { case (n, _) => n -> spark.read.parquet(s"$dir/$n") }.toMap

  /** Record stores of one slice, in ScaleCheck's generated-store shape:
    * four node properties, relationship records without properties. The
    * NeoStore's property rows belong to the base slice only. */
  private def assemble(nodes: DataFrame, rels: DataFrame, withNeo: Boolean): Stores = {
    def propRow(keyId: Int, seq: Int, ptype0: Int, vlen: Column) =
      nodes.select(col("id").as("owner"), lit(keyId).as("key_id"), lit(seq).as("seq"),
        lit(ptype0).as("ptype0"), vlen.as("vlen"), lit(3).as("max_seq"))
    import spark.implicits._
    val neoRows = Seq(
      (NeoStoreId, NeoNameKey, 0, TShortString, NeoNameLen, 1),
      (NeoStoreId, NeoTxKey, 1, TLong, 0L, 1))
      .toDF("owner", "key_id", "seq", "ptype0", "vlen", "max_seq")
    val props = propRow(1, 0, TLong, lit(0L))
      .unionAll(propRow(2, 1, TLong, lit(0L)))
      .unionAll(propRow(3, 2, TShortString, col("str_len")))
      .unionAll(propRow(4, 3, TArray, col("arr_len")))
    val rows = (if (withNeo) props.unionAll(neoRows) else props)
      .withColumn("ptype",
        when(col("ptype0") === TShortString && col("vlen") > BlockSize,
          lit(TLongString)).otherwise(col("ptype0")))
      .withColumn("value_ref",
        when(col("ptype") === TLongString || col("ptype") === TArray,
          (col("owner") * 16 + col("key_id")) * 8).otherwise(lit(-1L)))
      .drop("ptype0")
    RecordStores.assemble(spark, nodes.select("id"), rels, rows,
      ScaleCheck.relTypeDict, ScaleCheck.propKeyDict, relNextProp = lit(-1L))
  }

  private def named(s: Stores): Seq[(String, DataFrame)] = Seq(
    "nodes" -> s.nodes, "rels" -> s.rels, "neo" -> s.neo, "props" -> s.props,
    "blocks" -> s.blocks, "dyns" -> s.dyns, "arrays" -> s.arrays,
    "rel_types" -> s.relTypes, "prop_keys" -> s.propKeys,
    "type_names" -> s.typeNames, "key_names" -> s.keyNames)

  /** persist every store and count the entity stores, in one job (the
    * dictionary and NeoStore stores are literal and never change) */
  private def materialize(s: Stores): (Stores, Map[String, Long]) = {
    val p = s.persistAll()
    val counted = named(p).filterNot { case (n, _) => fixedStores(n) }
    val got = counted.map { case (n, df) => df.select(lit(n).as("store")) }.reduce(_ unionAll _)
      .groupBy("store").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (p, named(p).map { case (n, _) => n -> got.getOrElse(n, 0L) }.toMap)
  }
  private val fixedStores = Set("neo", "rel_types", "prop_keys", "type_names", "key_names")

  /** Violation counts per (record type, violation, whether the record
    * belongs to the delta slice). */
  private def summary(s: Stores): Map[(String, String, Boolean), Long] = {
    val base = shape.base
    val inDelta = when(col("record_type") === "node", col("record_id") > base)
      .when(col("record_type") === "relationship", col("record_id") >= shape.relBase + 3 * base)
      .when(col("record_type") === "property", expr("record_id div 4") > base)
      .when(col("record_type").isin("string", "array"), expr("record_id div 128") > base)
      .otherwise(lit(false))
    FullCheck.violations(s).groupBy(col("record_type"), col("violation"), inDelta.as("delta"))
      .count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)) -> r.getLong(3)).toMap
  }

  private def mismatches[K](a: Map[K, Long], b: Map[K, Long]): Int =
    (a.keySet ++ b.keySet).count(k => a.getOrElse(k, 0L) != b.getOrElse(k, 0L))

  // state built by prepare, and carried from a cycle to its afterCycle
  private var held: Seq[Stores] = Nil
  private var checked: Option[Stores] = None
  private var liveSummary: Option[Map[(String, String, Boolean), Long]] = None
  private def backupDir = s"$workDir/backup"
  private var phaseNames: Seq[String] = Nil
  private var checkedRecords = 0L
  private var appended = 0L
  private var shipped = 0L
  private var fullBackupMb = 0.0
  private var fullBackupRecords = 0L
  private var violationsSeen = 0L

  /** Once per run: assemble the corrupted base, back it up in full,
    * append the clean delta, catch the backup up incrementally, and check
    * the grown live stores in full. That summary is the one every
    * restored copy must match, and no record of the clean delta may show
    * in it. Each cycle then starts from the caught-up backup. */
  override def prepare(h: Harness): Unit = {
    for (((live, liveCounts), _) <- h.call("assemble", "model")(materialize(
        Corruption(assemble(in("base_nodes"), in("base_rels"), withNeo = true))))) {
      held = Seq(live)
      h.sampleCache()
      if (h.call("backup_full", "streaming")(Backup.fullStores(live, backupDir)).isDefined)
        for (((grown, grownCounts), _) <- h.call("append", "model")(materialize(
            withDelta(live)))) {
          held :+= grown
          h.sampleCache()
          fullBackupMb = Workload.bytes(Paths.get(backupDir)) / 1e6
          fullBackupRecords = liveCounts.values.sum
          checkedRecords = Seq("nodes", "rels", "props").map(grownCounts).sum
          val expect = grownCounts.map { case (n, c) => n -> (c - liveCounts(n)) }
          for ((sent, _) <- h.call("backup_incr", "streaming")(Backup.incrementalStores(grown, backupDir))) {
            appended = expect.values.sum
            shipped = sent.values.sum
            if (h.verify("backup_incr", sent == expect, s"shipped $sent, appended $expect"))
              liveCheck(h, grown)
          }
        }
    }
    held.foreach(_.unpersistAll())
    held = Nil
  }

  /** The set-up's live check already ran the cycle's FullCheck; one
    * restore, read into the cache, warms the rest of the cycle. */
  def warmIn(h: Harness): Unit =
    if (liveSummary.nonEmpty)
      h.call("warm_restore", "streaming")(materialize(Backup.restoreStores(spark, backupDir)))
        .foreach { case ((copy, _), _) => copy.unpersistAll() }

  /** the delta's records land after the live ones */
  private def withDelta(live: Stores): Stores = {
    val d = assemble(in("delta_nodes"), in("delta_rels"), withNeo = false)
    live.copy(
      nodes = live.nodes.unionByName(d.nodes), rels = live.rels.unionByName(d.rels),
      props = live.props.unionByName(d.props), blocks = live.blocks.unionByName(d.blocks),
      dyns = live.dyns.unionByName(d.dyns), arrays = live.arrays.unionByName(d.arrays))
  }

  private def liveCheck(h: Harness, grown: Stores): Unit =
    h.call("live_check", "checker.full")(summary(grown)).foreach { case (s, _) =>
      liveSummary = Some(s)
      violationsSeen = s.values.sum
      h.verify("live_check", violationsSeen > 0, "the corrupted stores checked clean")
      val onDelta = s.collect { case ((_, _, true), n) => n }.sum
      h.verify("live_check", onDelta == 0, s"$onDelta violations on the clean delta")
    }

  /** One cycle: restore the caught-up backup, check the copy in full and
    * compare its violation summary with the live one. */
  def cycle(h: Harness): Unit =
    if (liveSummary.isEmpty) {
      h.attempted += 1
      h.verify("prepare", ok = false, "no live summary to compare with")
    }
    else for ((copy, rs) <- h.call("restore", "streaming")(
        Backup.restoreStores(spark, backupDir).persistAll())) {
      held :+= copy
      for ((s, cs) <- h.call("full_check", "checker.full")(summary(copy))) {
        checked = Some(copy)
        val n = liveSummary.map(mismatches(_, s)).getOrElse(-1)
        if (h.verify("full_check", n == 0, s"n_mismatch=$n")) h.record("restore_verify", rs + cs)
      }
    }

  override def afterCycle(h: Harness, traced: Boolean): Unit = {
    // each FullCheck phase timed alone, in traced cycles only
    if (traced) checked.foreach { s =>
      val ps = FullCheck.phases(s)
      phaseNames = ps.map(_._1)
      ps.foreach { case (n, df) =>
        h.call(s"phase.$n", "checker.full")(df.count())
      }
    }
    held.foreach(_.unpersistAll())
    held = Nil
    checked = None
  }

  def throughput(h: Harness): Double = {
    val xs = h.seconds("full_check")
    if (xs.isEmpty) 0.0 else checkedRecords / Stats.median(xs)
  }

  def named(h: Harness): Seq[(String, Double, String)] = {
    def p50(n: String) = Stats.median(h.seconds(n))
    Seq(
      ("assemble_s", p50("assemble"), "s"),
      ("check_records_per_s", throughput(h), "1/s"),
      ("backup_full_s", p50("backup_full"), "s"),
      ("backup_incr_s", p50("backup_incr"), "s"),
      ("restore_verify_s", p50("restore_verify"), "s"))
  }

  def layers(h: Harness, spans: Seq[Span]): Seq[(String, Double, String)] = {
    val c = h.cores
    def pick(xs: Seq[(String, Double, String)], keep: Set[String], prefix: String) =
      xs.filter(x => keep(x._1.stripPrefix(prefix + ".")))
    val model = Workload.callFigures(h, spans, "assemble", "model", c)
    val full = Workload.callFigures(h, spans, "full_check", "checker.full", c)
    val bFull = Workload.callFigures(h, spans, "backup_full", "streaming.full", c)
    val bIncr = Workload.callFigures(h, spans, "backup_incr", "streaming.incr", c)
    val restore = Workload.callFigures(h, spans, "restore", "streaming.restore", c)
    val phases = phaseNames
    pick(model, Set("jobs", "tasks", "exec_s", "gc_s", "shuffle_write_mb"), "model") ++
      Seq(("model.cached_mb", h.peakCachedMb, "MB")) ++
      phases.map(n => (s"checker.full.${n}_s", Stats.median(h.seconds(s"phase.$n")), "s")) ++
      pick(full, Set("plan_ms", "jobs", "tasks", "exec_s", "gc_s", "shuffle_write_mb", "fetch_wait_s"),
        "checker.full") ++
      Seq(("checker.full.violations", violationsSeen.toDouble, "count"),
        ("streaming.full.bytes_mb", fullBackupMb, "MB"),
        ("streaming.full.bytes_per_record", fullBackupMb * 1e6 / math.max(1L, fullBackupRecords), "B"),
        ("streaming.incr.rows_shipped", shipped.toDouble, "count"),
        ("streaming.incr.ship_ratio", shipped.toDouble / math.max(1L, appended), "ratio")) ++
      pick(bFull, Set("jobs"), "streaming.full") ++ pick(bIncr, Set("jobs"), "streaming.incr") ++
      pick(restore, Set("jobs", "exec_s"), "streaming.restore")
  }
}
