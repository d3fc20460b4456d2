package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.model.Stores

/** Online-backup surface (SURVEY.md §3.3): full snapshot + incremental
  * change shipping by watermark, mirroring the reference's
  * BackupService (full: rotateLogsAndStreamStoreFiles,
  * ServerUtil.java:126-180; incremental: txs in (lastApplied, end],
  * ServerUtil.java:336-355; lifecycle TestBackup.java:220
  * fullThenIncremental).
  *
  * The backup location is a parquet directory per table plus a
  * `_watermark` file holding the last applied event id (the
  * RequestContext lastAppliedTransactions analog) and a `_store_id`
  * file naming the store the backup belongs to. Incremental ships only
  * rows with event_id > watermark and advances it — idempotent under
  * re-run (empty increment) — and REFUSES to touch a backup stamped
  * with a different store id: the reference enforces exactly this
  * (TestBackup.java:264 makeSureStoreIdIsEnforced) because an
  * incremental applied across stores silently corrupts the target.
  *
  * A record-store backup ([[fullStores]]) holds one parquet directory
  * per store, named by `Stores.Names`, plus `_store_watermarks`
  * (`name=<last shipped record id>` per store), `_store_schemas`
  * (`name=<schema json>` per store: the schema the full backup wrote,
  * so a restore reads no parquet footer) and `_store_id`.
  */
object Backup {
  private def watermarkPath(dir: String) = Paths.get(dir, "_watermark")
  private def storeIdPath(dir: String) = Paths.get(dir, "_store_id")

  /** store identity a lifecycle runs under when the caller has only one
    * store (the common single-database case) */
  val DefaultStoreId = "graft-default-store"

  def readWatermark(dir: String): Long = {
    val p = watermarkPath(dir)
    if (Files.exists(p)) Files.readString(p).trim.toLong else -1L
  }

  private def writeWatermark(dir: String, w: Long): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(watermarkPath(dir), w.toString)
  }

  def readStoreId(dir: String): Option[String] = {
    val p = storeIdPath(dir)
    if (Files.exists(p)) Some(Files.readString(p).trim) else None
  }

  private def writeStoreId(dir: String, id: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(storeIdPath(dir), id)
  }

  /** throws unless the backup at `dir` belongs to `storeId` — a backup
    * with no stamp (pre-guard layout) is accepted */
  private def enforceStoreId(dir: String, storeId: String, op: String): Unit =
    readStoreId(dir).foreach { stamped =>
      if (stamped != storeId)
        throw new IllegalStateException(
          s"$op refused: backup at $dir belongs to store '$stamped', not '$storeId'")
    }

  // ---- branch detection (BranchedDataException analog) -----------------

  private def fingerprintPath(dir: String) = Paths.get(dir, "_fingerprint")

  def readFingerprint(dir: String): Option[Long] = {
    val p = fingerprintPath(dir)
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  private def writeFingerprint(dir: String, fp: Long): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(fingerprintPath(dir), fp.toString)
  }

  private val FpMod = 1000000007L

  /** Order-insensitive checksum of the event-log prefix ≤ `wm` — the
    * analog of the reference's per-tx checksum that branch detection
    * compares (BranchDetectingTxVerifier.assertMatch:45-58 verifies
    * the LAST COMMON transaction's checksum between slave and master
    * before applying a pull; mismatch ⇒ BranchedDataException, remedy
    * = full store copy). A sum of per-row hashes commutes, so the
    * checksum is partition-order-free and maintainable incrementally
    * (prefix fp + delta fp). Per-row terms are reduced below 2³⁰ and
    * summed in DECIMAL(38,0), so the aggregation cannot overflow at
    * any row count (ANSI mode would reject a wrapping BIGINT sum). */
  private def rowsFingerprint(rows: DataFrame): Long =
    fingerprintOf(rows.agg(fingerprintSum(rows)).head().getDecimal(0))

  /** the checksum's exact sum over `rows`, of the rows `keep` admits */
  private def fingerprintSum(rows: DataFrame, keep: Column = lit(true)): Column =
    coalesce(sum(when(keep, pmod(xxhash64(rows.columns.map(col): _*), lit(FpMod))
      .cast("decimal(38,0)"))), lit(0).cast("decimal(38,0)"))

  private def fingerprintOf(sum: java.math.BigDecimal): Long =
    sum.remainder(java.math.BigDecimal.valueOf(FpMod)).longValueExact()

  private def prefixFingerprint(ev: DataFrame, wm: Long): Long =
    rowsFingerprint(ev.filter(col("event_id") <= wm))

  /** throws unless the live store's history at the backup's watermark
    * is the history the backup was taken from — an id-range that
    * matches but content that doesn't means the source BRANCHED
    * (rewrote history), and shipping its delta would silently corrupt
    * the backup. A backup with no fingerprint (pre-branch-guard
    * layout) is accepted. */
  private def enforceUnbranched(ev: DataFrame, dir: String): Unit =
    readFingerprint(dir).foreach { stamped =>
      val live = prefixFingerprint(ev, readWatermark(dir))
      if (live != stamped)
        throw new IllegalStateException(
          s"incremental refused: source store branched from backup at $dir " +
            s"(prefix checksum $live != stamped $stamped at watermark " +
            s"${readWatermark(dir)}) — take a full backup")
    }

  /** What one table write shipped: its row count, the max of its id
    * column (-1 when it has none) and the checksum of its rows that
    * have an id. */
  private final case class Shipped(rows: Long, maxId: Long, fingerprint: Long)

  /** Writes `df` to `path` and reads [[Shipped]] off an observation of
    * the write itself: the one job that writes the rows also counts,
    * maxes and checksums them, so nothing rescans what was shipped. */
  private def write(df: DataFrame, idc: String, mode: String, path: String): Shipped = {
    val seen = Observation()
    df.observe(seen, count(lit(1)).as("rows"),
        coalesce(max(col(idc)), lit(-1L)).as("max_id"),
        fingerprintSum(df, col(idc).isNotNull).as("fp"))
      .write.mode(mode).parquet(path)
    val m = seen.get
    Shipped(m("rows").asInstanceOf[Long], m("max_id").asInstanceOf[Long],
      fingerprintOf(m("fp").asInstanceOf[java.math.BigDecimal]))
  }

  /** S5: full snapshot of the event log up to its current max id,
    * stamped with the source store's id and the prefix checksum
    * branch detection verifies on every later incremental (every
    * event with an id lies at or below the max, so the written rows
    * with an id are exactly that prefix). */
  def full(spark: SparkSession, ev: DataFrame, dir: String,
           storeId: String = DefaultStoreId): Long = {
    val shipped = write(ev, "event_id", "overwrite", s"$dir/events")
    writeWatermark(dir, shipped.maxId)
    writeStoreId(dir, storeId)
    writeFingerprint(dir, shipped.fingerprint)
    shipped.maxId
  }

  /** S6/S7: append only the rows beyond the stored watermark, advance
    * it. Returns the number of rows shipped. Refuses a backup stamped
    * for a different store, and a source that branched from the
    * backup's lineage. */
  def incremental(spark: SparkSession, ev: DataFrame, dir: String,
                  storeId: String = DefaultStoreId): Long = {
    enforceStoreId(dir, storeId, "incremental")
    enforceUnbranched(ev, dir)
    val last = readWatermark(dir)
    val inc = ev.filter(col("event_id") > last)
    // an empty append would still add a part file: ship nothing
    if (inc.isEmpty) 0L
    else {
      val shipped = write(inc, "event_id", "append", s"$dir/events")
      writeWatermark(dir, shipped.maxId)
      // the checksum is modular-additive, so advancing it folds in the
      // shipped delta instead of rescanning the whole prefix — the
      // incremental stays O(delta) end to end (a pre-guard backup with
      // no stamp pays one prefix scan to bootstrap)
      val base = readFingerprint(dir)
        .getOrElse(prefixFingerprint(ev, last))
      writeFingerprint(dir, (base + shipped.fingerprint) % FpMod)
      shipped.rows
    }
  }

  /** Torn-backup refusal (the ConsistencyCheckTool analog,
    * ConsistencyCheckTool.java:70-163: a store with unrecovered logs is
    * refused, never silently checked). A backup is torn when the
    * watermark stamp and the data files disagree: the data directory is
    * missing, the watermark file is missing while data exists, or the
    * watermark claims events the data files don't contain (a copy that
    * died between data write and stamp, or lost files after). */
  private def enforceRecovered(spark: SparkSession, dir: String): Unit = {
    val events = Paths.get(dir, "events")
    if (!Files.exists(events))
      throw new IllegalStateException(
        s"restore refused: no events data at $dir — not a backup, or a copy torn before data landed")
    if (!Files.exists(watermarkPath(dir)))
      throw new IllegalStateException(
        s"restore refused: backup at $dir has data but no watermark stamp — torn copy; re-run a full backup")
    val w = readWatermark(dir)
    val maxId = spark.read.parquet(s"$dir/events")
      .agg(coalesce(max("event_id"), lit(-1L))).head().getLong(0)
    if (w > maxId)
      throw new IllegalStateException(
        s"restore refused: watermark $w is ahead of backed-up data (max event $maxId) at $dir — torn backup; re-run a full backup")
  }

  /** Small-file compaction of the events backup — the maintenance job
    * every incremental backup accumulates toward (each increment
    * appends a file set; after months the backup is thousands of tiny
    * files and restore is metadata-bound). Verify-then-swap: the
    * consolidated rewrite's checksum must equal the stamped one
    * BEFORE the old layout is replaced, so a failed rewrite can never
    * corrupt the only copy. Watermark/store-id/fingerprint stamps are
    * untouched (same rows ⇒ same commutative checksum). */
  def compact(spark: SparkSession, dir: String,
              storeId: String = DefaultStoreId, numFiles: Int = 1): Unit = {
    enforceStoreId(dir, storeId, "compact")
    enforceRecovered(spark, dir)
    val tmp = s"$dir/events_compacting"
    spark.read.parquet(s"$dir/events")
      .coalesce(numFiles).write.mode("overwrite").parquet(tmp)
    val rewritten = rowsFingerprint(spark.read.parquet(tmp))
    readFingerprint(dir).foreach { stamped =>
      if (rewritten != stamped) {
        deleteTree(Paths.get(tmp))
        throw new IllegalStateException(
          s"compact aborted: rewrite checksum $rewritten != stamped $stamped at $dir — original layout left untouched")
      }
    }
    deleteTree(Paths.get(dir, "events"))
    Files.move(Paths.get(tmp), Paths.get(dir, "events"))
    ()
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))

  /** RebuildFromLogs: replay the backed-up log into state
    * (RebuildFromLogs.java:60-150 — replay then verify). Refuses a
    * backup stamped for a different store, and a torn backup. */
  def rebuildState(spark: SparkSession, dir: String,
                   storeId: String = DefaultStoreId): DataFrame = {
    enforceStoreId(dir, storeId, "rebuildState")
    enforceRecovered(spark, dir)
    EventStreams.userState(
      spark.read.parquet(s"$dir/events")
        .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)")))
  }

  /** Verify-after-restore: the reference never trusts a backup until a
    * full consistency check runs over the restored copy
    * (BackupService.java:99-102 bootstraps a consistency check after
    * the backup completes; RebuildFromLogs.java:60-150 is
    * replay-THEN-check). Here the restored replay state is compared to
    * the live replay; the result is the symmetric difference tagged by
    * side — empty ⇔ the backup is provably restorable. */
  def verifyRestore(spark: SparkSession, dir: String,
      liveEvents: DataFrame): DataFrame = {
    val restored = rebuildState(spark, dir)
    val live = EventStreams.userState(liveEvents)
    restored.exceptAll(live).withColumn("side", lit("backup_only"))
      .unionAll(live.exceptAll(restored).withColumn("side", lit("live_only")))
  }

  // ---- record-store backup (the graph store itself) -------------------
  // one parquet directory per store, named by Stores.Names

  /** monotone record-id column per store — the per-store watermark key
    * (blocks have no record id of their own; they are keyed by the
    * owning property record) */
  private[streaming] def storeIdCol(name: String): String =
    if (name == "blocks") "prop_id" else "id"

  private def storeWatermarksPath(dir: String) =
    Paths.get(dir, "_store_watermarks")
  private def storeSchemasPath(dir: String) = Paths.get(dir, "_store_schemas")

  /** `name=value` per store, one line each, in bundle order */
  private def writeStoreLines(p: Path, values: Map[String, String]): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p,
      Stores.Names.flatMap(n => values.get(n).map(v => s"$n=$v")).mkString("\n"))
  }

  private def readStoreLines(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else Files.readString(p).linesIterator.filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v.trim }
      .toMap

  /** per-store last-shipped record id — the RequestContext
    * lastAppliedTransactions analog (RequestContext.java:33-120 tracks
    * one applied-tx cursor PER datasource; here one record-id cursor
    * per store). Missing file ⇒ pre-incremental layout (full-only). */
  def readStoreWatermarks(dir: String): Map[String, Long] =
    readStoreLines(storeWatermarksPath(dir)).map { case (n, v) => n -> v.toLong }

  private def writeStoreWatermarks(dir: String, w: Map[String, Long]): Unit =
    writeStoreLines(storeWatermarksPath(dir), w.map { case (n, v) => n -> v.toString })

  /** the schema each store was written with by the full backup; throws
    * when the backup recorded none for some store */
  private def readStoreSchemas(dir: String, op: String): Map[String, StructType] = {
    val recorded = readStoreLines(storeSchemasPath(dir))
    val missing = Stores.Names.filterNot(recorded.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"$op refused: backup at $dir records no schema for store(s) ${missing.mkString(", ")} (_store_schemas) — re-run a full backup")
    recorded.map { case (n, json) => n -> DataType.fromJson(json).asInstanceOf[StructType] }
  }

  /** S5 proper: the reference's full backup streams ALL store files —
    * node, relationship, property, dynamic, dictionary stores — not
    * just the log (ServerUtil.rotateLogsAndStreamStoreFiles,
    * com/.../ServerUtil.java:126-180; BackupService.java:85-135).
    * Snapshot every store of the bundle as parquet, in bundle order,
    * one job per store (its watermark is observed by the write), then
    * stamp the watermarks, schemas and store id once every store has
    * landed. Each store writes partition-parallel; nothing funnels
    * through the driver. */
  def fullStores(s: Stores, dir: String,
                 storeId: String = DefaultStoreId): Unit = {
    val marks = s.named.map { case (n, df) =>
      n -> write(df, storeIdCol(n), "overwrite", s"$dir/$n").maxId
    }
    writeStoreWatermarks(dir, marks.toMap)
    writeStoreLines(storeSchemasPath(dir),
      s.named.map { case (n, df) => n -> df.schema.json }.toMap)
    writeStoreId(dir, storeId)
  }

  /** Per-store incremental catch-up: for every store of the bundle,
    * ship only the records beyond that store's own watermark and
    * advance it — the full-then-incremental lifecycle the events table
    * already has, applied to EVERY datasource like the reference's
    * RequestContext (one lastAppliedTransactions cursor per store;
    * ServerUtil.java:336-355 ships each datasource's delta). Record
    * stores here are append-only derivations (ids are collision-free
    * arithmetic, never reassigned), so record-id order IS application
    * order — the record-granularity analog of tx-log catch-up.
    * Returns rows shipped per store; idempotent under re-run (all
    * zero). A store with no new record costs one emptiness probe and
    * gets no file; a grown one, one observed write. Refuses a
    * wrong-store or full-only (no per-store
    * watermarks) backup, and, before anything is written, a store whose
    * field names or types differ from the schema the full backup
    * recorded: its delta would be read back under the recorded one. */
  def incrementalStores(s: Stores, dir: String,
                        storeId: String = DefaultStoreId): Map[String, Long] = {
    enforceStoreId(dir, storeId, "incrementalStores")
    val marks = readStoreWatermarks(dir)
    if (marks.isEmpty)
      throw new IllegalStateException(
        s"incrementalStores refused: backup at $dir has no per-store watermarks — take a full backup first")
    val recorded = readStoreSchemas(dir, "incrementalStores")
    s.named.foreach { case (n, df) =>
      // catalogString spells names and types, not nullability
      val (was, now) = (recorded(n).catalogString, df.schema.catalogString)
      if (was != now)
        throw new IllegalStateException(
          s"incrementalStores refused: store '$n' has schema $now, but the backup at $dir recorded $was — take a full backup")
    }
    val shipped = s.named.map { case (n, df) =>
      val last = marks.getOrElse(n, -1L)
      val inc = df.filter(col(storeIdCol(n)) > last)
      n -> (if (inc.isEmpty) Shipped(0L, last, 0L)
            else write(inc, storeIdCol(n), "append", s"$dir/$n"))
    }
    writeStoreWatermarks(dir, shipped.map { case (n, w) => n -> w.maxId }.toMap)
    shipped.map { case (n, w) => n -> w.rows }.toMap
  }

  /** Restore the snapshot into a fresh [[Stores]] bundle — the copy a
    * consistency check then proves trustworthy
    * (BackupService.java:99-102: a backup is verified by running the
    * full check over the restored copy). Each store is read under the
    * schema the full backup recorded (all fields nullable, as parquet
    * inference would give), so the restore runs no Spark job; a backup
    * without recorded schemas is refused. */
  def restoreStores(spark: SparkSession, dir: String,
                    storeId: String = DefaultStoreId): Stores = {
    enforceStoreId(dir, storeId, "restoreStores")
    // torn-backup refusal, store-file edition: a bundle missing any
    // store is a copy that died mid-stream — the reference refuses to
    // operate on it (ConsistencyCheckTool.java:70-163)
    val missing = Stores.Names.filterNot(n => Files.exists(Paths.get(dir, n)))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"restoreStores refused: backup at $dir is missing store file(s) ${missing.mkString(", ")} — torn copy; re-run a full backup")
    val schemas = readStoreSchemas(dir, "restoreStores")
    Stores.fromNamed(n => spark.read.schema(schemas(n)).parquet(s"$dir/$n"))
  }
}
