package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.checker.{Corruption, ScaleCheck}
import graft.model.Stores

/** What a backup costs and stamps: each table is written by one job
  * that also yields its watermark, row count and checksum; an empty
  * delta writes nothing; and every stamp equals the aggregate computed
  * here, in plain Scala, over the same rows. */
class BackupWriteSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  private lazy val live: Stores = Corruption(ScaleCheck.stores(spark, 500L)).persistAll()
  private lazy val ev: DataFrame = EventStreams.events(spark, dir).persist()

  private def tmp(): String = Files.createTempDirectory("graft-backup-write").toString

  /** the last id of `idc` in `df`, -1 when it has none */
  private def lastId(df: DataFrame, idc: String): Long =
    df.select(col(idc).cast("long")).collect().flatMap(r => Option(r.get(0)))
      .map(_.asInstanceOf[Long]).maxOption.getOrElse(-1L)

  /** the backup checksum of `rows`: Σ pmod(xxhash64(row), p) mod p */
  private def checksum(rows: DataFrame): Long = {
    val p = 1000000007L
    rows.select(pmod(xxhash64(rows.columns.map(col): _*), lit(p)))
      .collect().map(_.getLong(0)).foldLeft(0L)((a, t) => (a + t) % p)
  }

  /** every file under `d` by relative path, with the bytes of each
    * stamp (`_*` at the top) */
  private def snapshot(d: String): Map[String, String] = {
    val root = Paths.get(d)
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map { (f: Path) =>
      val stamp = f.getParent == root && f.getFileName.toString.startsWith("_")
      root.relativize(f).toString ->
        (if (stamp) new String(Files.readAllBytes(f), "ISO-8859-1") else "")
    }.toMap
  }

  private def listing(d: Path): Set[String] =
    Files.list(d).iterator().asScala.map(_.getFileName.toString).toSet

  test("fullStores runs one job per store") {
    val out = tmp()
    val s = live // filled by persistAll, outside the trace
    val (jobs, _) = traced(Backup.fullStores(s, out))
    assert(jobs.size === Stores.Names.size, jobs)
  }

  test("incrementalStores runs at most one job per store plus one per grown store, and writes no file into an unchanged store") {
    val out = tmp()
    val grown = Set("nodes", "rels")
    val earlier = live.copy(
      nodes = live.nodes.filter(col("id") <= lastId(live.nodes, "id") / 2),
      rels = live.rels.filter(col("id") <= lastId(live.rels, "id") / 2))
    Backup.fullStores(earlier, out)
    val unchanged = Stores.Names.filterNot(grown)
    val before = unchanged.map(n => n -> listing(Paths.get(out, n))).toMap
    var shipped = Map.empty[String, Long]
    val (jobs, _) = traced { shipped = Backup.incrementalStores(live, out) }
    assert(jobs.size <= Stores.Names.size + grown.size, jobs)
    assert(unchanged.map(n => n -> listing(Paths.get(out, n))).toMap === before)
    assert(shipped("nodes") === live.nodes.count() - earlier.nodes.count())
    assert(shipped("rels") === live.rels.count() - earlier.rels.count())
    assert(unchanged.map(shipped).sum === 0L)
  }

  test("full runs one job") {
    val out = tmp()
    ev.count() // the cache fill, outside the trace
    val (jobs, _) = traced(Backup.full(spark, ev, out))
    assert(jobs.size === 1, jobs)
  }

  test("an incremental with an empty delta runs at most one job and leaves every file as it was") {
    val out = tmp()
    Backup.full(spark, ev, out)
    // every stamp present: the branch check runs, the delta is empty
    val stamped = snapshot(out)
    assert(Backup.incremental(spark, ev, out) === 0L)
    assert(snapshot(out) === stamped)
    // a backup without a checksum stamp takes no branch check, so the
    // emptiness probe is the only job
    Files.delete(Paths.get(out, "_fingerprint"))
    val unstamped = snapshot(out)
    var shipped = -1L
    val (jobs, _) = traced { shipped = Backup.incremental(spark, ev, out) }
    assert(shipped === 0L)
    assert(jobs.size <= 1, jobs)
    assert(snapshot(out) === unstamped)
  }

  test("full and incremental stamp the max event id and the checksum of the events with an id") {
    val out = tmp()
    // one row without an event id: written, but in no prefix
    val withNull = ev.unionByName(ev.limit(1)
      .withColumn("event_id", lit(null).cast(ev.schema("event_id").dataType)))
    val maxId = lastId(ev, "event_id")
    val half = maxId / 2
    val first = withNull.filter(col("event_id").isNull || col("event_id") <= half)
    assert(Backup.full(spark, first, out) === half)
    assert(Backup.readWatermark(out) === half)
    assert(Backup.readFingerprint(out) === Some(checksum(ev.filter(col("event_id") <= half))))
    assert(Backup.incremental(spark, withNull, out) === ev.filter(col("event_id") > half).count())
    assert(Backup.readWatermark(out) === maxId)
    assert(Backup.readFingerprint(out) === Some(checksum(ev)))
  }

  test("store watermarks are each store's last id, kept across an empty delta") {
    val out = tmp()
    val earlier = live.copy(
      nodes = live.nodes.filter(col("id") <= lastId(live.nodes, "id") / 2),
      arrays = live.arrays.filter(lit(false)))
    Backup.fullStores(earlier, out)
    def expected(s: Stores) =
      s.named.map { case (n, df) => n -> lastId(df, Backup.storeIdCol(n)) }.toMap
    assert(Backup.readStoreWatermarks(out) === expected(earlier))
    assert(Backup.readStoreWatermarks(out)("arrays") === -1L)
    Backup.incrementalStores(live, out)
    assert(Backup.readStoreWatermarks(out) === expected(live))
    // a bundle that shrank ships nothing and keeps every watermark
    Backup.incrementalStores(earlier, out)
    assert(Backup.readStoreWatermarks(out) === expected(live))
  }
}
