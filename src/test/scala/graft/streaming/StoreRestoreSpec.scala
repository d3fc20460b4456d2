package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkTestBase
import graft.checker.{Corruption, FullCheck, ScaleCheck}
import graft.model.Stores

/** Restoring a record-store backup into a checkable copy: the restore
  * reads each store under the schema the full backup recorded (no
  * job), `persistAll` loads the copy in one job, and the first check
  * over it runs only its own plan's jobs. */
class StoreRestoreSpec extends SparkTestBase {
  /** jobs `body` starts, counted under a fresh job group */
  private def jobsOf(body: => Any): Int = traced(body)._1.size

  private lazy val live: Stores = Corruption(ScaleCheck.stores(spark, 500L)).persistAll()

  private def backedUp(): String = {
    val dir = Files.createTempDirectory("graft-store-restore").toString
    Backup.fullStores(live, dir)
    dir
  }

  test("restoreStores runs no job; each store reads back as the written schema, all fields nullable") {
    val dir = backedUp()
    var restored: Stores = null
    assert(jobsOf { restored = Backup.restoreStores(spark, dir) } === 0)
    def nullable(s: StructType) = StructType(s.fields.map(_.copy(nullable = true)))
    for (((n, l), (_, r)) <- live.named.zip(restored.named))
      assert(r.schema === nullable(l.schema), n)
    // and the same rows come back
    assert(live.nodes.exceptAll(restored.nodes).count() === 0L)
    assert(restored.nodes.exceptAll(live.nodes).count() === 0L)
  }

  test("persistAll loads an unread restored copy in one job; a loaded bundle runs none") {
    val copy = Backup.restoreStores(spark, backedUp())
    try {
      assert(jobsOf(copy.persistAll()) === 1)
      assert(jobsOf(copy.persistAll()) === 0)
    } finally copy.unpersistAll()
    // stores assembled by shuffles run them under the caller's job group
    val assembled = Corruption(ScaleCheck.stores(spark, 200L))
    try assert(jobsOf(assembled.persistAll()) > 1)
    finally assembled.unpersistAll()
  }

  test("the check over a restored, persisted copy runs the live check's job count") {
    val liveJobs = jobsOf(FullCheck.summary(live).collect())
    val copy = Backup.restoreStores(spark, backedUp()).persistAll()
    try {
      var got = Map.empty[(String, String), Long]
      val copyJobs = jobsOf {
        got = FullCheck.summary(copy).collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      }
      assert(copyJobs === liveJobs)
      assert(copyJobs <= 3, s"$copyJobs jobs")
      assert(got === FullCheck.summary(live).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap)
    } finally copy.unpersistAll()
  }

  test("a backup without recorded store schemas is refused") {
    val dir = backedUp()
    Files.delete(Paths.get(dir, "_store_schemas"))
    val e = intercept[IllegalStateException](Backup.restoreStores(spark, dir))
    assert(e.getMessage.contains("_store_schemas"), e.getMessage)
  }

  test("incrementalStores refuses a store whose schema drifted, before writing anything") {
    val dir = backedUp()
    val marks = Backup.readStoreWatermarks(dir)
    def files() = Files.walk(Paths.get(dir)).count()
    val before = files()
    // one column re-typed
    val drifted = live.copy(blocks = live.blocks.withColumn("vlen", col("vlen").cast("string")))
    val e = intercept[IllegalStateException](Backup.incrementalStores(drifted, dir))
    assert(e.getMessage.contains("'blocks'"), e.getMessage)
    assert(files() === before)
    assert(Backup.readStoreWatermarks(dir) === marks)
    // nullability alone is no drift: the restored copy reads every field
    // nullable and catches up as an empty delta
    val copy = Backup.restoreStores(spark, dir)
    assert(copy.blocks.schema.fields.forall(_.nullable))
    assert(Backup.incrementalStores(copy, dir).values.sum === 0L)
  }
}
