package org.apache.spark.sql.graft

import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.columnar.CachedBatch
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.util.ThreadUtils

/** Fill the caches of several persisted frames in ONE Spark job.
  *
  * `persist()` only marks a frame. Without a fill, the first query over
  * it loads each cache on its own: AQE plans a `TableCacheQueryStage`
  * per unloaded cache and runs one job for each. Here the cached
  * relation's builder (`CachedRDDBuilder`, reachable only under
  * `org.apache.spark.sql`) hands over its column-buffer RDD, and one job
  * over the union of the unloaded buffers loads them all. Afterwards
  * `isCachedColumnBuffersLoaded` holds for each, so AQE plans no fill
  * stage over them.
  *
  * The fill job runs on the calling thread, and the shuffles that
  * build the buffers run under its local properties, so the caller's
  * job group, description and cancellation apply to every job. */
object CacheFill {
  /** Handing over a buffer RDD runs its cached plan's shuffles, if any;
    * the frames' shuffles overlap when their RDDs are built here, under
    * the caller's local properties, as they do in a query that fills
    * several caches. */
  private val builds = ThreadUtils.newDaemonCachedThreadPool("graft-cache-fill", 8)

  /** Load every persisted frame of `dfs` whose cache is not loaded yet,
    * in one job; frames that are not persisted are skipped, and no job
    * runs when every cache is loaded. */
  def fill(dfs: Seq[DataFrame]): Unit = {
    val cached = dfs.map(_.asInstanceOf[Dataset[_]]).flatMap { ds =>
      ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
        .map(ds.sparkSession -> _.cachedRepresentation.cacheBuilder)
    }.filterNot(_._2.isCachedColumnBuffersLoaded)
    if (cached.nonEmpty) {
      val buffers = cached.map { case (session, b) =>
        SQLExecution.withThreadLocalCaptured(session, builds)(b.cachedColumnBuffers)
      }.map(ThreadUtils.awaitResult(_, Duration.Inf))
      // a partition counts as loaded once its iterator is drained
      buffers.head.sparkContext.union(buffers)
        .foreachPartition((it: Iterator[CachedBatch]) => it.foreach(_ => ()))
    }
  }
}
