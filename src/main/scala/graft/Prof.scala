package graft
import org.apache.spark.sql.SparkSession

/** Ad-hoc per-query profiler: `runMain graft.Prof <query> [query ...]`
  * runs each named [[SparkEntry.queries]] entry twice (cold then warm)
  * against SPARK_GRAFT_SF_DIR with the noop sink, printing both times —
  * separates session/JIT warmup from steady-state query cost, which the
  * one-shot Bench can't. */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // suite-sized generated-class cache (see Bench.scala rationale)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // cumulative executor task time alongside wall: wall swings 2-3x
    // with box contention, exec is the load-independent basis
    val execMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) { execMs.addAndGet(m.executorRunTime); () }
        }
      })
    for (name <- args; fn <- SparkEntry.queries.get(name)) {
      for (pass <- Seq("cold", "warm")) {
        val e0 = execMs.get()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        println(f"[prof] $name $pass ${(System.nanoTime() - t0) / 1e9}%.2fs exec ${(execMs.get() - e0) / 1e3}%.1fs")
      }
    }
    spark.stop()
  }
}
