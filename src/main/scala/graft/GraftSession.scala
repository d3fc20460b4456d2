package graft

import org.apache.spark.sql.SparkSession

/** The one way to start the engine: every main and the test base build
  * their session here, so the master, the shuffle width and the session
  * settings a query relies on cannot drift apart between them. */
object GraftSession {
  /** `local[n]` with `n` = `SPARK_GRAFT_CPUS`, default the core count. */
  def local(): SparkSession = local(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors))

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      // edge tables take defaultParallelism partitions; shuffles match it
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores ts as TIMESTAMP(NANOS)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // The suite's plans need far more generated classes than Spark's
      // default 100-entry cache holds; once evicted, every repeat run
      // re-pays ~0.5-1 s of janino compile per stage while its tasks
      // wait (r8 bench: q28 ran 0.9 s isolated but 5-19 s in-suite with
      // exec ≈ 1 s). A cache sized to the suite removes the thrash.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
