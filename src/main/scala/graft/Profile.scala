package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graft.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Per-query cold/warm profile: `graft.Profile <query> [query ...]`
  * against `SPARK_GRAFT_SF_DIR`. Each named [[SparkEntry.queries]]
  * entry runs twice on the noop sink: the cold pass pays the session's
  * first touch (input fills, memo build, codegen), the warm pass is the
  * steady state `Bench`'s medians measure. Each pass prints one line of
  * wall, executor, GC and shuffle-write figures with its job, stage and
  * task counts; the cold pass's formatted plan goes to
  * `target/profile/<query>.txt`. */
object Profile {
  final case class Pass(query: String, pass: String, wallS: Double,
                        execS: Double, gcS: Double, shuffleMb: Double,
                        jobs: Long, stages: Long, tasks: Long) {
    override def toString: String =
      f"[profile] $query $pass wall=$wallS%.2f exec_s=$execS%.2f gc_s=$gcS%.2f " +
        f"shuffle_mb=$shuffleMb%.2f jobs=$jobs stages=$stages tasks=$tasks"
  }

  val PlanDir: Path = Paths.get("target", "profile")

  /** One task/stage/job counter set for the whole run. */
  private final class Counters extends SparkListener {
    val execMs, gcMs, shuffleB, jobs, stages, tasks = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        execMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
      ()
    }
    def snapshot(): Seq[Long] =
      Seq(execMs, gcMs, shuffleB, jobs, stages, tasks).map(_.get)
  }

  /** Profiles each named query (cold, then warm) and returns its passes;
    * an unknown name or a failing pass is reported on stderr and yields
    * no record. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[Pass] = {
    val sc = spark.sparkContext
    val c = new Counters
    sc.addSparkListener(c)
    try names.flatMap { name =>
      SparkEntry.queries.get(name) match {
        case None =>
          System.err.println(s"[profile] unknown query: $name (not in SparkEntry.queries)")
          Nil
        case Some(fn) => Seq("cold", "warm").flatMap { pass =>
          try {
            Bus.drain(sc)
            val s0 = c.snapshot()
            val t0 = System.nanoTime()
            // building the frame is timed too: memo fills run here
            val df = fn(spark, sfDir)
            df.write.mode("overwrite").format("noop").save()
            val wall = (System.nanoTime() - t0) / 1e9
            Bus.drain(sc)
            val Seq(exec, gc, shuffle, jobs, stages, tasks) =
              c.snapshot().zip(s0).map { case (a, b) => a - b }
            if (pass == "cold") {
              Files.createDirectories(PlanDir)
              Files.writeString(PlanDir.resolve(s"$name.txt"),
                df.queryExecution.explainString(FormattedMode))
            }
            val p = Pass(name, pass, wall, exec / 1e3, gc / 1e3,
              shuffle / 1048576.0, jobs, stages, tasks)
            println(p)
            Seq(p)
          } catch { case e: Throwable =>
            System.err.println(s"[profile] $name $pass failed: ${e.getMessage}")
            Nil
          }
        }
      }
    } finally sc.removeSparkListener(c)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    try run(spark, sfDir, args.toSeq) finally spark.stop()
  }
}
