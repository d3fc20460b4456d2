package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Run-wide bookkeeping: timed calls under their own job group and wall
  * budget, failure and wrong-answer counts, timings by call name, and the
  * tracer. A failed, timed-out or wrong call never contributes a timing. */
final class Harness(val spark: SparkSession, val budgetS: Double) {
  val sc = spark.sparkContext
  val tracer = new Tracer(sc)
  val cores: Int = sc.defaultParallelism
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  private val times = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private var groups = 0L
  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "graftbench-watchdog"); t.setDaemon(true); t
  }
  private var peakCachedBytes = 0L

  def seconds(name: String): Vector[Double] =
    times.get(name).map(_.toVector).getOrElse(Vector.empty)
  def timedNames: Set[String] = times.keySet.toSet
  /** forget the warm-in's timings, all but those of `keep`; its failures
    * still count */
  def clearTimes(keep: Set[String]): Unit = times.filterInPlace((n, _) => keep(n))
  def record(name: String, s: Double): Unit =
    times.getOrElseUpdate(name, mutable.ArrayBuffer()) += s

  private def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += what
  }

  /** One timed call into the engine: its own Spark job group, a wall
    * budget after which the group is cancelled, and a span. Returns the
    * value and the seconds it took, or None after a failure. */
  def call[T](name: String, layer: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    groups += 1
    val group = s"graftbench-$groups-$name"
    @volatile var timedOut = false
    sc.setJobGroup(group, name, interruptOnCancel = true)
    val alarm = watchdog.schedule(new Runnable {
      def run(): Unit = { timedOut = true; sc.cancelJobGroup(group) }
    }, (budgetS * 1000).toLong, TimeUnit.MILLISECONDS)
    val t0 = System.nanoTime()
    try {
      val v = tracer.span(name, layer)(body)
      val s = (System.nanoTime() - t0) / 1e9
      alarm.cancel(false)
      if (timedOut) { fail(s"timeout:$name"); None }
      else { record(name, s); Some((v, s)) }
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) || e.isInstanceOf[InterruptedException] =>
        alarm.cancel(false)
        fail(if (timedOut) s"timeout:$name" else s"error:$name:${e.getClass.getSimpleName}:${String.valueOf(e.getMessage).take(160)}")
        None
    } finally sc.clearJobGroup()
  }

  /** A driver-only call (no Spark job to cancel): timed and counted. */
  def quick[T](name: String, layer: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val v = tracer.span(name, layer)(body)
      record(name, (System.nanoTime() - t0) / 1e9)
      Some(v)
    } catch {
      case e: Exception =>
        fail(s"error:$name:${e.getClass.getSimpleName}:${String.valueOf(e.getMessage).take(160)}")
        None
    }
  }

  /** A correctness check on a call's answer: a wrong answer counts as a
    * failed operation and withdraws that call's latest timing. */
  def verify(name: String, ok: Boolean, detail: => String): Boolean = {
    if (!ok) {
      fail(s"wrong:$name:${detail.take(200)}")
      times.get(name).foreach(b => if (b.nonEmpty) b.remove(b.size - 1))
    }
    ok
  }

  /** Cached bytes held by Spark's block manager (RDD and checkpoint
    * blocks), sampled between calls; the peak is reported. */
  def sampleCache(): Unit = {
    val b = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    peakCachedBytes = math.max(peakCachedBytes, b)
  }
  def peakCachedMb: Double = peakCachedBytes / 1e6

  def close(): Unit = watchdog.shutdownNow()
}

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def q(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = q(xs, 0.5)
}

/** JVM-wide covariates: heap, GC time, load. */
object Jvm {
  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
  def heapMaxMb: Double = Runtime.getRuntime.maxMemory / 1e6
  def load1: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
}

/** JSON for the run's output lines (Scala maps and sequences). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
