package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span around a call into the engine. Spark counters are attributed
  * to the innermost open span of the calling thread (its id travels as a
  * Spark local property, inherited by threads the call spawns). */
final class Span(val id: Long, val trace: Long, val parent: Long,
                 val name: String, val layer: String) {
  val startMs: Long = System.currentTimeMillis()
  val startNs: Long = System.nanoTime()
  @volatile var endNs: Long = 0L
  // written by the listener thread only
  var jobs, stages, tasks = 0L
  var execMs, gcMs, fetchWaitMs, shuffleWriteBytes = 0L
  var firstJobMs: Long = Long.MaxValue

  def wallS: Double = (endNs - startNs) / 1e9
}

/** In-memory span store plus the SparkListener that counts jobs, stages
  * and task metrics per span. Registered by the benchmark only in traced
  * cycles, so untraced cycles pay nothing. */
final class Tracer(sc: SparkContext) {
  val Prop = "graftbench.span"
  private val ids = new AtomicLong(0)
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stack = mutable.Stack[Span]()
  private var enabled = false
  var trace: Long = 0L

  private val listener = new SparkListener {
    private def spanOf(p: java.util.Properties): Option[Span] =
      Option(p).flatMap(q => Option(q.getProperty(Prop)))
        .flatMap(s => Option(byId.get(s.toLong)))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        s.jobs += 1
        s.firstJobMs = math.min(s.firstJobMs, e.time)
        e.stageIds.foreach(stageSpan.put(_, s))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          s.execMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
  }

  /** Turn attribution on or off between cycles; turning it off first
    * drains the bus so the closing cycle's events are all counted. */
  def set(on: Boolean): Unit = if (on != enabled) {
    if (on) sc.addSparkListener(listener)
    else { org.apache.spark.graftbench.Bus.drain(sc); sc.removeSparkListener(listener) }
    enabled = on
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = new Span(ids.incrementAndGet(), trace, parent.map(_.id).getOrElse(0L),
        name, layer)
      byId.put(s.id, s)
      stack.push(s)
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(Prop, parent.map(_.id.toString).orNull)
      }
    }

  def spans: Seq[Span] = {
    if (enabled) org.apache.spark.graftbench.Bus.drain(sc)
    byId.values().asScala.toSeq.sortBy(_.id)
  }

  /** A span's duration minus the time its (sequential) children cover. */
  def selfS(all: Seq[Span]): Map[Long, Double] = {
    val childWall = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.wallS).sum }
    all.map(s => s.id -> (s.wallS - childWall.getOrElse(s.id, 0.0))).toMap
  }
}

/** Counters of a span summed with those of all its descendants. */
final case class Inclusive(jobs: Long, stages: Long, tasks: Long, execS: Double,
                           gcS: Double, fetchWaitS: Double, shuffleWriteMb: Double) {
  def +(o: Inclusive): Inclusive = Inclusive(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, execS + o.execS, gcS + o.gcS, fetchWaitS + o.fetchWaitS,
    shuffleWriteMb + o.shuffleWriteMb)
}

object Inclusive {
  val zero: Inclusive = Inclusive(0, 0, 0, 0, 0, 0, 0)
  def own(s: Span): Inclusive = Inclusive(s.jobs, s.stages, s.tasks, s.execMs / 1e3,
    s.gcMs / 1e3, s.fetchWaitMs / 1e3, s.shuffleWriteBytes / 1e6)

  def of(all: Seq[Span]): Map[Long, Inclusive] = {
    val kids = all.groupBy(_.parent)
    val memo = mutable.Map[Long, Inclusive]()
    def go(s: Span): Inclusive = memo.getOrElseUpdate(s.id,
      kids.getOrElse(s.id, Nil).map(go).foldLeft(own(s))(_ + _))
    all.foreach(go)
    memo.toMap
  }
}
