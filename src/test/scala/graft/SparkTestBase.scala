package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** What `body` runs under a fresh job group described `description`:
    * each job's description, in start order, and per submitted stage
    * the names of its RDDs. */
  def traced(body: => Any, description: String = "traced"): (Seq[String], Seq[Seq[String]]) = {
    val sc = spark.sparkContext
    val group = s"traced-${System.nanoTime()}"
    def ours(p: java.util.Properties) =
      Option(p).exists(_.getProperty("spark.jobGroup.id") == group)
    val jobs = new ConcurrentLinkedQueue[String]()
    val stages = new ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.add(String.valueOf(e.properties.getProperty("spark.job.description")))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) stages.add(e.stageInfo.rddInfos.map(_.name))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, description)
    try body
    finally {
      sc.clearJobGroup()
      Bus.drain(sc)
      sc.removeSparkListener(listener)
    }
    (jobs.asScala.toSeq, stages.asScala.toSeq)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
