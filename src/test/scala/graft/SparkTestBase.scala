package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
