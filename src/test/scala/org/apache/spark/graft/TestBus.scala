package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus's drain, which Spark keeps package-private: a spec
  * reads a listener's counters only after every posted event reached it. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
