package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus's drain, which Spark keeps package-private: a
  * listener's counters are read only after every posted event reached
  * it, so a measurement window neither absorbs the previous window's
  * late task-end events nor misses its own. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
