package org.apache.spark.graft

import org.apache.spark.rdd.RDD

/** Release of a superseded local checkpoint. `RDD.unpersist` warns on
  * every locally checkpointed RDD that its lineage "cannot be
  * recomputed"; a fixpoint round that is done with the previous round's
  * state means exactly that, so this drops the blocks through the
  * context's package-private release, which does not warn. */
object Checkpoints {
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
