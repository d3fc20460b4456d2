package graft.checker

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Micro-batch latency harness for the incremental diff check — T3's
  * runtime contract. The reference applies checkChange per committed
  * transaction (checking/incremental/IncrementalDiffCheck.java:55:
  * every tx's DiffStore is checked before the commit is acknowledged),
  * so the latency of one micro-batch of transactions IS the check's
  * user-facing cost. [[run]] drives
  * [[DiffCheck.violationsFromDiffs]] under a steady MemoryStream of tx
  * batches and times each batch.
  *
  * The synthesized DiffStore is id-derived (no RNG, like every
  * generator in this repo): each tx changes `recordsPerTx` node records
  * whose old `next_rel` pointers alternate between a relationship that
  * IS in the same tx (clean) and a dangling one (violation), so the
  * expected violation count is exact: `txPerBatch × recordsPerTx / 2`
  * per batch.
  *
  * [[run]] returns the per-batch wall seconds (batch 0 carries
  * plan/codegen warmup) and the violation total.
  */
object DiffLatency {
  /** One batch's DiffStore for the given tx ids. Diff rows are built
    * with distributed column arithmetic (explode over a per-tx
    * sequence); only the tx ids themselves — bounded control metadata,
    * ≤ txPerBatch values — live on the driver. */
  def batchDiffs(spark: SparkSession, txIds: Seq[Long],
                 recordsPerTx: Int): DiffCheck.TxDiffs = {
    import spark.implicits._
    val base = txIds.toDF("tx")
      .select(col("tx"), explode(sequence(lit(0),
        lit(recordsPerTx - 1))).as("k"))
    // node ids tx*1e6+k; rels in the tx are tx*1e6+500000+k
    val nodes = base.select(
      (col("tx") * 1000000L + col("k")).as("id"),
      when(pmod(col("k"), lit(2)) === 0,
        col("tx") * 1000000L + 500000L + col("k"))  // in-tx rel: clean
        .otherwise(col("tx") * 1000000L + 900000L + col("k")) // dangling
        .as("o_next_rel"),
      lit(-1L).as("n_next_rel"),
      lit(-1L).as("o_next_prop"), lit(-1L).as("n_next_prop"))
    val rels = base.select(
      (col("tx") * 1000000L + 500000L + col("k")).as("id"),
      lit(-1L).as("o_first_prev"), lit(-1L).as("n_first_prev"),
      lit(-1L).as("o_first_next"), lit(-1L).as("n_first_next"),
      lit(-1L).as("o_second_prev"), lit(-1L).as("n_second_prev"),
      lit(-1L).as("o_second_next"), lit(-1L).as("n_second_next"),
      lit(-1L).as("o_next_prop"), lit(-1L).as("n_next_prop"))
    val props = Seq.empty[(Long, Long, Long, Long, Long)]
      .toDF("id", "o_prev_prop", "n_prev_prop", "o_next_prop", "n_next_prop")
    val neo = Seq.empty[(Long, Long, Long)]
      .toDF("id", "o_next_prop", "n_next_prop")
    DiffCheck.TxDiffs(nodes = nodes, rels = rels, props = props, neo = neo)
  }

  /** Drive `nBatches` micro-batches of `txPerBatch` transactions each
    * through a foreachBatch diff check; returns (per-batch seconds in
    * arrival order, total violations observed). */
  def run(spark: SparkSession, nBatches: Int, txPerBatch: Int,
          recordsPerTx: Int): (Vector[Double], Long) = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Long]
    val timings = scala.collection.mutable.ArrayBuffer[Double]()
    var violations = 0L
    val q = stream.toDS().writeStream
      .foreachBatch { (txs: org.apache.spark.sql.Dataset[Long], _: Long) =>
        val ids = txs.collect().toSeq // ≤ txPerBatch control values
        if (ids.nonEmpty) {
          val t0 = System.nanoTime()
          val v = DiffCheck.violationsFromDiffs(
            batchDiffs(spark, ids, recordsPerTx)).count()
          timings.synchronized {
            timings += (System.nanoTime() - t0) / 1e9
            violations += v
          }
        }
        ()
      }
      .start()
    try {
      var b = 0
      while (b < nBatches) {
        stream.addData((0 until txPerBatch).map(t => b * 100000L + t))
        q.processAllAvailable() // steady sequential batches
        b += 1
      }
    } finally q.stop()
    (timings.toVector, violations)
  }
}
