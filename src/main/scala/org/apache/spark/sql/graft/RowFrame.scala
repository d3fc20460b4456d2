package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** A DataFrame of one `LogicalRDD` leaf over `rows`: a plan on top of it analyzes that leaf
  * only. It has no statistics, so no broadcast is planned from an estimate. Lives here because
  * the constructors are `private[sql]`, as for [[PinnedCheckpoint]]. */
object RowFrame {
  def apply(spark: SparkSession, schema: StructType, rows: RDD[InternalRow]): DataFrame = {
    val session = spark.asInstanceOf[ClassicSession]
    Dataset.ofRows(session, LogicalRDD(DataTypeUtils.toAttributes(schema), rows)(session))
  }
}
