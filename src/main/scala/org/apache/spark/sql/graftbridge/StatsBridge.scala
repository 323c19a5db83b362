package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** A frame over an RDD of rows that reports its size. A `LogicalRDD`
  * built the public way reports no statistics, so the planner sizes it
  * at `spark.sql.defaultSizeInBytes` (never broadcast); `LogicalRDD`'s
  * statistics argument, `Dataset.ofRows` and `StructType.asNullable`
  * are `private[sql]`/`private[spark]`, so this forwarder lives under
  * the org.apache.spark.sql package. Only this call crosses the
  * boundary.
  */
object StatsBridge {
  /** A frame over `rows`, which hold `schema`'s columns, as one
    * `LogicalRDD` reporting `sizeInBytes` (which the planner's
    * `autoBroadcastJoinThreshold` then compares). Every column is
    * nullable, as `read.json`'s are. Building the frame runs no query
    * and no job. */
  def rowsFrame(spark: SparkSession, schema: StructType,
      rows: RDD[InternalRow], sizeInBytes: Long): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(s,
      LogicalRDD(DataTypeUtils.toAttributes(schema.asNullable), rows)(
        s, Some(Statistics(sizeInBytes = BigInt(sizeInBytes))), None))
  }
}
