package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** Size statistics for an RDD-backed relation. `read.json` over a
  * `Dataset[String]` builds a `LogicalRDD` that reports no statistics,
  * so the planner sizes it at `spark.sql.defaultSizeInBytes` (never
  * broadcast); `LogicalRDD`'s statistics argument and `Dataset.ofRows`
  * are `private[sql]`, so this forwarder lives under the
  * org.apache.spark.sql package. Only this call crosses the boundary.
  */
object StatsBridge {
  /** `df` with its `LogicalRDD` reporting `sizeInBytes`, which the
    * planner's `autoBroadcastJoinThreshold` then compares. A DataFrame
    * whose plan is anything else is returned unchanged. */
  def withSizeInBytes(df: DataFrame, sizeInBytes: Long): DataFrame =
    df.queryExecution.logical match {
      case r: LogicalRDD =>
        val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(spark,
          r.copy()(spark, Some(Statistics(sizeInBytes = BigInt(sizeInBytes))), None))
      case _ => df
    }
}
