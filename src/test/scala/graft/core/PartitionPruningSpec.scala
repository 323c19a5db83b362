package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

/** Pins the read-path posture behind [[Tables.buildPartitionedEvents]]:
  * a day-filtered query over the date-partitioned layout must PLAN
  * partition filters and READ strictly fewer files than the layout
  * holds — and return exactly the rows the flat table's
  * `to_date(ts)` filter returns. The round-9 partition probe this
  * spec replaces (in git history) read 1 of 30 files at sf0.01 and
  * sf0.1. */
class PartitionPruningSpec extends SparkSpec {

  test("date-partitioned events: day filter prunes directories and agrees with the flat path") {
    val sf = "/root/testdata/sf0.001"
    val out = java.nio.file.Files
      .createTempDirectory("graft_events_by_day").toString
    Tables.buildPartitionedEvents(spark, sf, out)
    val part = Tables.eventsPartitioned(spark, out)
    val totalFiles = part.inputFiles.length
    val days = part.select("dt").distinct().orderBy("dt")
      .collect().map(_.getDate(0))
    assert(days.length > 1, "fixture spans one day — probe is vacuous")
    val day = days(days.length / 2)

    val scanDf = part.filter(col("dt") === lit(day))
    val prunedRows = scanDf.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
    }.flatten
    val scan = scans(scanDf.queryExecution.executedPlan).head
    assert(scan.partitionFilters.nonEmpty, "no partition filters planned")
    assert(scan.metrics("numFiles").value < totalFiles,
      s"read ${scan.metrics("numFiles").value} of $totalFiles files — " +
        "pruning did not engage")

    val flat = Tables.events(spark, sf)
      .filter(to_date(col("ts")) === lit(day))
    assert(prunedRows.map(_.getAs[Long]("event_id")).sorted.toSeq ==
      flat.collect().map(_.getAs[Long]("event_id")).sorted.toSeq)
  }
}
