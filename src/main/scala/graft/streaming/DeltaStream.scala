package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.operators.Sinks
import graft.sources.ODataPageReader

/** Incremental sync as a stream: OData delta page documents arriving
  * in a directory (the object-store drop a poller writes) are treated
  * as a micro-batched change feed, and a parquet snapshot is kept
  * current by applying each micro-batch with [[Sinks.applyDelta]].
  *
  * Within ONE delta round the OData contract coalesces to at most one
  * change per id, so pages of the same round commute. A micro-batch
  * that spans rounds (catch-up after downtime, backfill — exactly what
  * `maxFilesPerTrigger` batching produces) can carry several changes
  * for one id, and those do NOT commute: applying both upserts would
  * duplicate the row, and an upsert unioned with a later tombstone
  * would resurrect the deleted entity. [[maintainSnapshot]] therefore
  * resolves each id to its change from the lexicographically-latest
  * page file before applying. This requires page file names to sort in
  * arrival order across rounds — timestamp- or zero-padded-sequence
  * names, the natural output of a polling dropper; within a round file
  * order is immaterial (one change per id).
  *
  * The snapshot rewrite is a staged swap ([[Sinks.overwriteViaSwap]]:
  * the new copy staged first, one commit record, then the live copy
  * renamed aside and the staged one in) so a crash at any point leaves
  * a complete copy on disk or a record that finishes the swap. A table format
  * with transactions (Delta/Iceberg) would replace the swap with a
  * MERGE commit; the parquet swap is the same semantics without the
  * format dependency.
  */
object DeltaStream {

  /** Streaming DataFrame of delta changes: parse page documents as
    * they land, explode `value[]`, surface tombstones as `removed`. */
  def readDeltaChanges(spark: SparkSession, pagesDir: String,
      valueSchema: StructType, maxFilesPerTrigger: Int = 1): DataFrame = {
    val deltaValueSchema = valueSchema.add(
      StructField(ODataPageReader.removedField,
        ODataPageReader.removedMarkerSchema))
    val pageSchema = StructType(Seq(
      StructField("value", ArrayType(deltaValueSchema))))
    spark.readStream.schema(pageSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("multiLine", "true")
      .json(pagesDir)
      .select(explode(col("value")).as("v")).select(col("v.*"))
      .withColumn("removed",
        col(ODataPageReader.removedField).isNotNull)
      .drop(ODataPageReader.removedField)
  }

  /** Maintain `snapshotPath` from the change stream: one applyDelta +
    * swap per micro-batch. Batching more pages per trigger
    * (`maxFilesPerTrigger`, default 1000 ≈ one listing round) directly
    * divides the number of snapshot rewrites — per-page application is
    * correct but pays one O(table) rewrite per page.
    *
    * Cross-round batches are made safe by a latest-file-wins dedupe:
    * each id keeps only its change from the greatest page file name
    * (see the class doc for the naming requirement), so an id upserted
    * in round N and tombstoned in round N+1 stays deleted even when
    * both pages land in one batch. Returns the running query (caller
    * stops). */
  def maintainSnapshot(spark: SparkSession, pagesDir: String,
      valueSchema: StructType, snapshotPath: String,
      checkpointDir: String, idCol: String = "id",
      maxFilesPerTrigger: Int = 1000): StreamingQuery =
    readDeltaChanges(spark, pagesDir, valueSchema, maxFilesPerTrigger)
      .withColumn("_page_file", input_file_name())
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(DedupStream.ingestBody(spark) { (changes, _) =>
        val s = changes.sparkSession
        val byRecency = org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol)).orderBy(col("_page_file").desc)
        val latest = changes
          .withColumn("_rn", row_number().over(byRecency))
          .filter(col("_rn") === 1)
          .drop("_rn", "_page_file")
        val snap = currentSnapshot(s, snapshotPath, valueSchema)
        val merged = Sinks.applyDelta(snap, latest, idCol)
        Sinks.overwriteViaSwap(s, merged, snapshotPath)
      })
      .start()

  /** Current snapshot, RECOVERING from an interrupted swap first
    * (Sinks.recoverSwap). A missing live path after the repair is
    * genuinely the first batch (empty snapshot). */
  private def currentSnapshot(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    Sinks.recoverSwap(spark, path)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hPath))
      spark.read.schema(schema).parquet(path)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema)
  }
}
