package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale utilities: bucketing for shuffle-free co-located joins and
  * salting for skewed keys. Neither changes query semantics — both are
  * physical-layout levers for the 100 TB posture.
  */
object Scale {

  /** Persist `df` as a bucketed+sorted table. Equi-joins between two
    * tables bucketed on the same key with the same bucket count read
    * co-partitioned data — no Exchange in the join plan (verified in
    * ScaleSpec). At 100 TB this turns the recurring fact⋈fact join
    * from a full shuffle into a local zip of bucket files. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .option("path", s"${warehouseDir(df.sparkSession)}/$table")
      .saveAsTable(table)

  private def warehouseDir(spark: SparkSession): String =
    spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")

  /** Persist an event table partitioned by event date — the layout the
    * retention sink's age-out becomes a partition drop on, and scans
    * with a time predicate prune to the matching directories
    * (PartitionFilters, verified in ScaleSpec). */
  def writePartitionedByDay(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("event_date", to_date(col(tsCol)))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("event_date")
      .parquet(path)

  /** Salted aggregation for heavily skewed group keys: pre-aggregate on
    * (key, salt) — spreading one hot key over `salts` reducers — then
    * combine partials. Only valid for algebraic aggregates; the caller
    * supplies both phases. */
  /** Deterministic content-derived salt: a task retry must re-assign
    * the same salt to the same row or partial aggregates double-count
    * (monotonically_increasing_id/rand change under recomputation —
    * the classic repartition-retry corruption). Identical rows share a
    * salt, which slightly weakens spreading for exact-duplicate-heavy
    * keys but keeps results exact under failure. */
  private def contentSalt(df: DataFrame, salts: Int): Column =
    pmod(xxhash64(df.columns.map(col): _*), lit(salts.toLong))

  def saltedAgg(df: DataFrame, keyCol: String, salts: Int,
      partial: Seq[Column], finalAgg: Seq[Column]): DataFrame =
    df.withColumn("__salt", contentSalt(df, salts))
      .groupBy(col(keyCol), col("__salt"))
      .agg(partial.head, partial.tail: _*)
      .groupBy(col(keyCol))   // caller's key name is preserved
      .agg(finalAgg.head, finalAgg.tail: _*)

  /** Compact a parquet directory's small files into ≈`targetBytes`
    * outputs. Small files are the silent scale killer of long-lived
    * tables fed by incremental loads (one file per micro-batch/page):
    * listing cost, per-file task startup, and fragmented row groups
    * all grow with file COUNT, not data volume. The rewrite is a
    * shuffle-free `coalesce` (adjacent files merge within existing
    * partitions) through the crash-safe staged swap — the read
    * and write paths overlap, and a complete copy exists on disk at
    * every instant. Sizing uses the directory's real on-disk bytes.
    *
    * Compaction only MERGES: a file already larger than `targetBytes`
    * is not split (coalesce cannot raise the scan's partition count),
    * so the real output count can be lower than bytes/target — the
    * actual number of data files written is returned.
    *
    * For a `partitionBy` layout, compact each leaf directory (a flat
    * rewrite would inline the partition columns and lose the pruning
    * layout). */
  def compactFiles(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    // the table may be mid-swap from a crash; a table without data
    // files has nothing to merge
    val table = Sinks.openTree(spark, path).getOrElse(return 0)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(hPath).getLength
    val parts = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    Sinks.overwriteViaSwap(spark, table.coalesce(parts), path)
    fs.listStatus(hPath)
      .count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Salted broadcast-replicated join for a skewed fact key against a
    * small dimension: fact rows get a deterministic salt, the dimension
    * is replicated once per salt value, and the join key becomes
    * (key, salt) — splitting a hot key's rows across `salts` tasks.
    * Semantically identical to the unsalted equi-join (ScaleSpec). */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      salts: Int): DataFrame = {
    val saltedFact = fact.withColumn("__salt", contentSalt(fact, salts))
    val replicatedDim = dim.withColumn("__salt",
      explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
    saltedFact.join(replicatedDim, Seq(key, "__salt")).drop("__salt")
  }

  /** Z-order (multi-dimensional) clustered write: cluster a table so
    * file/row-group min-max stats prune scans on ANY of `cols`, not
    * just a single sort prefix. Sorting by (a, b) gives perfect
    * pruning on `a` and NONE on `b`; interleaving the bits of
    * equi-depth bucket ranks gives partial pruning on every clustered
    * dimension — the standard layout for fact tables queried along
    * several axes (ZorderSpec measures both effects on real files).
    *
    * Mechanics: one `approxQuantile` pass computes 2^levelBits
    * equi-depth boundaries per column (equi-depth, unlike equal-width,
    * stays balanced under skew); each row's per-column bucket ranks
    * are bit-interleaved into one long z-value; `repartitionByRange`
    * on z + `sortWithinPartitions` lays files out along the curve.
    * The z column is dropped before writing — the layout benefit
    * lives in the real columns' file statistics.
    *
    * Cost: the stats pass + one range shuffle of the payload — the
    * same shape `ORDER BY` would cost, amortized over every pruned
    * scan thereafter. Numeric columns only (quantile-rankable).
    * `levelBits * cols.size` must stay ≤ 63 (z fits a long). */
  def zorderWrite(df: DataFrame, cols: Seq[String], path: String,
      files: Int, levelBits: Int = 4): Unit = {
    require(cols.size >= 2, "z-ordering needs at least two columns")
    require(levelBits >= 1 && levelBits * cols.size <= 63,
      s"levelBits=$levelBits x ${cols.size} cols must fit a long")
    val n = cols.size
    val nBuckets = 1 << levelBits
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val bounds: Seq[Array[Double]] =
      df.stat.approxQuantile(cols.toArray, probs, 0.01).toSeq
    // equi-depth bucket rank: count of boundaries <= value (0..2^L-1),
    // a codegen'd fold over literal boundaries — no window, no shuffle
    def bucket(c: String, bs: Array[Double]): Column = {
      // approxQuantile yields no boundaries for an all-NULL column (or
      // empty input): that column contributes a constant rank instead
      // of crashing — the write stays content-neutral either way
      val ds = bs.distinct
      if (ds.isEmpty) lit(0L)
      else ds.map(b => when(col(c).cast("double") >= b, 1L).otherwise(0L))
        .reduce(_ + _)
    }
    // bit i of column j lands at z position i*n + j
    val z = cols.zip(bounds).zipWithIndex.map { case ((c, bs), j) =>
      val b = bucket(c, bs)
      (0 until levelBits).map { i =>
        shiftleft(b.bitwiseAND(lit(1L << i)), i * (n - 1) + j)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}
