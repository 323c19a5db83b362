package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{KllFunctions, KllKernel, ThetaFunctions, ThetaKernel}

/** Sketch-backed data skipping over the date-partitioned events layout
  * ([[Tables.buildPartitionedEvents]]): per-partition summary stats —
  * exact `value` min/max, a KLL sketch of `value`, a theta sketch of
  * `user_id`, and the row count — materialized as ONE ROW PER
  * PARTITION next to the layout, so predicates on VALUE COLUMNS can
  * prune partitions before any data file is listed, composing with
  * the layout's own date-key pruning.
  *
  * Soundness rules (a skipped partition must be PROVABLY empty for
  * the predicate — estimates never skip):
  *  - `value >= t`: skip when the partition's exact `value_max < t`
  *    (and dually for `<=`). The KLL sketch is the ESTIMATION side —
  *    [[estimateMatchingRows]] prices the scan from rank estimates —
  *    and is never used to skip (a rank estimate of 0 is not a
  *    proof).
  *  - `user_id = k`: skip when [[ThetaKernel.mayContain]] disproves
  *    membership. A theta sketch retains EVERY hash below its θ, so a
  *    probe key hashing below θ and absent from the retained set is
  *    provably absent; a key hashing at/above θ is outside the
  *    sampled region and the partition is conservatively kept. Below
  *    nominal entries θ = 1 (exact mode) and the check is exact
  *    membership.
  *
  * Scale posture: the stats table is partition-count-sized (365 rows
  * per year of days — metadata, not data), built in one distributed
  * pass over the layout; the skip decision collects ONLY stats rows.
  * This is the engine-level analog of parquet footer min/max pruning,
  * lifted to whole partitions and enriched with sketch semantics
  * min/max cannot express (membership, rank). DataSkippingSpec pins
  * it; the round-10 partition probe (in git history) read 15 of 30
  * files for the value skip and 21–22 of 30 for the user skip.
  */
object DataSkipping {

  /** One distributed pass over the layout → one stats row per `dt`
    * partition, coalesced to a single small file (the table is
    * metadata-sized by construction). */
  def buildEventStats(s: SparkSession, layoutDir: String,
      statsDir: String): Unit =
    Tables.eventsPartitioned(s, layoutDir)
      .groupBy("dt")
      .agg(count(lit(1)).as("n_rows"),
        min(col("value")).as("value_min"),
        max(col("value")).as("value_max"),
        KllFunctions.kllSketch(col("value")).as("value_kll"),
        ThetaFunctions.thetaSketch(col("user_id")).as("user_theta"))
      .coalesce(1)
      .write.mode("overwrite").parquet(statsDir)

  /** The stats rows — one per partition, collected for driver-side
    * skip decisions (bounded by partition count, never row data). */
  private def stats(s: SparkSession, statsDir: String): Array[Row] =
    Sinks.readTree(s, statsDir).getOrElse(throw new java.io
      .FileNotFoundException(s"no skip stats at $statsDir")).collect()

  private def prunedRead(s: SparkSession, layoutDir: String,
      keep: Seq[java.sql.Date]): DataFrame =
    Tables.eventsPartitioned(s, layoutDir)
      .filter(col("dt").isInCollection(keep))

  /** Events with `value >= threshold`, reading only partitions whose
    * exact max clears the bar. NaN discipline: Spark orders NaN above
    * every double, so a partition holding a NaN row has
    * `value_max = NaN` AND its NaN rows satisfy `value >= t` under
    * Spark's comparison — while Java's `NaN >= t` is false. The keep
    * predicate therefore treats a NaN max as "cannot prove empty"
    * (kept), preserving the provably-empty skip contract. */
  def eventsWithValueAtLeast(s: SparkSession, layoutDir: String,
      statsDir: String, threshold: Double): DataFrame = {
    val keep = stats(s, statsDir)
      .filter { r =>
        val m = r.getAs[Double]("value_max")
        m.isNaN || m >= threshold
      }
      .map(_.getAs[java.sql.Date]("dt")).toSeq
    prunedRead(s, layoutDir, keep).filter(col("value") >= threshold)
  }

  /** Events of one user, reading only partitions whose theta sketch
    * cannot disprove the user's presence. */
  def eventsForUser(s: SparkSession, layoutDir: String,
      statsDir: String, userId: Long): DataFrame = {
    val keep = stats(s, statsDir)
      .filter(r => ThetaKernel.mayContain(
        r.getAs[Array[Byte]]("user_theta"), userId))
      .map(_.getAs[java.sql.Date]("dt")).toSeq
    prunedRead(s, layoutDir, keep).filter(col("user_id") === userId)
  }

  /** Estimated rows matching `value >= threshold`, from the KLL rank
    * estimates — the pricing side of the stats (e.g. choosing between
    * a pruned scan and an index), never a skip proof. */
  def estimateMatchingRows(s: SparkSession, statsDir: String,
      threshold: Double): Long =
    stats(s, statsDir).map { r =>
      val rank = Option(KllKernel.rank(
        r.getAs[Array[Byte]]("value_kll"), threshold))
        .map(_.doubleValue).getOrElse(1.0)
      (r.getAs[Long]("n_rows") * (1.0 - rank)).round
    }.sum

  // ------------------------------------------------- write-path stats

  /** Write-path stats maintenance (round 11): the skip-stats table
    * maintained BY the retention sinks as partitions land and age out,
    * instead of a separate full-layout pass. Pass one of these to
    * [[Sinks.retentionAppend]]/[[Sinks.retentionReplace]] and each
    * load writes its partition's stats row WITH the partition:
    * replace-mode rewrites the row (replay-idempotent, matching the
    * sink's own contract); append-mode MERGES the batch's row into the
    * stored one via the mergeable-summary kernels (counts add, min/max
    * combine under Spark's NaN-greatest ordering, KLL merge, theta
    * union) — O(batch) + one metadata row, the partition is never read
    * back. Age-out drops the stats partition with the data partition.
    *
    * Crash contract: the stats row lands AFTER its data partition. A
    * crash between the two leaves replace-mode recoverable by replay
    * (the round re-runs and rewrites both — [[graft.pipeline
    * .IncrementalSync]]'s contract); under plain append, re-run the
    * failed batch before trusting skips (a stale row under-reports the
    * partition and could skip unsoundly). The SKIP readers keep any
    * partition with no stats row — absence is never treated as proof. */
  final case class SkipStatsSpec(statsDir: String, valueCol: String,
      keyCol: String)

  /** Merge-or-replace the one stats row for `loadDate` from the batch.
    * Driver-side work is one 1-row aggregate over the batch plus a
    * metadata-sized read of the stored row. */
  private[operators] def upsertPartitionStats(s: SparkSession,
      spec: SkipStatsSpec, loadDate: java.sql.Date, batch: DataFrame,
      mergeExisting: Boolean): Unit = {
    import org.apache.spark.sql.types.DoubleType
    val b = batch.agg(count(lit(1)).as("n_rows"),
      min(col(spec.valueCol).cast(DoubleType)).as("value_min"),
      max(col(spec.valueCol).cast(DoubleType)).as("value_max"),
      KllFunctions.kllSketch(col(spec.valueCol).cast(DoubleType)).as("value_kll"),
      ThetaFunctions.thetaSketch(col(spec.keyCol)).as("key_theta")).head()
    val existing: Option[Row] =
      if (!mergeExisting) None
      else Sinks.readTree(s, spec.statsDir)
        .flatMap(_.filter(col("load_date") === lit(loadDate))
          .collect().headOption)
    // Spark's ordering puts NaN above every double: combine extremes
    // with Double.compare (same total order) so a NaN max stays NaN —
    // the skip reader's cannot-prove-empty case
    def cmb(a: Any, b: Any, takeMax: Boolean): Any = (a, b) match {
      case (null, x) => x
      case (x, null) => x
      case (x: Double, y: Double) =>
        if ((java.lang.Double.compare(x, y) >= 0) == takeMax) x else y
    }
    val merged = existing match {
      case None => Row(b.get(0), b.get(1), b.get(2), b.get(3), b.get(4))
      case Some(e) => Row(
        e.getAs[Long]("n_rows") + b.getAs[Long]("n_rows"),
        cmb(e.get(e.fieldIndex("value_min")), b.get(1), takeMax = false),
        cmb(e.get(e.fieldIndex("value_max")), b.get(2), takeMax = true),
        KllKernel.mergeBytes(e.getAs[Array[Byte]]("value_kll"),
          b.getAs[Array[Byte]]("value_kll")),
        ThetaKernel.unionBytes(e.getAs[Array[Byte]]("key_theta"),
          b.getAs[Array[Byte]]("key_theta")))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("value_min", DoubleType),
      org.apache.spark.sql.types.StructField("value_max", DoubleType),
      org.apache.spark.sql.types.StructField("value_kll",
        org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("key_theta",
        org.apache.spark.sql.types.BinaryType)))
    s.createDataFrame(java.util.Arrays.asList(merged), schema)
      .withColumn("load_date", lit(loadDate))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("load_date").parquet(spec.statsDir)
  }

  /** `value >= threshold` over a `load_date=`-partitioned retention
    * store, skipping partitions whose stats row PROVES them empty
    * (exact max below the bar, NaN kept — [[eventsWithValueAtLeast]]'s
    * discipline). Partitions without a stats row are kept: absence is
    * not a proof. */
  def retentionValueAtLeast(s: SparkSession, dataPath: String,
      spec: SkipStatsSpec, threshold: Double): DataFrame = {
    val skip = statRows(s, spec.statsDir).filter { r =>
      val m = r.get(r.fieldIndex("value_max"))
      m != null && !m.asInstanceOf[Double].isNaN &&
        m.asInstanceOf[Double] < threshold
    }.map(_.getAs[java.sql.Date]("load_date")).toSeq
    val base = retentionStore(s, dataPath)
    val pruned = if (skip.isEmpty) base
      else base.filter(!col("load_date").isInCollection(skip))
    pruned.filter(col(spec.valueCol) >= threshold)
  }

  /** Rows of one key over the retention store, skipping partitions
    * whose theta sketch disproves the key's presence. The probe uses
    * the overload matching the key's type — the string probe
    * reproduces the aggregate's marker-byte encoding, the long probe
    * its integral update ([[ThetaKernel.mayContain]]'s typed
    * contract). */
  def retentionForKey(s: SparkSession, dataPath: String,
      spec: SkipStatsSpec, key: Any): DataFrame = {
    def mayContain(bytes: Array[Byte]): Boolean = key match {
      case k: Long => ThetaKernel.mayContain(bytes, k)
      case k: Int => ThetaKernel.mayContain(bytes, k.toLong)
      case k: String => ThetaKernel.mayContain(bytes, k)
      case other => throw new IllegalArgumentException(
        s"unsupported key type: ${other.getClass}")
    }
    val skip = statRows(s, spec.statsDir).filter { r =>
      val t = r.getAs[Array[Byte]]("key_theta")
      t != null && !mayContain(t)
    }.map(_.getAs[java.sql.Date]("load_date")).toSeq
    val base = retentionStore(s, dataPath)
    val pruned = if (skip.isEmpty) base
      else base.filter(!col("load_date").isInCollection(skip))
    pruned.filter(col(spec.keyCol) === lit(key))
  }

  private def statRows(s: SparkSession, statsDir: String): Array[Row] =
    Sinks.readTree(s, statsDir).map(_.collect()).getOrElse(Array.empty)

  private def retentionStore(s: SparkSession, dataPath: String): DataFrame =
    Sinks.readTree(s, dataPath).getOrElse(throw new java.io
      .FileNotFoundException(s"no retention data at $dataPath"))
}
