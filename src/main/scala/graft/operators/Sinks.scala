package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.sql.Timestamp

/** Sinks (SURVEY.md O15–O18).
  *
  * The reference's load is a TVP + stored procedure doing
  * `DELETE FROM t; INSERT ... GETDATE()` in one transaction
  * (MD-SQL:98-181) — full-refresh snapshot semantics with a
  * batch-constant load timestamp. Spark-first: `SaveMode.Overwrite`
  * parquet with `lit(loadTime)` stamped on the driver (one value per
  * batch, matching "same GETDATE() for all rows of the statement";
  * a per-row `current_timestamp()` would drift across tasks).
  */
object Sinks {

  /** O15/O16 — full-refresh snapshot: overwrite + batch-constant
    * timeGenerated. */
  def snapshot(df: DataFrame, path: String, loadTime: Timestamp): Unit =
    df.withColumn("timeGenerated", lit(loadTime))
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** O15/O16 over NEWLINE-DELIMITED JSON — the closest analog of the
    * reference README's alternate targets ("Azure blob storage / log
    * analytics workspace" ship row-wise JSON): same full-refresh +
    * batch-constant-timestamp semantics as [[snapshot]], rendered as
    * an NDJSON directory (one JSON document per line, Spark's native
    * distributed json writer — no driver-side serialization).
    * Timestamps render as ISO-8601 UTC strings (the session pins UTC),
    * so any log-ingestion agent can consume the lines without parquet
    * tooling. */
  def ndjsonSnapshot(df: DataFrame, path: String, loadTime: Timestamp): Unit =
    df.withColumn("timeGenerated", lit(loadTime))
      .write.mode(SaveMode.Overwrite).json(path)

  /** O17 — retention mode (the reference's commented alternative,
    * MD-SQL:107-111): append this batch as a `load_date=<date>`
    * partition (the date of the batch-constant `timeGenerated`), then
    * age out by DROPPING expired partition directories. Surviving data
    * is never read back or rewritten — a load touches one new
    * partition plus the expired deletes, so the cost is O(batch), not
    * O(table), and there is no delete/rename swap window: the only
    * destructive step removes directories that are expired by
    * definition. Readers prune on `load_date` for free
    * (PartitionFilters). */
  def retentionAppend(spark: SparkSession, df: DataFrame, path: String,
      loadTime: Timestamp, maxAgeDays: Int = 40,
      stats: Option[DataSkipping.SkipStatsSpec] = None): Unit = {
    df.withColumn("timeGenerated", lit(loadTime))
      .withColumn("load_date", lit(loadTime).cast("date"))
      .write.mode(SaveMode.Append).partitionBy("load_date").parquet(path)
    // write-path stats (round 11): MERGE the batch's summary row into
    // the partition's stored row (append may land several batches on
    // one load_date) — mergeable-sketch combine, O(batch), the
    // partition is never read back. Stats partitions age out with
    // their data partitions below.
    stats.foreach(sp => DataSkipping.upsertPartitionStats(spark, sp,
      loadDateOf(spark, loadTime), df, mergeExisting = true))
    dropExpired(spark, path, loadTime, maxAgeDays)
    stats.foreach(sp =>
      dropExpired(spark, sp.statsDir, loadTime, maxAgeDays))
  }

  /** The `load_date` partition value this load writes — derived in the
    * SESSION timezone exactly as `lit(loadTime).cast("date")`
    * evaluates, so the stats row and the age-out cutoff can never
    * disagree with the partition directory name. */
  private def loadDateOf(spark: SparkSession,
      loadTime: Timestamp): java.sql.Date = {
    val zone = java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
    java.sql.Date.valueOf(loadTime.toInstant.atZone(zone).toLocalDate)
  }

  /** Age-out: drop `load_date=` partition directories older than the
    * retention window. Surviving data is never read or rewritten. */
  private def dropExpired(spark: SparkSession, path: String,
      loadTime: Timestamp, maxAgeDays: Int): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // partition names come from lit(loadTime).cast("date"), which
    // evaluates in the SESSION timezone — derive the cutoff in the
    // same zone or boundary partitions age out a day off on any
    // JVM whose default zone differs from the session's
    val zone = java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
    val cutoff = loadTime.toInstant.atZone(zone).toLocalDate
      .minusDays(maxAgeDays)
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("load_date=")) {
        val d = java.time.LocalDate.parse(name.stripPrefix("load_date="))
        if (d.isBefore(cutoff) && !fs.delete(st.getPath, true))
          throw new java.io.IOException(
            s"retention: failed to drop expired partition ${st.getPath}")
      }
    }
  }

  /** [[retentionAppend]]'s replay-idempotent sibling: the batch
    * REPLACES its own `load_date=` partition (dynamic partition
    * overwrite — other partitions untouched) instead of appending, so
    * re-running a crashed load lands the identical bytes instead of
    * duplicating the day. This is the right mode when the load is
    * driven by a replayable upstream (e.g. [[graft.pipeline
    * .IncrementalSync]], whose crash contract re-runs the last round);
    * plain append matches the reference's insert-only retention sink.
    * Age-out is the same partition drop. */
  def retentionReplace(spark: SparkSession, df: DataFrame, path: String,
      loadTime: Timestamp, maxAgeDays: Int = 40,
      stats: Option[DataSkipping.SkipStatsSpec] = None): Unit = {
    df.withColumn("timeGenerated", lit(loadTime))
      .withColumn("load_date", lit(loadTime).cast("date"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("load_date").parquet(path)
    // write-path stats: the batch REPLACES its partition, so its stats
    // row replaces too — a replayed round rewrites both identically
    // (the sink's replay-idempotence extends to the stats table)
    stats.foreach(sp => DataSkipping.upsertPartitionStats(spark, sp,
      loadDateOf(spark, loadTime), df, mergeExisting = false))
    dropExpired(spark, path, loadTime, maxAgeDays)
    stats.foreach(sp =>
      dropExpired(spark, sp.statsDir, loadTime, maxAgeDays))
  }

  /** Apply an OData delta change set (`ODataPageReader.readDeltaPages`
    * output: entity columns + boolean `removed`) to a snapshot:
    * tombstoned ids are deleted, changed/new entities replace or
    * extend the snapshot. One anti-join on the changed-id set plus a
    * union. The planner broadcasts the changed ids when their estimated
    * size is under `spark.sql.autoBroadcastJoinThreshold`: a URL chain
    * from `ODataPageReader` reports its body bytes as its size, so a
    * routine delta is broadcast and the snapshot is scanned once,
    * unshuffled. (Without that estimate the plan is a sort-merge join
    * that shuffles the whole snapshot; AQE converts it to a broadcast
    * only after both shuffles have run.) No broadcast hint: a delta
    * after long downtime (or an expired delta token) can approach
    * full-table size, where a forced broadcast would OOM the driver.
    * Assumes the service coalesces to at most one change per id per
    * delta round (the documented OData delta contract). */
  def applyDelta(snapshot: DataFrame, changes: DataFrame,
      idCol: String): DataFrame = {
    val changedIds = changes.select(col(idCol))
    val upserts = changes.filter(!col("removed")).drop("removed")
    snapshot.join(changedIds, Seq(idCol), "left_anti")
      .unionByName(upserts)
  }

  /** Overwrite `path` from a DataFrame that may READ `path` (e.g. a
    * merged snapshot), without ever reading and writing it in the same
    * job: the new tree is written under [[partitionStage]] and
    * committed as one move ([[commitStaged]]), so a complete snapshot
    * exists on disk at every instant (between the set-aside and the
    * promote rename, in the stage, where the record finishes the move).
    * Readers run [[recoverSwap]] first; so does this method, since it
    * reuses the stage. */
  def overwriteViaSwap(spark: SparkSession, df: DataFrame,
      path: String, partitionCols: Seq[String] = Nil): Unit = {
    recoverSwap(spark, path)
    val staged = partitionStage(path) + "/tree"
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(staged)
    commitStaged(spark, path, Seq(Move(staged, path)))
  }

  /** Keyed MERGE (upsert + tombstone delete) into a hash-bucket-
    * partitioned parquet store, with rewrite cost O(touched buckets)
    * — the disk-level sibling of [[applyDelta]] (which merges
    * DataFrames in memory). Layout: `bucket=<pmod(xxhash64(id), n)>`
    * directories; a change only ever lands in its key's bucket, so
    * the merge reads and rewrites exactly the buckets containing
    * changed keys (partition pruning on the scan; the touched-bucket
    * list is ≤ n values collected to the driver) and every other
    * bucket's files are NEVER opened. At 100 TB with n sized so a
    * bucket is a few GB, a routine delta rewrites a handful of
    * bucket directories instead of the table.
    *
    * `changes` may carry a boolean `removed` column ([[applyDelta]]'s
    * tombstone contract); absent, every change row is an upsert.
    * Assumes ≤ one change per id per call (the OData delta contract).
    *
    * The merged buckets commit through [[commitPartitions]] (a bucket
    * whose every row was tombstoned is dropped); a call interrupted
    * mid-commit is repaired on the NEXT call's entry, after which a
    * replay of the same change set lands the identical state — the
    * same replay-the-uncommitted-delta contract as
    * [[graft.pipeline.IncrementalSync]] (the cursor only advances
    * after a completed merge). A merge that empties every bucket
    * leaves the path absent, the store's canonical empty form.
    *
    * The store records its bucket count in a `_graft_buckets` file
    * (underscore-prefixed → invisible to parquet reads); a later call
    * with a different `buckets` fails fast instead of silently
    * missing the buckets existing keys actually live in. */
  def bucketedUpsert(spark: SparkSession, changes: DataFrame, path: String,
      idCol: String, buckets: Int): Unit = {
    require(buckets > 0, "buckets must be positive")
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasRemoved = changes.columns.contains("removed")
    def withBucket(df: DataFrame) =
      df.withColumn("bucket", pmod(xxhash64(col(idCol)), lit(buckets.toLong)))
    val upserts = if (hasRemoved) changes.filter(!col("removed")).drop("removed")
      else changes
    val live = openTree(spark, path) match {
      case Some(df) => df
      case None =>
        // absent store, or an empty shell left by a merge that
        // tombstoned every bucket: recreate from scratch. An
        // all-tombstone change set must not write a footerless empty
        // directory (which would brick reads) — leave the path absent
        if (fs.exists(hPath) && !fs.delete(hPath, true))
          throw new java.io.IOException(s"upsert: cannot clear empty shell $hPath")
        if (upserts.isEmpty) return
        withBucket(upserts).write.mode(SaveMode.Overwrite)
          .partitionBy("bucket").parquet(path)
        writeBucketMeta(fs, path, buckets)
        return
    }
    readBucketMeta(fs, path) match {
      case Some(n) => require(n == buckets,
        s"store at $path was built with $n buckets, called with $buckets")
      case None =>
        // pre-metadata store: before pinning the caller's count as
        // authoritative, check it against the on-disk layout — a
        // bucket id >= buckets proves the store was built wider, and
        // merging mod a smaller count would silently duplicate keys
        val maxB = fs.listStatus(hPath).map(_.getPath.getName)
          .filter(_.startsWith("bucket="))
          .map(_.stripPrefix("bucket=").toLong).max
        require(maxB < buckets,
          s"store at $path has bucket=$maxB on disk, called with $buckets buckets")
        writeBucketMeta(fs, path, buckets)
    }
    val ch = withBucket(changes).cache()
    try {
      val touched = ch.select("bucket").distinct()
        .collect().map(_.getLong(0)).sorted // bounded: <= `buckets` values
      if (touched.isEmpty) return
      val existing = live
        .filter(col("bucket").isin(touched: _*)) // partition-pruned scan
      val changedIds = ch.select(col(idCol))
      existing.join(changedIds, Seq(idCol), "left_anti")
        .unionByName(withBucket(upserts))
        .write.mode(SaveMode.Overwrite).partitionBy("bucket")
        .parquet(partitionStage(path))
      commitPartitions(spark, path, touched.map(b => s"bucket=$b"))
      // a merge that tombstoned every bucket leaves an empty shell:
      // drop it so the store's empty form is "path absent", keeping
      // every future read and upsert on the defined entry paths
      if (!hasBucketDirs(fs, hPath) && !fs.delete(hPath, true))
        throw new java.io.IOException(s"upsert: cannot clear empty shell $hPath")
      ()
    } finally ch.unpersist()
  }

  private def bucketMetaPath(path: String) = new Path(path, "_graft_buckets")

  private def writeBucketMeta(fs: FileSystem, path: String, buckets: Int): Unit = {
    val out = fs.create(bucketMetaPath(path), true)
    try out.write(buckets.toString.getBytes("UTF-8")) finally out.close()
  }

  private def readBucketMeta(fs: FileSystem, path: String): Option[Int] = {
    val p = bucketMetaPath(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        // read fully (a single read() may return short on some
        // filesystems); an empty or non-numeric file — a write torn
        // between create and write — counts as absent, which routes
        // through the pre-metadata validation and a clean rewrite
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64)
        var n = in.read(buf)
        while (n > 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        val s = bytes.toString("UTF-8").trim
        if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toInt) else None
      } finally in.close()
    }
  }

  private def hasBucketDirs(fs: FileSystem, hPath: Path): Boolean =
    fs.listStatus(hPath).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("bucket="))

  /** The stage of the tree at `path`: every commit that touches the
    * tree writes its new copies here — replacement `<key>=<v>` dirs
    * for [[commitPartitions]], the whole tree for [[overwriteViaSwap]],
    * a capacity migration's re-shard, model and serving trees — and
    * the commit record and the set-aside live copies live here too.
    * One tree has one stage, so [[recoverSwap]] is its one repair. */
  def partitionStage(path: String): String = path + "_pstage"

  private val CommitRecord = "_commit"

  /** A step of a commit record ([[commitStaged]]). */
  private[graft] sealed trait Step
  /** Replace `live` by the `staged` copy. */
  private[graft] final case class Move(staged: String, live: String)
      extends Step
  /** Delete `live`. */
  private[graft] final case class Drop(live: String) extends Step

  /** The engine's one commit: the per-tree form of the reference's
    * one-transaction `DELETE` + `INSERT` (MD-SQL:105,113). The caller
    * has written every staged copy under [[partitionStage]] of `path`;
    * `steps` run in order.
    *  1. commit: the stage's `_commit` record, listing the steps, is
    *     written as a tmp file and renamed into place — that rename is
    *     the commit point, and nothing live changes before it;
    *  2. promote: a move renames its live path aside into the stage
    *     (when there is one) and renames the staged copy in, so the
    *     live path is missing only between those two renames; a drop
    *     deletes its live path;
    *  3. the stage, with every set-aside copy, is deleted last.
    * Promote is idempotent (a move whose staged copy is gone has
    * landed, a finished drop is a no-op delete), so [[recoverSwap]]
    * can replay it after a crash at any step. Record paths are
    * relative to the stage, so a tree family copied or moved together
    * keeps a valid record. Single-maintainer: the caller must not race
    * another writer of the trees the steps name. */
  private[graft] def commitStaged(spark: SparkSession, path: String,
      steps: Seq[Step]): Unit = {
    val stage = new Path(partitionStage(path))
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def local(p: Path) =
      java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath)
    def rel(p: String) =
      local(stage).relativize(local(new Path(p))).toString
    val tmp = new Path(stage, CommitRecord + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(steps.map {
      case Move(s, l) => s"move\t${rel(s)}\t${rel(l)}"
      case Drop(l) => s"drop\t${rel(l)}"
    }.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new Path(stage, CommitRecord)))
      throw new java.io.IOException(s"commit: cannot commit $stage")
    promote(fs, stage, steps, fresh = true)
  }

  /** The staged partition-replace commit: [[commitStaged]] for a tree
    * that rewrites some of its `<key>=<v>` partition dirs in place —
    * [[bucketedUpsert]], the ANN cell trees' delta publish and retire,
    * and index compaction and retirement. The caller has written each
    * replacement partition under [[partitionStage]]; `touched` names
    * every partition the op replaces, and a touched partition with no
    * staged copy is dropped. */
  def commitPartitions(spark: SparkSession, path: String,
      touched: Seq[String]): Unit = {
    val stage = partitionStage(path)
    val fs = new Path(stage).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = fs.listStatus(new Path(stage)).toSeq
      .filter(_.isDirectory).map(_.getPath.getName).filter(_.contains("="))
    commitStaged(spark, path,
      touched.filterNot(staged.contains).map(d => Drop(s"$path/$d")) ++
        staged.map(p => Move(s"$stage/$p", s"$path/$p")))
  }

  /** The one repair, for every tree and every commit: a stage holding
    * its `_commit` record rolls forward, a stage without one is deleted
    * (nothing live was touched yet). A clean tree costs one `exists`.
    * Every entry point of a committed tree runs this on the tree before
    * reading or writing it. */
  def recoverSwap(spark: SparkSession, path: String): Unit = {
    val stage = new Path(partitionStage(path))
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(stage)) return
    val record = new Path(stage, CommitRecord)
    if (fs.exists(record)) {
      val in = fs.open(record)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
      def at(rel: String) = new Path(stage, rel).toString
      // every commit has a step: an empty record, like an unknown line,
      // is not this protocol's (an older engine's), so fail loudly
      // rather than delete a stage it cannot read
      def unreadable = new java.io.IOException(
        s"repair: unreadable commit record $record")
      if (lines.isEmpty) throw unreadable
      promote(fs, stage, lines.map(_.split('\t') match {
        case Array("move", s, l) => Move(at(s), at(l))
        case Array("drop", l) => Drop(at(l))
        case _ => throw unreadable
      }), fresh = false)
    } else if (!fs.delete(stage, true))
      throw new java.io.IOException(s"repair: cannot clear $stage")
  }

  /** Run a committed record's steps, then delete the stage. `fresh`:
    * nothing has been promoted yet, so every staged copy is there. */
  private def promote(fs: FileSystem, stage: Path, steps: Seq[Step],
      fresh: Boolean): Unit = {
    steps.zipWithIndex.foreach {
      case (Move(s, l), i) =>
        val (staged, live) = (new Path(s), new Path(l))
        if (fresh || fs.exists(staged)) {
          if (fs.exists(live) &&
              !fs.rename(live, new Path(stage, s"_aside$i")))
            throw new java.io.IOException(s"commit: cannot set aside $live")
          if (!fs.rename(staged, live))
            throw new java.io.IOException(s"commit: cannot promote $staged")
        }
      case (Drop(l), _) =>
        val live = new Path(l)
        if (!fs.delete(live, true) && fs.exists(live))
          throw new java.io.IOException(s"commit: cannot drop $live")
    }
    if (!fs.delete(stage, true))
      throw new java.io.IOException(s"commit: cannot clear $stage")
  }

  /** Open the engine tree at `path`: its one repair ([[recoverSwap]]),
    * then [[readTree]]. None for a tree with no data file. */
  def openTree(spark: SparkSession, path: String): Option[DataFrame] = {
    recoverSwap(spark, path)
    readTree(spark, path)
  }

  /** [[openTree]] without the repair, for a repaired or staged tree. */
  def readTree(spark: SparkSession, path: String): Option[DataFrame] =
    treeSchema(spark, path).map(spark.read.schema(_).parquet(path))

  /** The schema Spark infers for the tree at `path`, read on the driver
    * from its first visible data file's footer with Spark's own
    * conversion (its row metadata wins, as in inference): no inference
    * job. The partition columns on that file's path are left out, so
    * Spark still infers them and their types from the directory names;
    * a read of some partitions (`basePath`) takes its schema from here
    * too. None for a tree with no data file. */
  def treeSchema(spark: SparkSession, path: String): Option[StructType] = {
    val root = new Path(path)
    firstDataFile(root.getFileSystem(spark.sparkContext.hadoopConfiguration),
      root).map { case (file, parts) =>
      StructType(fileSchema(spark, file).filterNot(f => parts.contains(f.name)))
    }
  }

  /** The Spark schema of one parquet file, from its footer. */
  def fileSchema(spark: SparkSession, file: FileStatus): StructType = {
    val in = ParquetFileReader.open(
      HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration))
    val footer = try in.getFooter finally in.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Does the tree at `p` hold a visible data file? Partition dirs can
    * be empty (a batch that dropped everything, a fully retired one). */
  def hasDataFile(fs: FileSystem, p: Path): Boolean =
    firstDataFile(fs, p).isDefined

  /** The first visible data file under `dir` (none when `dir` is
    * absent), with the partition columns its path names. Hidden entries
    * (`_` or `.`) are skipped as the parquet reader skips them: an
    * embedded `_model` or `_codebook` dir is not the tree's data. */
  private def firstDataFile(fs: FileSystem, dir: Path,
      parts: List[String] = Nil): Option[(FileStatus, List[String])] =
    (try fs.listStatus(dir)
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] })
      .iterator.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) None
        else if (s.isDirectory) firstDataFile(fs, s.getPath,
          if (n.contains("=")) n.takeWhile(_ != '=') :: parts else parts)
        else if (n.endsWith(".parquet")) Some((s, parts))
        else None
      }.nextOption()

  /** O15 variant — JDBC snapshot: truncate-overwrite into a relational
    * store, the closest analog of the reference's TVP+sproc load
    * (MD-SQL:98-181) when the target stays a SQL database. Same trait
    * shape as the parquet sink; spec-tested against embedded Derby. */
  def jdbcSnapshot(df: DataFrame, url: String, table: String,
      props: java.util.Properties, loadTime: Timestamp): Unit =
    df.withColumn("timeGenerated", lit(loadTime))
      .write.mode(SaveMode.Overwrite)
      .option("truncate", "true")   // preserve DDL, delete+insert semantics
      .jdbc(url, table, props)

  /** O18 — surrogate key. `monotonically_increasing_id` is the
    * scale-correct choice (no shuffle, no driver bottleneck);
    * `contiguous=true` reproduces the reference's IDENTITY(1,1)
    * contiguity via a global row_number — a single-partition sort,
    * acceptable only for dimension-sized outputs. */
  def withSurrogateKey(df: DataFrame, keyCol: String = "ClusterID",
      orderBy: String = "id", contiguous: Boolean = false): DataFrame =
    if (contiguous)
      df.withColumn(keyCol,
        row_number().over(Window.orderBy(col(orderBy))).cast("long"))
    else df.withColumn(keyCol, monotonically_increasing_id())
}
