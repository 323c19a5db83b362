package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField,
  StructType}
import graft.core.DriverFold
import graft.dedup.Dedup
import graft.operators.Sinks

/** Streaming ingest dedup: document files landing in a directory are
  * deduplicated per micro-batch against a persistent MinHash signature
  * index ([[Dedup.minhashIndex]] rows stored as parquet), so each
  * round's work scales with the BATCH, never the corpus — re-shingling
  * 100 TB per ingest round is replaced by one scan of precomputed
  * signatures plus O(batch) hashing.
  *
  * Per micro-batch:
  *  1. near-dup pairs touching the batch come from
  *     [[Dedup.minhashLshPairsFromIndexes]] against the committed
  *     index (prior batches' signature partitions);
  *  2. batch docs resolve to SURVIVORS by cluster: any cluster that
  *     contains an indexed doc keeps the indexed representative (the
  *     whole batch side drops); a cluster of only new docs keeps its
  *     minimum id. Cluster resolution reuses
  *     [[Dedup.duplicateClusters]] over the batch-touching pair graph
  *     only — a tiny fraction of the batch;
  *  3. pairs, surviving docs, AND the survivors' signatures are all
  *     written to per-batch `batch_id=N` directories, each with
  *     overwrite semantics.
  *
  * Crash safety follows from every write being a per-batch overwrite
  * of a deterministic function of the committed prefix: a replay of
  * batch N reads the index as partitions `batch_id < N` (a partial
  * `batch_id=N` dir from the crashed attempt is excluded, then
  * overwritten), recomputes identical outputs, and overwrites them in
  * place. No append, no commit marker, no cross-batch mutation.
  */
object DedupStream {

  /** Compact a committed per-batch index tree: fold every partition
    * with `batch_id <= upToBatch` into ONE `batch_id=upToBatch`
    * directory. This is the dedup-side small-files lifecycle (the
    * counterpart of [[AnnStream.publishIndex]] for the serving tree):
    * per-batch dirs give crash safety DURING ingest, but at a real
    * cadence the committed prefix becomes thousands of tiny
    * partitions that every batch's index scan must open — a periodic
    * compaction folds the prefix into one partition while preserving
    * the replay discipline exactly, because a replayed batch N >
    * upToBatch still reads `batch_id < N`, which selects the folded
    * dir's identical row set, and still overwrites only its own dir.
    *
    * `upToBatch` must be a COMMITTED bound and the call must not race
    * an in-flight batch `<= upToBatch` (the [[AnnStream.publishIndex]]
    * contract — in practice: compact from the foreachBatch body or a
    * quiesced maintenance window). Works on any of the three index
    * shapes (MinHash signatures, 64-bit signatures, embeddings) —
    * the fold is shape-agnostic.
    *
    * Crash safety: the fold stages as `batch_id=<upToBatch>` (stats
    * sidecar inside) and commits through
    * [[graft.operators.Sinks.commitPartitions]], which drops the
    * folded source dirs; the tree's repair
    * ([[graft.operators.Sinks.recoverSwap]], run on entry here AND by
    * every index load) finishes or undoes an interrupted one. */
  def compactIndex(spark: SparkSession, indexPath: String,
      upToBatch: Long, partitionCols: Seq[String] = Nil,
      idCol: Option[String] = None): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(indexPath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the tree's one repair, which also finishes a capacity migration:
    // compactIndex is a public quiesced-window API — called directly
    // against a tree whose migration committed but never promoted,
    // folding the SUPERSEDED live tree would be discarded by the next
    // entry's roll-forward
    Sinks.recoverSwap(spark, indexPath)
    if (!fs.exists(hPath)) return
    val dirs = fs.listStatus(hPath).toSeq
      .filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName.startsWith("batch_id=") &&
        p.getName.stripPrefix("batch_id=").toLong <= upToBatch)
    if (dirs.length <= 1) return // nothing to fold
    // the prefix's data columns, from its first data file; an all-empty
    // prefix (every batch dropped everything) has no rows to fold —
    // leave the (cheap, data-free) dirs alone
    val schema = dirs.iterator.flatMap(d => Sinks.treeSchema(spark, d.toString))
      .nextOption().getOrElse(return)
    val tgt = dirs.map(_.getName.stripPrefix("batch_id=").toLong).max
    val next = s"${Sinks.partitionStage(indexPath)}/batch_id=$tgt"
    val folded = spark.read.schema(schema).parquet(indexPath)
      .filter(col("batch_id") <= tgt)
      .drop("batch_id")
    // sub-partitioned trees (the ANN raw tree's batch_id=N/cell=M) keep
    // their inner layout: shuffle by the partition keys so each folded
    // sub-dir is one file — the read path's pruning contract survives
    val writer = (if (partitionCols.isEmpty)
        folded.coalesce(math.max(1, dirs.length / 8)) // ~8 batch dirs/file
      else folded.repartition(partitionCols.map(col): _*))
      .write.mode(SaveMode.Overwrite)
    (if (partitionCols.isEmpty) writer
     else writer.partitionBy(partitionCols: _*))
      .parquet(next)
    // the folded target's stats sidecar, staged WITH it (it promotes
    // inside `batch_id=<tgt>`): the compacted BULK of a maintained
    // tree then answers every future probe — retire candidates,
    // ingest-guard hull, row counts — from one small read, min/max
    // AND Bloom, instead of one footer per file. `idCol` is opt-in
    // because the fold itself is shape-agnostic; the ingest wrappers
    // pass theirs. Computed from the
    // JUST-WRITTEN staged output, not the `folded` plan — re-executing
    // the plan would re-read every source batch dir and re-run the
    // fold's shuffle once per sidecar job (r17 review).
    idCol.foreach(ic => StatsSidecar.writeForDir(spark,
      spark.read.schema(schema).parquet(next), next, ic))
    Sinks.commitPartitions(spark, indexPath,
      dirs.map(_.getName))
  }

  /** The partitions of a tree that COULD hold any of `ids`, decided
    * from PARQUET FOOTER min/max stats — the pruning front of the
    * retire probe. Footers are the stats SIDECAR that can never go
    * stale: they travel with the data files, so a retire that
    * rewrites a partition or a compaction that folds the prefix
    * refreshes them by construction (the round-15 verdict asked for a
    * write-time min/max sidecar; footer stats are that sidecar with
    * zero writer changes and zero staleness invariants).
    *
    * Cost discipline, each clause measured by the retire_probe cells
    * of the round-16 ingest probe (in git history):
    *  - the retire ids collect to the driver ONCE, as sorted distinct
    *    longs, in one exchange-free job ([[DriverFold]]),
    *    capped at `idLimit` (erasure requests are requester-sized —
    *    the [[driverLosers]] eligibility rule; past the cap or for
    *    non-integral id types this returns None and the caller takes
    *    the join path). They come back with the candidates, so the
    *    caller filters by them instead of joining against them;
    *  - listing + footer opens run on a BOUNDED POOL, one task per
    *    partition dir (sequential footer reads cost ~10 ms each on a
    *    checksummed local fs — 16 s for one probe over a 60-dir ×
    *    30-file tree; pooled ~1 s);
    *  - each dir's footer loop SHORT-CIRCUITS the moment its running
    *    bounds contain any retire id (sorted-array search): a dir
    *    that cannot be pruned is decided after ~one footer instead of
    *    all of them, so the unprunable worst case (every dir spans
    *    the full id range) pays ~one footer per dir over the plain
    *    probe, while proving a dir ABSENT still reads all its footers
    *    (the flat-tree case, where dirs are few-file after
    *    compaction).
    * A partition whose bounds cannot be established (a block with
    * rows but no usable id stats, an unreadable footer) is an
    * unconditional candidate — stats only ever over-approximate, and
    * the caller's id filter stays the exact decision. The candidates
    * are None when a partition dir does not parse (every partition is
    * then a candidate), `Some(Nil)` when no row can hold an id. */
  private[streaming] def statsCandidateParts(spark: SparkSession,
      treePath: String, prefix: String, ids: DataFrame,
      idCol: String, idLimit: Int = 100000)
      : Option[(Array[Long], Option[Seq[Long]])] = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    ids.schema(idCol).dataType match {
      case LongType | IntegerType => ()
      case _ => return None
    }
    // the driver holds at most about 2·idLimit longs, and the
    // default bound is requester-sized — erasure/re-crawl requests are
    // human- or crawler-issued lists, not corpus slices (r16 advice:
    // the prior 2M-Row bound could make this "metadata-only" path the
    // largest driver allocation of a drain)
    val sorted = DriverFold.distinctLongs(
      ids.select(col(idCol).cast(LongType)).na.drop(), idLimit + 1).sorted
    if (sorted.length > idLimit) return None // not requester-sized
    if (sorted.isEmpty) return Some((sorted, Some(Nil)))
    def anyIdIn(mn: Long, mx: Long): Boolean = {
      var lo = 0; var hi = sorted.length // least index with value >= mn
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid) < mn) lo = mid + 1 else hi = mid
      }
      lo < sorted.length && sorted(lo) <= mx
    }
    Some((sorted, footerCandidateParts(spark, treePath, prefix, idCol,
      _ => true, idsOpt = Some(sorted))(anyIdIn)))
  }

  /** The footer walker behind [[statsCandidateParts]] and
    * [[AnnStream]]'s ingest-guard pruning: the `<prefix>N` partitions
    * of `treePath` (passing `partFilter`) whose footer bounds make
    * `couldHit(min, max)` true — or whose bounds cannot be
    * established, which is always a candidate (stats only ever
    * over-approximate). Pool + per-dir short-circuit as documented on
    * [[statsCandidateParts]].
    *
    * Returns None when any `<prefix>` directory's partition value does
    * not parse as a long (e.g. `batch_id=__HIVE_DEFAULT_PARTITION__`
    * from a null id) — such a dir can be neither pruned nor named in
    * the candidate list (candidates are read back by `<prefix><N>`
    * path), so the caller falls back to the unpruned probe, the same
    * "stats only ever over-approximate" rule at tree granularity
    * (r16 advice: the parse previously threw, turning a tolerated
    * tree shape into a crash before the fallback could apply).
    *
    * SIDECAR FIRST (round 17): a dir carrying a [[StatsSidecar]] entry
    * decides from ONE small read — its min/max (and, when `idsOpt`
    * carries the probe's ids, its Bloom filter, which prunes the
    * hashed-id layouts min/max cannot) — and its footers are never
    * opened; dirs without one keep the footer walk. This is what makes
    * proving absence O(dirs) instead of O(files) on maintained trees,
    * and the mod-sliced worst case ~the ranged case
    * (round-17 ingest probe, in git history: mod600 2.55 s → 0.66 s,
    * ranged600 1.12 s → 0.61 s). */
  private[streaming] def footerCandidateParts(spark: SparkSession,
      treePath: String, prefix: String, idCol: String,
      partFilter: Long => Boolean, idsOpt: Option[Array[Long]] = None)
      (couldHit: (Long, Long) => Boolean): Option[Seq[Long]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val hPath = new org.apache.hadoop.fs.Path(treePath)
    val fs = hPath.getFileSystem(conf)
    // bounds of ONE file: one Option per non-empty row group (None =
    // "bounds unknown for this block"), merged — Some(empty interval)
    // for a zero-row file, None when any block is unbounded
    def fileBounds(f: org.apache.hadoop.fs.Path): Option[(Long, Long)] = {
      val perBlock: Seq[Option[(Long, Long)]] = scala.util.Try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(f, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          r.getFooter.getBlocks.asScala.toSeq
            .filter(_.getRowCount > 0)
            .map { b =>
              b.getColumns.asScala
                .find(_.getPath.toDotString == idCol)
                .map(_.getStatistics)
                .filter(st => st != null && st.hasNonNullValue &&
                  !st.isEmpty)
                .map { st =>
                  def asLong(v: AnyRef): Long = v match {
                    case l: java.lang.Long => l.longValue
                    case i: java.lang.Integer => i.longValue
                  }
                  (asLong(st.genericGetMin.asInstanceOf[AnyRef]),
                    asLong(st.genericGetMax.asInstanceOf[AnyRef]))
                }
            }
        } finally r.close()
      }.getOrElse(Seq(None)) // unreadable footer: bounds unknown
      if (perBlock.isEmpty) Some((1L, 0L)) // zero rows: empty interval
      else if (perBlock.exists(_.isEmpty)) None
      else {
        val bs = perBlock.flatten
        Some((bs.map(_._1).min, bs.map(_._2).max))
      }
    }
    // true iff the dir COULD hold a hit: sidecar first (one small
    // read — min/max, then Bloom when the probe's ids are at hand);
    // without one, walk its files' footers, short-circuiting to
    // candidate on unknown bounds or on the first couldHit; completing
    // the walk with no hit proves absence
    def dirIsCandidate(dir: org.apache.hadoop.fs.Path): Boolean =
      StatsSidecar.read(fs, dir, idCol) match {
        case Some(e) =>
          // mn > mx is the empty id interval (zero rows, or rows whose
          // every id is null — `rows` counts them for footerRowCount,
          // but no probed long can live there): prune before couldHit,
          // which assumes a real interval (the fileBounds convention)
          e.rows > 0L && e.mn <= e.mx && couldHit(e.mn, e.mx) &&
            idsOpt.forall { sorted =>
            // narrow the (sorted — the statsCandidateParts contract)
            // probe ids to the dir's [mn, mx] window before any
            // hashing: only ids the range already admits are bloom-
            // tested, so a ranged layout pays ~zero hashes per pruned
            // dir instead of |ids|·k (r17 review)
            var lo = 0; var hi = sorted.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (sorted(mid) < e.mn) lo = mid + 1 else hi = mid
            }
            var i = lo; var hit = false
            while (!hit && i < sorted.length && sorted(i) <= e.mx) {
              hit = e.mightContain(sorted(i)); i += 1
            }
            hit
          }
        case None => parquetFiles(fs, dir).exists { f =>
          fileBounds(f) match {
            case None => true // unbounded: cannot prove absent
            case Some((mn, mx)) => mn <= mx && couldHit(mn, mx)
          }
        }
      }
    val parsed = fs.listStatus(hPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(s => (scala.util.Try(
        s.getPath.getName.stripPrefix(prefix).toLong), s.getPath))
    if (parsed.exists(_._1.isFailure)) return None // unparseable dir
    val parts = parsed.map { case (n, p) => (n.get, p) }
      .filter(p => partFilter(p._1))
    if (parts.isEmpty) return Some(Nil)
    import scala.jdk.CollectionConverters._
    val tasks = parts.map { case (n, dir) =>
      new java.util.concurrent.Callable[Option[Long]] {
        def call() = if (dirIsCandidate(dir)) Some(n) else None
      }
    }
    Some(footerPool.invokeAll(tasks.asJava).asScala.toSeq
      .flatMap(_.get()).sorted)
  }

  /** Total committed row count of a partitioned tree from parquet
    * FOOTER metadata alone — the capacity-migration trigger's input
    * ([[AnnStream.migrateCapacityIfNeeded]] needs the committed corpus
    * size after every batch, and a `count()` job would scan a column
    * of the whole index per micro-batch). Footers carry exact row
    * counts with the same zero-staleness property as their min/max
    * stats (they travel with the data files), and the pooled walk is
    * the same near-flat metadata cost the retire probe measured
    * (round-16 ingest probe, in git history: 0.46 s at 60 dirs →
    * 0.92 s at 600). Counts
    * only `<prefix>` partition directories, so maintenance staging
    * debris beside them never counts. */
  private[streaming] def footerRowCount(spark: SparkSession,
      treePath: String, prefix: String,
      partFilter: Long => Boolean = _ => true): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val hPath = new org.apache.hadoop.fs.Path(treePath)
    val fs = hPath.getFileSystem(conf)
    if (!fs.exists(hPath)) return 0L
    val parts = fs.listStatus(hPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      // partFilter bounds the count to the COMMITTED prefix for callers
      // that must exclude an in-flight dir (the training-slice
      // maintainer counts batches < batchId). A dir whose partition
      // value does not parse is ALWAYS counted — the pre-filter
      // behavior, and for bounded callers the conservative side (a
      // larger committed count can only shrink what they add)
      .filter(s => scala.util.Try(
        s.getPath.getName.stripPrefix(prefix).toLong).toOption
        .forall(partFilter))
      .map(_.getPath)
    if (parts.isEmpty) return 0L
    import scala.jdk.CollectionConverters._
    val tasks = parts.map { dir =>
      new java.util.concurrent.Callable[Long] {
        // sidecar first (row counts need no id column — any entry's
        // count is exact for the files it was committed with)
        def call(): Long = {
          val sidecar = scala.util.Try {
            val f = new org.apache.hadoop.fs.Path(dir,
              StatsSidecar.FileName)
            if (!fs.exists(f)) None
            else {
              val in = fs.open(f)
              val txt = try scala.io.Source.fromInputStream(in, "UTF-8")
                .mkString finally in.close()
              """"rows":(-?\d+)""".r.findFirstMatchIn(txt)
                .map(_.group(1).toLong)
            }
          }.toOption.flatten
          sidecar.getOrElse(parquetFiles(fs, dir).map { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(f, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }.sum)
        }
      }
    }
    footerPool.invokeAll(tasks.asJava).asScala.map(_.get()).sum
  }

  /** Every parquet file under `p`, recursively. */
  private def parquetFiles(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
    fs.listStatus(p).toSeq.flatMap { s =>
      if (s.isDirectory) parquetFiles(fs, s.getPath)
      else if (s.getPath.getName.endsWith(".parquet")) Seq(s.getPath)
      else Nil
    }

  /** Shared daemon pool for footer walks: the ingest guard runs one
    * walk per micro-batch and a queue drain one per tree — allocating
    * and tearing down a 32-thread pool per call would be continuous
    * thread churn under a tight trigger cadence (r16 review). Daemon
    * threads: the pool must never block JVM exit. */
  private lazy val footerPool = java.util.concurrent.Executors
    .newFixedThreadPool(32,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-footer-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })

  /** RETIRE ids from a committed per-batch tree: remove every row of
    * `ids` from every `batch_id=` partition of `treePath` — the
    * missing half of the `…FromIndexes` re-ingest contract ("retire
    * the old index row first", [[graft.dedup.Dedup]]) and the
    * right-to-erasure / re-crawl path a 100 TB ingest needs: document
    * deletions and re-crawls are routine, and hand-editing partition
    * trees would break the replay discipline the ingests are built
    * on. Works on ANY of the per-batch trees (signature / embedding /
    * survivor-doc / ANN-raw — the filter is shape-agnostic;
    * `partitionCols` keeps a sub-partitioned tree's inner layout, the
    * [[compactIndex]] contract).
    *
    * Semantics: INDEX and SURVIVOR state recompute forward — a
    * retired id is no longer in the committed index, so a later batch
    * re-sending that id passes the fresh-id guard and is scored like
    * any new arrival. PAIRS ARE HISTORY: the per-batch pair
    * partitions are an emitted report of what was observed at each
    * arrival, not a materialized view of the current index — retiring
    * an id does not rewrite them (callers wanting a live view filter
    * the report against the surviving id set: [[livePairs]]).
    *
    * Cost ([[retireRows]], shared with the serving-tree retire): footer
    * min/max stats bound the CANDIDATE partitions
    * ([[statsCandidateParts]] — metadata only, no job over the tree),
    * one column-pruned, exchange-free pass over them finds the
    * AFFECTED partitions (driver state ≤ #batches), and only those are
    * re-read, filtered and rewritten — untouched batches are not read,
    * not shuffled, not rewritten, and with disjoint id ranges not even
    * probed.
    *
    * Crash safety: filtered copies of every affected partition commit
    * through [[graft.operators.Sinks.commitPartitions]] (a fully-
    * retired batch stages as an EMPTY `batch_id=` dir plus its
    * sidecar, so it stays in the tree with no rows);
    * the tree's repair ([[graft.operators.Sinks.recoverSwap]], run on
    * entry here AND by every index load) finishes or undoes an
    * interrupted one. Like [[compactIndex]],
    * the call must not race an in-flight batch or another maintenance
    * op (run it from a quiesced window or between foreachBatch
    * invocations). */
  def retireIds(spark: SparkSession, treePath: String, ids: DataFrame,
      idCol: String, partitionCols: Seq[String] = Nil): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(treePath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the tree's one repair, which also finishes a capacity migration:
    // retireIds is the public quiesced-window erasure API — applied to
    // a tree whose migration committed but never promoted, the retire
    // would rewrite the SUPERSEDED live copy and the next entry's
    // roll-forward would promote the staged PRE-retire tree,
    // resurrecting erased ids (the r17 drain-side bug class at a
    // different entry point — r18 advice)
    Sinks.recoverSwap(spark, treePath)
    retireRows(spark, treePath, "batch_id", ids, idCol, partitionCols) {
      (next, affected) =>
        // a batch whose every row retired writes no partition dir — stage
        // an EMPTY one, so the batch keeps its dir (with no rows) instead
        // of being dropped by the commit
        affected.foreach { b =>
          val staged = new org.apache.hadoop.fs.Path(next, s"batch_id=$b")
          if (!fs.mkdirs(staged))
            throw new java.io.IOException(s"retire: cannot stage empty $staged")
        }
        // SIDECAR-MAINTAINED TREES STAY MAINTAINED: when any affected
        // live dir carries a stats sidecar (a compaction or migration
        // wrote one), the rewritten partitions stage fresh min/max/rows
        // sidecars WITH their data (promoting in the same renames —
        // atomic), blooms carried over from the live dirs (a retire only
        // removes rows, so the old filter stays a sound superset; no
        // bloom rebuild on the erasure critical path). A tree that never
        // had sidecars pays NO extra job here — except the free rows=0
        // entries for dirs this retire EMPTIED, which prune every future
        // probe of them without a single footer open.
        val anySidecar = affected.exists { b =>
          StatsSidecar.read(fs,
            new org.apache.hadoop.fs.Path(hPath, s"batch_id=$b"), idCol)
            .isDefined
        }
        if (anySidecar)
          StatsSidecar.writeForTree(spark, next.toString, "batch_id=",
            idCol, bloomFrom = Some(treePath))
        else affected.foreach { b =>
          val staged = new org.apache.hadoop.fs.Path(next, s"batch_id=$b")
          if (!Sinks.hasDataFile(fs, staged))
            StatsSidecar.writeEmpty(spark, staged.toString, idCol)
        }
    }
  }

  /** The retire shared by [[retireIds]] and [[AnnStream.retireIds]],
    * after the caller's repair, over a tree partitioned by `pcol` (then
    * `partitionCols`). A requester-sized integral id set
    * ([[statsCandidateParts]]) stays on the driver: footer stats bound
    * the candidate partitions, one exchange-free job over them collects
    * the AFFECTED partitions (≤ the partition count), and their rewrite
    * filters by membership, keeping null ids as `left_anti` does. Other
    * id sets take the semi- and anti-join. `stage` completes the staged
    * copy of the affected partitions before the commit, which drops an
    * affected partition that has no staged copy. */
  private[streaming] def retireRows(spark: SparkSession, treePath: String,
      pcol: String, ids: DataFrame, idCol: String,
      partitionCols: Seq[String])(
      stage: (org.apache.hadoop.fs.Path, Seq[Long]) => Unit): Unit = {
    val schema = Sinks.treeSchema(spark, treePath).getOrElse(return)
    val probe = statsCandidateParts(spark, treePath, s"$pcol=", ids, idCol)
    if (probe.exists(_._2.exists(_.isEmpty))) return // provably no row to retire
    // candidates read by EXPLICIT partition paths (basePath keeps the
    // partition column): the scan's own file listing is then
    // O(candidate dirs), not O(tree dirs)
    val tree = probe.flatMap(_._2) match {
      case None => spark.read.schema(schema).parquet(treePath)
      case Some(c) => spark.read.schema(schema).option("basePath", treePath)
        .parquet(c.map(n => s"$treePath/$pcol=$n"): _*)
    }
    val retire = if (probe.isEmpty) Some(ids.select(col(idCol)).distinct().cache())
      else None
    try {
      val (hits, kept) = probe match {
        case Some((sorted, _)) =>
          // false for a null id, so `kept` keeps null-id rows
          val in = graft.functions.SetFunctions.arrayAnyInLongSet(
            array(col(idCol).cast(LongType)), sorted)
          (tree.filter(in), tree.filter(!in))
        case None => (tree.join(retire.get, Seq(idCol), "left_semi"),
          tree.join(retire.get, Seq(idCol), "left_anti"))
      }
      val affected = DriverFold.distinctLongs(hits.select(col(pcol).cast(LongType)))
        .sorted.toSeq
      if (affected.isEmpty) return
      val next = new org.apache.hadoop.fs.Path(Sinks.partitionStage(treePath))
      kept.filter(col(pcol).isin(affected: _*))
        .repartition((pcol +: partitionCols).map(col): _*)
        .write.mode(SaveMode.Overwrite)
        .partitionBy(pcol +: partitionCols: _*)
        .parquet(next.toString)
      stage(next, affected)
      Sinks.commitPartitions(spark, treePath, affected.map(b => s"$pcol=$b"))
    } finally retire.foreach(_.unpersist())
  }

  /** Drain a RETIRE-REQUEST QUEUE: apply every pending request file
    * under `queueDir` (parquet, each holding an `idCol` column of ids
    * to retire) to every tree in `trees` (path → its partitionCols),
    * then move the processed files into `queueDir/_done`. This is the
    * continuous-operations form of [[retireIds]]: at 100 TB deletion
    * requests and re-crawl notices arrive all the time, and requiring
    * a quiesced maintenance window per request would stall the
    * ingest — instead requesters drop id files in the queue and the
    * ingest drains it at a safe point (between micro-batches, where
    * [[retireIds]]' no-concurrent-batch contract holds by
    * construction — the same reasoning as [[maybeCompact]]).
    *
    * LANDING CONTRACT: requesters must STAGE the file outside
    * `queueDir` and RENAME it in (rename is atomic on every
    * filesystem this targets), under a name that is never reused — a
    * requester writing in place can be listed half-written. The drain
    * defends against violations anyway: a pending file whose parquet
    * footer does not read (torn write) is SKIPPED this drain and
    * retried on the next (an in-place writer that eventually finishes
    * gets applied then; a permanently corrupt file costs one footer
    * probe per drain until an operator removes it); a READABLE file
    * whose schema lacks `idCol` quarantines under `queueDir/_bad`
    * (it can never self-heal — the misdirected request surfaces where
    * an operator can see it instead of being silently re-skipped
    * forever); and archiving into `_done` overwrites a same-named
    * leftover instead of throwing (a reused name means a replayed
    * request — already applied, idempotent).
    *
    * Crash safety: [[retireIds]] is idempotent (a retire removes
    * nothing twice) and the file move into `_done` happens only AFTER
    * every tree processed the request — a crash anywhere replays the
    * drain against already-retired trees (no-op) and then completes
    * the move. The pending list is snapshotted once per drain;
    * requests landing mid-drain wait for the next one. Returns the
    * number of request files applied. */
  def drainRetireQueue(spark: SparkSession, queueDir: String,
      trees: Seq[(String, Seq[String])], idCol: String): Int =
    drainQueue(spark, queueDir, idCol) { ids =>
      trees.foreach { case (tree, pcols) =>
        retireIds(spark, tree, ids, idCol, pcols)
      }
    }

  /** The list → validate → apply → archive core of
    * [[drainRetireQueue]], with the apply step pluggable so
    * [[AnnStream.drainRetireQueue]] can retire from published/coded
    * cell trees in the SAME drain (one pending snapshot, one archive —
    * a request never half-applies across tree kinds on a clean run,
    * and a crash replays all of them idempotently). */
  private[streaming] def drainQueue(spark: SparkSession, queueDir: String,
      idCol: String)(apply: DataFrame => Unit): Int = {
    val qPath = new org.apache.hadoop.fs.Path(queueDir)
    val fs = qPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(qPath)) return 0
    // readability probe: one driver-side footer read per file. A TORN
    // file (no readable footer — an in-place write in flight) is left
    // pending and retried next drain; a READABLE file whose schema
    // lacks `idCol` can never self-heal, so it quarantines under
    // `_bad` (move, collision-tolerant) instead of being silently
    // re-skipped forever — the requester finds its dropped request
    // where an operator can see it.
    val probed = fs.listStatus(qPath).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => s.getPath -> scala.util.Try(
        Sinks.fileSchema(spark, s).find(_.name == idCol)))
    archive(fs, new org.apache.hadoop.fs.Path(qPath, "_bad"),
      probed.collect { case (p, scala.util.Success(None)) => p })
    val pending = probed
      .collect { case (p, scala.util.Success(Some(f))) => (p, f) }
    if (pending.isEmpty) return 0
    // the first request's id column types the read, as inference would
    apply(spark.read.schema(StructType(Seq(pending.head._2)))
      .parquet(pending.map(_._1.toString): _*))
    archive(fs, new org.apache.hadoop.fs.Path(qPath, "_done"),
      pending.map(_._1))
    pending.size
  }

  /** Move queue `files` into `dir`, created when missing; a same-named
    * file already there is replaced (a reused name is a replayed
    * request, already applied). */
  private[streaming] def archive(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      files: Seq[org.apache.hadoop.fs.Path]): Unit = if (files.nonEmpty) {
    if (!fs.exists(dir) && !fs.mkdirs(dir))
      throw new java.io.IOException(s"retire queue: cannot create $dir")
    files.foreach { p =>
      val tgt = new org.apache.hadoop.fs.Path(dir, p.getName)
      if (fs.exists(tgt) && !fs.delete(tgt, false))
        throw new java.io.IOException(s"retire queue: cannot replace $tgt")
      if (!fs.rename(p, tgt))
        throw new java.io.IOException(s"retire queue: cannot move $p to $dir")
    }
  }

  /** LIVE view of a pairs report: drop every pair that references a
    * retired id. PAIRS ARE HISTORY ([[retireIds]]) — the per-batch
    * pair partitions record what was observed at each arrival and are
    * never rewritten by retirement; this is the documented "filter
    * the report against the surviving id set" made into an API. A
    * pair is live iff NEITHER endpoint is in `retired` (a pair whose
    * other member was withdrawn no longer states a relation about
    * anything in the corpus). Two broadcast-able anti-joins — the
    * report never shuffles. */
  def livePairs(pairs: DataFrame, retired: DataFrame, idCol: String,
      aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    val r = retired.select(col(idCol)).distinct()
    pairs
      .join(r.select(col(idCol).as(aCol)), Seq(aCol), "left_anti")
      .join(r.select(col(idCol).as(bCol)), Seq(bCol), "left_anti")
  }

  /** [[livePairs]] with the retired set read from a retire QUEUE's
    * archive: [[drainRetireQueue]] moves a request file into
    * `queueDir/_done` only after every tree applied it, so the union
    * of the archived files IS the set of ids withdrawn so far — the
    * caller does not have to keep its own ledger. Nothing archived
    * yet (or no queue dir): the whole report is live. Schema note:
    * this overload takes the report's schema from its files — a
    * pairs tree whose every batch partition is EMPTY (no pair ever
    * observed) has nothing to take it from; read such a tree with an
    * explicit schema (the d17/d18 discipline) and use the
    * frame-argument overload. */
  def livePairs(spark: SparkSession, pairsPath: String, queueDir: String,
      idCol: String, aCol: String, bCol: String): DataFrame = {
    val pairs = Sinks.readTree(spark, pairsPath).getOrElse(
      throw new IllegalArgumentException(s"livePairs: no pair file under " +
        s"$pairsPath — read it with an explicit schema and pass the frame"))
    val done = new org.apache.hadoop.fs.Path(queueDir, "_done")
    val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val archived =
      if (fs.exists(done))
        fs.listStatus(done).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      else Nil
    if (archived.isEmpty) pairs
    else livePairs(pairs,
      spark.read.schema(Sinks.fileSchema(spark, archived.head))
        .parquet(archived.map(_.getPath.toString): _*),
      idCol, aCol, bCol)
  }

  /** The committed tree at `path` as seen by batch `batchId`: the rows
    * of all PRIOR batches, in the declared `schema` (data columns, then
    * `batch_id`). A partial `batch_id=batchId` dir left by a crashed
    * attempt is excluded — it is this attempt's output, about to be
    * overwritten. The schema is EXPLICIT: a crashed batch-0 attempt can
    * leave the dir existing with zero committed data files, which has
    * no schema to read — with the schema given, an empty tree reads as
    * an empty frame and the replay proceeds. The id field takes the
    * CALLER's id type (string ids are supported everywhere else in the
    * dedup framework, so the bootstrap batch must not coerce them). */
  private def priorBatches(spark: SparkSession, path: String,
      schema: StructType, batchId: Long): DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Sinks.recoverSwap(spark, path) // every-load repair
    val data = StructType(schema.filter(_.name != "batch_id"))
    if (fs.exists(hPath))
      spark.read.schema(schema).parquet(path)
        .filter(col("batch_id") < batchId)
        .select(data.fieldNames.map(col).toIndexedSeq: _*)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), data)
  }

  /** The committed MinHash signature index: (idCol, shh, sig). */
  private def loadIndex(spark: SparkSession, path: String, idCol: String,
      idType: DataType, batchId: Long): DataFrame =
    priorBatches(spark, path, StructType(Seq(StructField(idCol, idType),
      StructField("shh", ArrayType(LongType)),
      StructField("sig", ArrayType(LongType)),
      StructField("batch_id", LongType))), batchId)

  /** One micro-batch of the ingest — exposed for direct (batch-mode)
    * use and testing. */
  def processBatch(batch: DataFrame, batchId: Long, indexPath: String,
      pairsPath: String, survivorsPath: String, idCol: String,
      textCol: String, n: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.5): Unit = {
    val spark = batch.sparkSession
    // every per-batch cache is registered here and released in the
    // finally below — a failed batch (including a failed concurrent
    // write) must not leave its frames pinned across foreachBatch's
    // retry, or the retry accumulates O(attempts) cached copies
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def pin(df: DataFrame): DataFrame = { cached += df; df.cache() }
    try {
      val index = pin(loadIndex(spark, indexPath, idCol,
        batch.schema(idCol).dataType, batchId))
      // ingest contract: ids identify documents — a doc re-sent under
      // an already-indexed id (across OR within a batch) is the same
      // document, not a new one (within-batch dropDuplicates is
      // deterministic under the same-id-same-payload contract)
      val fresh = pin(batch.dropDuplicates(idCol)
        .join(index.select(col(idCol)), Seq(idCol), "left_anti"))
      val newIdx = pin(Dedup.minhashIndex(fresh, idCol, textCol, n, k))
      val pairs = pin(Dedup
        .minhashLshPairsFromIndexes(index, newIdx, idCol, k, bands, threshold))

      // resolve survivors over the batch-touching pair graph: the
      // graph's nodes are the batch plus only the indexed docs that
      // appear in a pair (never the whole index). The driver fast
      // path resolves the WHOLE rule inside the one bounded action
      // that fetches the pair graph (this resolver sits inside every
      // streamed batch, where per-batch cost is fixed job count), and
      // hands back the LOSER set — bounded by the ids appearing in
      // pairs, ≤ 2·driverPairLimit — so the survivor writes become
      // broadcast anti-joins over the cached batch. Past the limit
      // (or for non-integral ids) the distributed rule runs.
      val (survDocs, survIdx) = driverLosers(fresh, pairs, idCol) match {
        case Some(losers) =>
          val l = broadcast(losers)
          (fresh.join(l, Seq(idCol), "left_anti"),
            newIdx.join(l, Seq(idCol), "left_anti"))
        case None =>
          val newIds = fresh.select(col(idCol))
          val touchedOld = pairs.select(col("a_id").as(idCol))
            .unionByName(pairs.select(col("b_id").as(idCol)))
            .distinct()
            .join(newIds, Seq(idCol), "left_anti")
          val nodes = newIds.withColumn("is_new", lit(true))
            .unionByName(touchedOld.withColumn("is_new", lit(false)))
          val roots = Dedup.duplicateClusters(nodes, idCol, pairs)
            .join(nodes, col("id") === col(idCol))
            .select("id", "root", "is_new")
          // Survivor rule as ONE per-root aggregation (a cluster with
          // any indexed member keeps the indexed representative — the
          // whole batch side drops; an only-new cluster keeps its
          // minimum id), so no window functions run over the node
          // frame. Cached + materialized ONCE: both per-batch outputs
          // semi-join against this frame, and the distributed
          // resolution chain must not run once per write.
          val survivorIds = pin(roots
            .groupBy("root")
            .agg(max(when(!col("is_new"), 1).otherwise(0)).as("has_old"),
              min(when(col("is_new"), col("id"))).as("min_new"))
            .filter(col("has_old") === 0)
            .select(col("min_new").as(idCol)))
          survivorIds.count()
          (fresh.join(survivorIds, Seq(idCol), "left_semi"),
            newIdx.join(survivorIds, Seq(idCol), "left_semi"))
      }

      // per-batch output dirs: every write is an idempotent overwrite of
      // a deterministic function of the committed prefix, with NO
      // ordering requirement among the three (a replay recomputes all)
      // — so they run CONCURRENTLY and the batch pays the slowest
      // write's wall, not the sum. The shared caches (index, fresh,
      // newIdx, pairs) were all materialized by the resolution step —
      // whenever the driver probe stays under its limit it has scanned
      // every pairs partition (and everything upstream), and the
      // distributed path counts — so the writes read computed caches
      // instead of racing to build them.
      concurrently(
        () => pairs.write.mode(SaveMode.Overwrite)
          .parquet(s"$pairsPath/batch_id=$batchId"),
        () => survDocs.write.mode(SaveMode.Overwrite)
          .parquet(s"$survivorsPath/batch_id=$batchId"),
        () => survIdx.write.mode(SaveMode.Overwrite)
          .parquet(s"$indexPath/batch_id=$batchId"))
    } finally cached.foreach(_.unpersist())
  }

  /** Driver fast path of the per-batch survivor rule: ONE bounded
    * action fetches the batch-touching pair graph WITH endpoint
    * novelty flags (an endpoint is "new" iff it is in `fresh` — the
    * flags ride along in the same scan, so no extra job), union-find
    * and the keep-indexed-representative / min-new-id rule run on the
    * driver, and the result is the LOSER set: the new ids that do NOT
    * survive their cluster. Driver state is bounded exactly like
    * [[graft.dedup.Dedup.duplicateClusters]]'s probe — ≤
    * `driverPairLimit`+1 pair rows, losers ≤ 2·limit ids, never the
    * batch or the corpus. Returns None past the limit or for
    * non-integral ids (callers fall back to the distributed rule).
    *
    * Semantics are bit-identical to the distributed aggregation: a
    * cluster with any indexed member drops its whole batch side; an
    * only-new cluster keeps its minimum id; batch docs in no pair are
    * singleton clusters and never lose. The probe's `limit` is sound
    * for the same reason the resolver's always was: under the limit,
    * Spark had to scan every pairs partition to know no more rows
    * exist — which also materializes every pinned cache upstream. */
  private def driverLosers(fresh: DataFrame, pairs: DataFrame,
      idCol: String, driverPairLimit: Int = 2000000): Option[DataFrame] = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    fresh.schema(idCol).dataType match {
      case LongType | IntegerType => ()
      case _ => return None
    }
    val newA = fresh.select(col(idCol).as("a_id"), lit(true).as("a_new"))
    val newB = fresh.select(col(idCol).as("b_id"), lit(true).as("b_new"))
    val probe = pairs
      .join(newA, Seq("a_id"), "left")
      .join(newB, Seq("b_id"), "left")
      .select(col("a_id").cast(LongType), col("b_id").cast(LongType),
        coalesce(col("a_new"), lit(false)),
        coalesce(col("b_new"), lit(false)))
      .limit(driverPairLimit + 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getBoolean(3)))
    if (probe.length > driverPairLimit) return None
    val uf = new Dedup.MinRootUnionFind
    val isNew = scala.collection.mutable.Map.empty[Long, Boolean]
    probe.foreach { case (a, b, an, bn) =>
      isNew(a) = an; isNew(b) = bn
      uf.union(a, b)
    }
    val nodes = isNew.keys.toArray
    val hasOld = scala.collection.mutable.Set.empty[Long]
    nodes.foreach(x => if (!isNew(x)) hasOld += uf.find(x))
    val minNew = scala.collection.mutable.Map.empty[Long, Long]
    nodes.foreach { x =>
      if (isNew(x)) {
        val r = uf.find(x)
        if (minNew.get(r).forall(_ > x)) minNew(r) = x
      }
    }
    val losers = nodes.filter { x =>
      isNew(x) && { val r = uf.find(x); hasOld(r) || minNew(r) != x }
    }
    val spark = fresh.sparkSession
    import spark.implicits._
    Some(losers.toSeq.toDF(idCol)
      .select(col(idCol).cast(fresh.schema(idCol).dataType)))
  }

  /** Run independent per-batch writes concurrently: each is an
    * idempotent per-batch overwrite with no ordering requirement (a
    * crash anywhere leaves a replay that recomputes and overwrites
    * them all), so the batch pays the SLOWEST write's wall instead of
    * the sum. Callers materialize shared cached inputs first (one
    * count) so the concurrent jobs read computed caches instead of
    * racing to build them. Failures propagate only after EVERY write
    * has completed or failed: awaiting sequentially and rethrowing on
    * the first failure would hand control back to the caller (and to
    * foreachBatch's retry) while sibling writes were still running —
    * two writers racing one per-batch output dir. Sibling failures
    * attach as suppressed exceptions. */
  private def concurrently(writes: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val settled = writes.map(w => Future(w()))
      .map(f => scala.util.Try(Await.result(f, Duration.Inf)))
    val failures = settled.collect { case scala.util.Failure(e) => e }
    failures.headOption.foreach { first =>
      failures.drop(1).foreach(first.addSuppressed)
      throw first
    }
  }

  /** The in-stream compaction cadence shared by every ingest entry
    * point: after batch N commits its writes, fold the index prefix
    * `batch_id <= N-1`. Inside foreachBatch the prior prefix is
    * quiescent BY CONSTRUCTION (no concurrent batch), satisfying
    * [[compactIndex]]'s contract with no coordination; and the bound
    * is N-1, NOT N, so a crash between compaction and the stream's
    * checkpoint commit replays batch N against a tree whose
    * `batch_id < N` read still selects the full committed prefix
    * (the folded `batch_id=N-1` dir) — folding N itself would hide
    * the fold from its own replay. */
  private def maybeCompact(spark: SparkSession, indexPath: String,
      batchId: Long, compactEvery: Option[Int],
      partitionCols: Seq[String] = Nil,
      idCol: Option[String] = None): Unit =
    compactEvery.filter(n => batchId > 0 && batchId % n == 0)
      .foreach(_ => compactIndex(spark, indexPath, batchId - 1,
        partitionCols, idCol))

  /** The ONE foreachBatch preamble/postamble every shipped streaming
    * wrapper runs — built as a combinator so the invariants are
    * STRUCTURAL instead of hand-repeated per wrapper (r15 verdict #4:
    * five wrappers each re-typed restoreAqe + drain + process +
    * compact, so a sixth could forget the AQE restore):
    *
    *  1. [[restoreAqe]] — gated on the PARENT (non-clone) session's
    *    `spark.sql.adaptive.enabled`, captured HERE at stream-build
    *    time (this runs on the parent, before Structured Streaming
    *    clones the session and disables AQE on the clone): a user who
    *    deliberately disabled AQE globally keeps it disabled in the
    *    body too (r15 advice — the restore undoes the streaming
    *    clone's forced disable, never the user's choice);
    *  2. drain the retire queue, if configured (BEFORE the batch —
    *    [[retireIds]]' no-concurrent-batch contract holds by
    *    construction between micro-batches);
    *  3. the wrapper's batch processor;
    *  4. [[maybeCompact]] the committed index prefix, if configured
    *    (AFTER the batch commits its writes — the N-1 bound rule).
    *
    * Returns the `(batch, batchId) => Unit` body for `foreachBatch`.
    * DedupStreamSpec's adaptive-plan spec pins this helper itself, so
    * every wrapper built through it inherits the pinned behavior. */
  private[streaming] def ingestBody(parent: SparkSession,
      retireQueue: Option[String] = None,
      drain: (SparkSession, String) => Unit = (_, _) => (),
      compactPath: Option[String] = None,
      compactEvery: Option[Int] = None,
      compactPartitionCols: Seq[String] = Nil,
      compactIdCol: Option[String] = None)
      (process: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    val parentAqe = java.lang.Boolean.parseBoolean(
      parent.conf.get("spark.sql.adaptive.enabled", "true"))
    (batch: DataFrame, batchId: Long) => {
      restoreAqe(batch, parentAqe)
      retireQueue.foreach(q => drain(batch.sparkSession, q))
      process(batch, batchId)
      compactPath.foreach(p => maybeCompact(batch.sparkSession, p, batchId,
        compactEvery, compactPartitionCols, compactIdCol))
    }
  }

  /** Run the ingest as a stream over parquet document files landing in
    * `docsDir`. Returns the running query (caller stops).
    * `compactEvery = Some(n)` folds the committed index prefix every n
    * batches ([[maybeCompact]]) — the small-files cadence for a
    * long-running ingest. `retireQueue = Some(dir)` drains pending
    * retire-request files from `dir` BEFORE each batch
    * ([[drainRetireQueue]] over the index AND survivor trees), so a
    * deletion request followed by a re-crawl of the same id in the
    * next arrival behaves like d20's retire-then-re-ingest without
    * ever stopping the stream. */
  def dedupIngest(spark: SparkSession, docsDir: String, schema: StructType,
      indexPath: String, pairsPath: String, survivorsPath: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, maxFilesPerTrigger: Int = 8,
      compactEvery: Option[Int] = None,
      retireQueue: Option[String] = None): StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(docsDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(ingestBody(spark, retireQueue,
        (s, q) => drainRetireQueue(s, q,
          Seq(indexPath -> Nil, survivorsPath -> Nil), idCol),
        Some(indexPath), compactEvery,
        compactIdCol = Some(idCol)) { (batch, batchId) =>
        processBatch(batch, batchId, indexPath, pairsPath, survivorsPath,
          idCol, textCol, n, k, bands, threshold)
      })
      .start()

  /** One micro-batch of the CONTAINMENT ingest — the quote/inclusion
    * REPORT run at ingest time: the batch is scored against the
    * committed signature index with
    * [[Dedup.minhashContainmentPairsFromIndexes]] (directed pairs
    * touching the batch, exact-verified after band blocking), the
    * pairs land in a per-batch partition, and the batch's signatures
    * join the index UNFILTERED — containment is a report, not a
    * survivor rule, so every document stays probe-able by later
    * arrivals (a future doc can contain, or sit inside, any prior
    * one).
    *
    * The accumulated pair set is BATCH-SPLIT-INVARIANT: an unordered
    * pair is emitted exactly once — in the batch where its later
    * member arrives (same-batch pairs once, by the candidate join's
    * id ordering) — and the band collisions that gate candidacy are
    * computed from per-document signatures that do not depend on
    * batching. So the union over any micro-batch partitioning of the
    * corpus equals [[Dedup.minhashContainmentPairs]] run once over
    * the whole corpus, which is what lets a driver query verify the
    * streamed ingest against the BATCH oracle.
    *
    * Crash safety as [[processBatch]]: every write is a per-batch
    * overwrite of a deterministic function of the committed prefix. */
  def processContainmentBatch(batch: DataFrame, batchId: Long,
      indexPath: String, pairsPath: String, idCol: String,
      textCol: String, n: Int = 3, k: Int = 64, bands: Int = 32,
      threshold: Double = 0.8,
      maxBucketSize: Option[Int] = None): Unit = {
    val spark = batch.sparkSession
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def pin(df: DataFrame): DataFrame = { cached += df; df.cache() }
    try {
      val index = pin(loadIndex(spark, indexPath, idCol,
        batch.schema(idCol).dataType, batchId))
      // ingest contract: ids identify documents — a doc re-sent under
      // an already-indexed id (across OR within a batch) is the same
      // document, not a new one (within-batch dropDuplicates is
      // deterministic under the same-id-same-payload contract)
      val fresh = pin(batch.dropDuplicates(idCol)
        .join(index.select(col(idCol)), Seq(idCol), "left_anti"))
      val newIdx = pin(Dedup.minhashIndex(fresh, idCol, textCol, n, k))
      val pairs = Dedup.minhashContainmentPairsFromIndexes(index, newIdx,
        idCol, k, bands, threshold, maxBucketSize)
      newIdx.count() // materialize the shared caches once (see concurrently)
      concurrently(
        () => pairs.write.mode(SaveMode.Overwrite)
          .parquet(s"$pairsPath/batch_id=$batchId"),
        () => newIdx.write.mode(SaveMode.Overwrite)
          .parquet(s"$indexPath/batch_id=$batchId"))
    } finally cached.foreach(_.unpersist())
  }

  /** One micro-batch of the 64-bit-SIGNATURE ingest — the generic
    * chunk-collision near-dup monitor (SimHash text signatures,
    * perceptual image hashes — any 64-bit fingerprint) run at ingest
    * time: the batch's signatures are scored against the committed
    * signature index with [[Dedup.hammingPairsFromIndexes]] (pairs
    * touching the batch, exact `bit_count(xor)` verify after chunk
    * blocking), the pairs land in a per-batch partition, and the
    * batch's signatures join the index. The expensive part of an
    * image corpus — decode + hash — runs ONCE, in the arrival batch
    * (the caller's `toSignatures` stage); the stored index is 16
    * bytes a row. Batch-split invariance and crash safety exactly as
    * [[processContainmentBatch]]. */
  def processSignatureBatch(sigs: DataFrame, batchId: Long,
      indexPath: String, pairsPath: String, idCol: String,
      sigCol: String, maxHamming: Int = 3,
      maxBucketSize: Option[Int] = None): Unit = {
    val spark = sigs.sparkSession
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def pin(df: DataFrame): DataFrame = { cached += df; df.cache() }
    try {
      // the committed signature index: (idCol, sig)
      val index = pin(priorBatches(spark, indexPath, StructType(Seq(
        StructField(idCol, sigs.schema(idCol).dataType),
        StructField("sig", LongType),
        StructField("batch_id", LongType))), batchId))
      // ingest contract: ids identify media — re-sent ids (across or
      // within a batch) are not new items
      val fresh = pin(sigs.dropDuplicates(idCol)
        .join(index.select(col(idCol)), Seq(idCol), "left_anti")
        .select(col(idCol), col(sigCol).as("sig")))
      val pairs = Dedup.hammingPairsFromIndexes(index, fresh, idCol, "sig",
        maxHamming, maxBucketSize)
      fresh.count() // materialize the shared caches once (see concurrently)
      concurrently(
        () => pairs.write.mode(SaveMode.Overwrite)
          .parquet(s"$pairsPath/batch_id=$batchId"),
        () => fresh.write.mode(SaveMode.Overwrite)
          .parquet(s"$indexPath/batch_id=$batchId"))
    } finally cached.foreach(_.unpersist())
  }

  /** One micro-batch of the EMBEDDING near-dup ingest — the fourth
    * dedup family's ingest-time path (MinHash → [[processBatch]],
    * containment → [[processContainmentBatch]], 64-bit signatures →
    * [[processSignatureBatch]]; this one is d05/d12's cosine relation
    * over a block key): the batch's vectors get their block key from
    * the caller's `blockOf` column function (which must be a PURE
    * per-row function of the vector), near-dup pairs
    * touching the batch come from
    * [[Dedup.embeddingNearDupPairsFromIndexes]] against the committed
    * `(id, vec, block)` index (block join's right side = the batch),
    * pairs land in a per-batch partition, and the batch's rows join
    * the index. Because the block key is a pure function of the
    * vector, the accumulated pair set is BATCH-SPLIT-INVARIANT (a row
    * lives in one block; a pair emits once, where its later member
    * arrives) — the union over any arrival split equals the one-shot
    * intra-block self-join, which is what the driver oracle checks.
    * Crash safety exactly as [[processBatch]]: per-batch overwrites
    * of deterministic functions of the committed prefix. */
  def processEmbeddingBatch(batch: DataFrame, batchId: Long,
      indexPath: String, pairsPath: String, idCol: String, vecCol: String,
      blockOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      threshold: Double): Unit = {
    val spark = batch.sparkSession
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def pin(df: DataFrame): DataFrame = { cached += df; df.cache() }
    try {
      // the committed embedding index: (idCol, vecCol, block)
      val index = pin(priorBatches(spark, indexPath, StructType(Seq(
        StructField(idCol, batch.schema(idCol).dataType),
        StructField(vecCol, batch.schema(vecCol).dataType),
        StructField("block", LongType), StructField("batch_id", LongType))),
        batchId))
      // ingest contract: ids identify vectors — re-sent ids (across or
      // within a batch) are not new items
      val fresh = pin(batch.dropDuplicates(idCol)
        .join(index.select(col(idCol)), Seq(idCol), "left_anti")
        .select(col(idCol), col(vecCol), blockOf(col(vecCol)).as("block")))
      val pairs = Dedup.embeddingNearDupPairsFromIndexes(index, fresh,
        idCol, vecCol, "block", threshold)
      fresh.count() // materialize the shared caches once (see concurrently)
      concurrently(
        () => pairs.write.mode(SaveMode.Overwrite)
          .parquet(s"$pairsPath/batch_id=$batchId"),
        () => fresh.write.mode(SaveMode.Overwrite)
          .parquet(s"$indexPath/batch_id=$batchId"))
    } finally cached.foreach(_.unpersist())
  }

  /** Run the embedding near-dup monitor as a stream over parquet
    * files landing in `srcDir`. Returns the running query (caller
    * stops). */
  def embeddingIngest(spark: SparkSession, srcDir: String,
      schema: StructType, indexPath: String, pairsPath: String,
      checkpointDir: String, idCol: String, vecCol: String,
      blockOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      threshold: Double, maxFilesPerTrigger: Int = 1,
      compactEvery: Option[Int] = None,
      retireQueue: Option[String] = None): StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(ingestBody(spark, retireQueue,
        (s, q) => drainRetireQueue(s, q, Seq(indexPath -> Nil), idCol),
        Some(indexPath), compactEvery,
        compactIdCol = Some(idCol)) { (batch, batchId) =>
        processEmbeddingBatch(batch, batchId, indexPath, pairsPath,
          idCol, vecCol, blockOf, threshold)
      })
      .start()

  /** Run the signature near-dup monitor as a stream over parquet
    * files landing in `srcDir`: each micro-batch goes through the
    * caller's `toSignatures` stage (e.g. decode + perceptual hash for
    * images, SimHash for text) and then [[processSignatureBatch]].
    * Returns the running query (caller stops). */
  def signatureIngest(spark: SparkSession, srcDir: String,
      schema: StructType, indexPath: String, pairsPath: String,
      checkpointDir: String, idCol: String, sigCol: String,
      maxHamming: Int = 3, maxFilesPerTrigger: Int = 1,
      maxBucketSize: Option[Int] = None,
      compactEvery: Option[Int] = None,
      retireQueue: Option[String] = None)
      (toSignatures: DataFrame => DataFrame): StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(ingestBody(spark, retireQueue,
        (s, q) => drainRetireQueue(s, q, Seq(indexPath -> Nil), idCol),
        Some(indexPath), compactEvery,
        compactIdCol = Some(idCol)) { (batch, batchId) =>
        processSignatureBatch(toSignatures(batch), batchId, indexPath,
          pairsPath, idCol, sigCol, maxHamming, maxBucketSize)
      })
      .start()

  /** Re-enable ADAPTIVE execution for the batch plans a foreachBatch
    * body runs. Structured Streaming's ResolveWriteToStream disables
    * AQE on the streaming query's SESSION CLONE (runtime re-planning
    * cannot apply to an incremental streaming plan) — but the clone is
    * also the session every frame built inside foreachBatch executes
    * under, so without this the ingest's per-batch BATCH queries (the
    * pair joins, survivor resolution, index writes) lose partition
    * coalescing and run every tiny shuffle at the full
    * spark.sql.shuffle.partitions width: at micro-batch sizes that is
    * pure task-scheduling overhead (measured: 32-task stages over
    * row counts in the hundreds), and at cluster scale it is the
    * difference between AQE sizing the ingest's shuffles and a fixed
    * width chosen for the corpus. The streaming plan itself stays
    * safe: stateful operators pin their shuffle width through the
    * checkpointed shuffle-partition count and their required
    * distributions (which adaptive planning must respect), and the
    * evidence gate is empirical — the stateful streaming twins
    * (q19/q20/q31/q56/q57, c25) hash-match their oracles at all three
    * scale factors with this restore in place, and a spec pins that
    * body plans (plain and cached) actually compile adaptive.
    *
    * `parentAdaptive` gates the restore on the PARENT session's own
    * setting (r15 advice): the restore exists to undo the streaming
    * clone's forced disable, not to override a user who deliberately
    * turned AQE off globally — shipped wrappers capture the parent's
    * value at stream-build time through [[ingestBody]]; the `true`
    * default serves direct callers (ParityQueries' foreachBatch body)
    * where the parent is known to run the engine default. */
  private[graft] def restoreAqe(batch: DataFrame,
      parentAdaptive: Boolean = true): Unit = {
    if (!parentAdaptive) return
    val conf = batch.sparkSession.conf
    conf.set("spark.sql.adaptive.enabled", "true")
    // cached-plan AQE, on the STREAMING CLONE ONLY: the ingests pin
    // their per-batch frames, and with the default (false) every
    // cache-materialization shuffle runs at the full
    // shuffle-partition width even for a few-hundred-row batch. The
    // conf stays at its default for BATCH sessions — there the
    // stable-output-partitioning default protects cache reuse on
    // corpus-sized frames (measured: forcing it globally tripled the
    // d15b recall gate's wall), while a streamed batch's caches are
    // batch-sized and discarded per trigger, so coalescing is pure
    // win.
    conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      "true")
  }

  /** Run the containment report as a stream over parquet document
    * files landing in `docsDir`. Returns the running query (caller
    * stops). */
  def containmentIngest(spark: SparkSession, docsDir: String,
      schema: StructType, indexPath: String, pairsPath: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, k: Int = 64, bands: Int = 32,
      threshold: Double = 0.8, maxFilesPerTrigger: Int = 1,
      maxBucketSize: Option[Int] = None,
      compactEvery: Option[Int] = None,
      retireQueue: Option[String] = None): StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(docsDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(ingestBody(spark, retireQueue,
        (s, q) => drainRetireQueue(s, q, Seq(indexPath -> Nil), idCol),
        Some(indexPath), compactEvery,
        compactIdCol = Some(idCol)) { (batch, batchId) =>
        processContainmentBatch(batch, batchId, indexPath, pairsPath,
          idCol, textCol, n, k, bands, threshold, maxBucketSize)
      })
      .start()
}
