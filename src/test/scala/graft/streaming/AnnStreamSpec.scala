package graft.streaming

import graft.{FaultFs, SparkSpec}
import graft.core.Tables
import graft.similarity.Ann
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

class AnnStreamSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$name").toString

  private def emb = Tables.embeddings(spark, sf)
    .select("vec_id", "embedding")

  /** Run the ingest with slice i landing as batch i. */
  private def ingest(slices: Int): (String, String) = {
    val vecsDir = tmp("as_vecs"); val indexPath = tmp("as_idx") + "/index"
    val centroidsPath = tmp("as_cen") + "/centroids"
    val ckpt = tmp("as_ckpt")
    val e = emb
    val write = (i: Int) => e.filter(pmod($"vec_id", lit(slices)) === i)
      .coalesce(1).write.mode("append").parquet(vecsDir)
    write(0)
    val q = AnnStream.ivfIngest(spark, vecsDir, e.schema, indexPath,
      centroidsPath, ckpt, dim = 64, cells = 8, iters = 2)
    try {
      q.processAllAvailable()
      (1 until slices).foreach { i => write(i); q.processAllAvailable() }
    } finally q.stop()
    (indexPath, centroidsPath)
  }

  test("streamed index + frozen quantizer equals the batch twin") {
    val e = emb.cache()
    val (indexPath, centroidsPath) = ingest(3)

    // batch twin: train on slice 0, freeze, assign everything
    val cents = Ann.portableKmeansCentroids(
      e.filter(pmod($"vec_id", lit(3)) === 0), "vec_id", "embedding",
      dim = 64, k = 8, iters = 2)
    assert(AnnStream.readCentroids(spark, centroidsPath)
      .map(_.toSeq) == cents.map(_.toSeq))

    val expected = Ann
      .portableAssignWithCentroids(e, "vec_id", "embedding", cents)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
    val stored = spark.read.parquet(indexPath)
      .select($"vec_id", $"cell".cast("long")).as[(Long, Long)]
      .collect().toMap
    assert(stored == expected)
    // the index is genuinely multi-cell (the pruning claim is non-vacuous)
    assert(expected.values.toSet.size > 1)

    // served top-k equals the batch-composed search over the same cells
    val served = AnnStream.ivfServeTopK(spark, indexPath, centroidsPath,
        e.filter($"vec_id" < 10), "vec_id", "embedding", topK = 3)
      .select("query_id", "neighbor_id", "rank", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val batchAssigned = Ann
      .portableAssignWithCentroids(e, "vec_id", "embedding", cents)
    val batchServed = Ann.integerTopK(batchAssigned,
        batchAssigned.filter($"vec_id" < 10)
          .select($"vec_id".as("query_id"), $"q".as("qv"), $"cell"),
        "vec_id", "cell", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(served == batchServed && served.nonEmpty)
  }

  test("serve reads only the probed cells' partition directories") {
    val (indexPath, centroidsPath) = ingest(3)
    val cents = AnnStream.readCentroids(spark, centroidsPath)
    val queries = emb.filter($"vec_id" < 10)
    val probed = Ann
      .portableAssignWithCentroids(queries, "vec_id", "embedding", cents)
      .select("cell").distinct().as[Long].collect().toSet
    val allCells = spark.read.parquet(indexPath)
      .select($"cell".cast("long")).distinct().as[Long].collect().toSet
    assert(probed.size < allCells.size,
      s"pruning test vacuous: queries probe all $allCells")

    val served = AnnStream.ivfServeTopK(spark, indexPath, centroidsPath,
      queries, "vec_id", "embedding", topK = 3)
    served.collect()
    // the executed index scan's partition count covers only probed
    // cells: numFiles ≤ batches × |probed| (one writer file per
    // cell dir per batch), strictly under the full layout's file count
    // the serve plan has exchanges, so under AQE the scans sit inside
    // QueryStageExec boundaries that TreeNode.collect does not cross
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p.collect {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        allScans(r.child)
    }.flatten
    val scans = allScans(served.queryExecution.executedPlan)
    val indexScan = scans.find(
      _.relation.location.rootPaths.exists(_.toString.contains("as_idx")))
    assert(indexScan.isDefined, s"no index scan among ${scans.size} scans")
    val filesRead = indexScan.get.metrics("numFiles").value
    val totalFiles = spark.read.parquet(indexPath).inputFiles.length
    assert(filesRead < totalFiles,
      s"no pruning: read $filesRead of $totalFiles")
    assert(filesRead <= 3L * probed.size)
  }

  test("nprobe widens the candidate set and never worsens the best hit") {
    val (indexPath, centroidsPath) = ingest(3)
    val queries = emb.filter($"vec_id" < 10)
    def serve(nprobe: Int) = AnnStream.ivfServeTopK(spark, indexPath,
        centroidsPath, queries, "vec_id", "embedding", topK = 3,
        nprobe = nprobe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val one = serve(1); val two = serve(2)
    // nprobe=1 through the exploded path == the original single-cell
    // serve (the head of the cell ranking IS the argmin)
    val cents = AnnStream.readCentroids(spark, centroidsPath)
    val assigned = Ann.portableAssignWithCentroids(emb, "vec_id",
      "embedding", cents)
    val single = Ann.integerTopK(assigned,
        Ann.portableQueryCells(queries, "vec_id", "embedding", cents, 1),
        "vec_id", "cell", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(one.toSet == single.toSet)
    // per query: the rank-1 distance can only improve with more cells
    val best1 = one.filter(_._3 == 1L).map(t => t._1 -> t._4).toMap
    val best2 = two.filter(_._3 == 1L).map(t => t._1 -> t._4).toMap
    assert(best1.keySet == best2.keySet)
    best2.foreach { case (qid, d2) => assert(d2 <= best1(qid)) }
    // and for SOME query the second cell actually changed the answer
    // (non-vacuous on this corpus) or at least widened candidates:
    // two cells per query were probed
    val probedTwo = Ann.portableQueryCells(queries, "vec_id", "embedding",
      cents, 2).select("query_id", "cell").distinct().count()
    assert(probedTwo == 2 * queries.count())
  }

  test("publish folds the batch tree into one file per cell, answers unchanged") {
    val (indexPath, centroidsPath) = ingest(3)
    val servingPath = tmp("as_pub") + "/serving"
    AnnStream.publishIndex(spark, indexPath, servingPath)

    // pure relayout: identical row set, batch_id gone
    def rows(path: String) = spark.read.parquet(path)
      .select($"vec_id", $"cell".cast("long")).as[(Long, Long)]
      .collect().toSet
    assert(rows(servingPath) == rows(indexPath))
    assert(!spark.read.parquet(servingPath).columns.contains("batch_id"))

    // one file per inverted list vs one per (batch × cell)
    val pubFiles = spark.read.parquet(servingPath).inputFiles.length
    val rawFiles = spark.read.parquet(indexPath).inputFiles.length
    val nCells = rows(indexPath).map(_._2).size
    assert(pubFiles == nCells, s"$pubFiles files for $nCells cells")
    assert(pubFiles < rawFiles)

    // served answers are bit-identical from either layout
    val queries = emb.filter($"vec_id" < 10)
    def serve(path: String) = AnnStream.ivfServeTopK(spark, path,
        centroidsPath, queries, "vec_id", "embedding", topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(serve(servingPath) == serve(indexPath))

    // republish (the periodic-fold lifecycle) is an idempotent swap
    AnnStream.publishIndex(spark, indexPath, servingPath)
    assert(rows(servingPath) == rows(indexPath))
    assert(spark.read.parquet(servingPath).inputFiles.length == pubFiles)
  }

  test("replayed ingest batch is a committed no-op") {
    val e = emb.filter($"vec_id" < 200)
    val indexPath = tmp("asr_idx") + "/index"
    val centroidsPath = tmp("asr_cen") + "/centroids"
    val b0 = e.filter($"vec_id" % 2 === 0)
    val b1 = e.filter($"vec_id" % 2 === 1)
    AnnStream.processIvfBatch(b0, 0L, indexPath, centroidsPath,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    AnnStream.processIvfBatch(b1, 1L, indexPath, centroidsPath,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    def snapshot() = spark.read.parquet(indexPath)
      .select($"vec_id", $"cell".cast("long")).as[(Long, Long)]
      .collect().sorted.toSeq
    val first = snapshot()
    val cenFirst = AnnStream.readCentroids(spark, centroidsPath).map(_.toSeq)
    // replay batch 1 (the crash-recovery path): same rows, no growth
    AnnStream.processIvfBatch(b1, 1L, indexPath, centroidsPath,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    assert(snapshot() == first)
    // replay batch 0: retrains on the identical batch — bit-identical
    // centroids (exact integer Lloyd's), index unchanged
    AnnStream.processIvfBatch(b0, 0L, indexPath, centroidsPath,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    assert(snapshot() == first)
    assert(AnnStream.readCentroids(spark, centroidsPath).map(_.toSeq)
      == cenFirst)
  }

  test("a crashed first attempt (index dir exists, no data files) does not wedge the replay") {
    val e = emb.filter($"vec_id" < 100)
    val indexPath = tmp("asc_idx") + "/index"
    val centroidsPath = tmp("asc_cen") + "/centroids"
    // simulate the crash debris: the output tree was created but no
    // parquet file ever committed
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(indexPath, "batch_id=0", "_temporary"))
    AnnStream.processIvfBatch(e, 0L, indexPath, centroidsPath,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    assert(spark.read.parquet(indexPath).count() == e.count())
  }

  test("duplicate ids inside one batch index once") {
    val e = emb.filter($"vec_id" < 100)
    val indexPath = tmp("asw_idx") + "/index"
    val centroidsPath = tmp("asw_cen") + "/centroids"
    AnnStream.processIvfBatch(e.unionAll(e), 0L, indexPath, centroidsPath,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    val ids = spark.read.parquet(indexPath).select("vec_id").as[Long]
      .collect().toSeq
    assert(ids.length == ids.distinct.length && ids.length == e.count())
  }

  test("re-sent ids do not duplicate index rows") {
    val e = emb.filter($"vec_id" < 100)
    val indexPath = tmp("asd_idx") + "/index"
    val centroidsPath = tmp("asd_cen") + "/centroids"
    AnnStream.processIvfBatch(e, 0L, indexPath, centroidsPath,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    // batch 1 re-sends half of batch 0 plus nothing new → no new rows
    AnnStream.processIvfBatch(e.filter($"vec_id" < 50), 1L, indexPath,
      centroidsPath, "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    val ids = spark.read.parquet(indexPath).select("vec_id").as[Long]
      .collect().toSeq
    assert(ids.length == ids.distinct.length)
    assert(ids.length == e.count())
  }

  private def servingRows(path: String) = spark.read.parquet(path)
    .select($"vec_id", $"cell".cast("long")).as[(Long, Long)]
    .collect().toSet

  /** (fileName, mtime) per cell dir of a published tree — the probe
    * that proves which inverted lists a publish physically touched. */
  private def cellFileStamps(path: String): Map[String, Set[(String, Long)]] =
    new java.io.File(path).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(d => d.getName -> d.listFiles().toSeq
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet)
      .toMap

  test("incremental publish rewrites only the delta's cells and matches the full fold") {
    val e = emb.cache()
    val indexPath = tmp("asi_idx") + "/index"
    val centroidsPath = tmp("asi_cen") + "/centroids"
    // batch 0: everything except two chosen vectors; trains + freezes
    AnnStream.processIvfBatch(e.filter($"vec_id" >= 2), 0L, indexPath,
      centroidsPath, "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    val servingPath = tmp("asi_pub") + "/serving"
    AnnStream.publishIndex(spark, indexPath, servingPath)
    val before = cellFileStamps(servingPath)
    assert(before.size > 1, "need multiple cells for a non-vacuous test")

    // batch 1 delivers the two held-out vectors → their cells only
    AnnStream.processIvfBatch(e.filter($"vec_id" < 2), 1L, indexPath,
      centroidsPath, "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    val deltaCells = spark.read.parquet(s"$indexPath/batch_id=1")
      .inputFiles.map(_.split("/").reverse(1)).toSet // cell=N dir names
    assert(deltaCells.size < before.size,
      s"delta touches all cells — test vacuous: $deltaCells")
    Thread.sleep(1100) // mtime granularity: untouched-file proof needs a gap
    AnnStream.publishIndexDelta(spark, indexPath, servingPath)

    // row set equals a from-scratch full fold
    assert(servingRows(servingPath) == servingRows(indexPath))
    // cells outside the delta kept their exact files (name AND mtime);
    // delta cells were rewritten
    val after = cellFileStamps(servingPath)
    before.foreach { case (cell, stamps) =>
      if (deltaCells.contains(cell)) assert(after(cell) != stamps,
        s"$cell was in the delta but kept stale files")
      else assert(after(cell) == stamps, s"$cell rewritten outside the delta")
    }
    // still one file per inverted list
    after.values.foreach(s => assert(s.size == 1))

    // a second delta fold with no new batches is a complete no-op
    AnnStream.publishIndexDelta(spark, indexPath, servingPath)
    assert(cellFileStamps(servingPath) == after)

    // and serving from the incrementally-maintained tree matches raw
    def serve(path: String) = AnnStream.ivfServeTopK(spark, path,
        centroidsPath, e.filter($"vec_id" < 10), "vec_id", "embedding",
        topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(serve(servingPath) == serve(indexPath))
  }

  test("raw-tree compaction keeps cell layout, serve answers, and the re-sent-id guard") {
    val e = emb.filter($"vec_id" < 400).cache()
    val indexPath = tmp("asc_idx") + "/index"
    val centroidsPath = tmp("asc_cen") + "/centroids"
    (0 until 3).foreach { r =>
      AnnStream.processIvfBatch(e.filter($"vec_id" % 4 === r), r.toLong,
        indexPath, centroidsPath, "vec_id", "embedding", dim = 64,
        cells = 8, iters = 2)
    }
    def serve() = AnnStream.ivfServeTopK(spark, indexPath, centroidsPath,
        e.filter($"vec_id" < 8), "vec_id", "embedding", topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val before = serve()
    val rows = spark.read.parquet(indexPath).count()

    graft.streaming.DedupStream.compactIndex(spark, indexPath, 1L,
      partitionCols = Seq("cell"))
    val dirs = new java.io.File(indexPath).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq
    assert(dirs == Seq("batch_id=1", "batch_id=2"))
    // the folded dir keeps the cell= sub-partitioning (serve-time
    // directory pruning must survive compaction)
    assert(new java.io.File(indexPath, "batch_id=1").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("cell=")))
    assert(spark.read.parquet(indexPath).count() == rows)
    assert(serve() == before)

    // the committed-id guard still sees the folded prefix: a batch
    // re-sending batch-0 vectors indexes nothing new
    AnnStream.processIvfBatch(e.filter($"vec_id" % 4 === 0), 3L,
      indexPath, centroidsPath, "vec_id", "embedding", dim = 64,
      cells = 8, iters = 2)
    val ids = spark.read.parquet(indexPath).select("vec_id").as[Long]
      .collect().toSeq
    assert(ids.length == ids.distinct.length && ids.length == rows)
  }

  test("publish bounds: empty/below-first-batch is a no-op; delta respects upToBatch") {
    val e = emb.filter($"vec_id" < 200).cache()
    val indexPath = tmp("asb_idx") + "/index"
    val centroidsPath = tmp("asb_cen") + "/centroids"
    val servingPath = tmp("asb_pub") + "/serving"

    // no index tree at all: both publish forms are safe no-ops (the
    // old full-tree aggregate NPE'd here — round-12 advice)
    AnnStream.publishIndex(spark, indexPath, servingPath)
    AnnStream.publishIndexDelta(spark, indexPath, servingPath)
    assert(!new java.io.File(servingPath).exists())
    assert(!new java.io.File(servingPath + "_pubmeta").exists())

    AnnStream.processIvfBatch(e.filter($"vec_id" >= 2), 0L, indexPath,
      centroidsPath, "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    // bound below the first committed batch: still a no-op, live tree
    // untouched
    AnnStream.publishIndex(spark, indexPath, servingPath,
      upToBatch = Some(-1L))
    assert(!new java.io.File(servingPath).exists())

    AnnStream.publishIndex(spark, indexPath, servingPath)
    AnnStream.processIvfBatch(e.filter($"vec_id" < 2), 1L, indexPath,
      centroidsPath, "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    // delta bounded to the already-published batch 0: a no-op that
    // must NOT advance the watermark past the unfolded batch 1
    AnnStream.publishIndexDelta(spark, indexPath, servingPath,
      upToBatch = Some(0L))
    assert(servingRows(servingPath) ==
      servingRows(s"$indexPath/batch_id=0"))
    // the unbounded fold then picks batch 1 up — nothing was skipped
    AnnStream.publishIndexDelta(spark, indexPath, servingPath)
    assert(servingRows(servingPath) == servingRows(indexPath))
  }

  test("a delta publish interrupted mid-promote repairs on the next call") {
    val e = emb.filter($"vec_id" < 200).cache()
    val indexPath = tmp("asx_idx") + "/index"
    val centroidsPath = tmp("asx_cen") + "/centroids"
    AnnStream.processIvfBatch(e.filter($"vec_id" >= 2), 0L, indexPath,
      centroidsPath, "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    val servingPath = tmp("asx_pub") + "/serving"
    AnnStream.publishIndex(spark, indexPath, servingPath)
    AnnStream.processIvfBatch(e.filter($"vec_id" < 2), 1L, indexPath,
      centroidsPath, "vec_id", "embedding", dim = 64, cells = 8, iters = 2)

    // the worst crash window: a live cell's dir is GONE, its committed
    // staged replacement not yet renamed in, and the watermark never
    // advanced
    FaultFs.installed(spark) {
      assert(FaultFs.crashing(FaultFs.PartitionCommit)(c => c.op == "rename" &&
          c.path.contains("_pstage/cell="))(
        AnnStream.publishIndexDelta(spark, indexPath, servingPath)))
    }
    val stagedCell = new java.io.File(servingPath + "_pstage").list()
      .filter(_.startsWith("cell=")).head
    assert(!new java.io.File(servingPath, stagedCell).exists())

    // next call's entry repair restores a complete tree, then the
    // replayed delta (watermark still old) folds in idempotently
    AnnStream.publishIndexDelta(spark, indexPath, servingPath)
    assert(servingRows(servingPath) == servingRows(indexPath))
    assert(!new java.io.File(servingPath + "_dold").exists())
    assert(!new java.io.File(servingPath + "_dnext").exists())
    assert(!new java.io.File(servingPath + "_pstage").exists())
    val ids = spark.read.parquet(servingPath).select("vec_id").as[Long]
      .collect().toSeq
    assert(ids.length == ids.distinct.length, "replay duplicated rows")
  }

  test("retire: serving + raw trees drop the ids, affected cells only; re-ingest re-serves") {
    val e = emb.cache()
    val indexPath = tmp("asr_idx") + "/index"
    val centroidsPath = tmp("asr_cen") + "/centroids"
    AnnStream.processIvfBatch(e, 0L, indexPath, centroidsPath,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    val servingPath = tmp("asr_pub") + "/serving"
    AnnStream.publishIndex(spark, indexPath, servingPath)
    val before = cellFileStamps(servingPath)

    // retire one vector from BOTH trees (the d20 lifecycle: published
    // serving state and the raw replay tree must both forget it)
    val victim = 0L
    val victimCell = spark.read.parquet(servingPath)
      .filter($"vec_id" === victim).select($"cell".cast("string"))
      .head().getString(0)
    Thread.sleep(1100) // mtime granularity for the untouched-cell proof
    val ids = Seq(victim).toDF("vec_id")
    AnnStream.retireIds(spark, servingPath, ids, "vec_id")
    DedupStream.retireIds(spark, indexPath, ids, "vec_id",
      partitionCols = Seq("cell"))
    assert(spark.read.parquet(servingPath).filter($"vec_id" === victim)
      .isEmpty)
    assert(spark.read.parquet(indexPath).filter($"vec_id" === victim)
      .isEmpty)
    // the raw tree keeps its cell sub-layout (pruning contract)
    assert(new java.io.File(s"$indexPath/batch_id=0").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("cell=")))
    // only the victim's cell was rewritten in the serving tree
    val after = cellFileStamps(servingPath)
    before.foreach { case (cell, stamps) =>
      if (cell == s"cell=$victimCell") assert(after(cell) != stamps)
      else assert(after(cell) == stamps, s"$cell rewritten outside retire")
    }
    // a query that previously returned the victim no longer does
    val q = e.filter($"vec_id" === victim)
      .select(lit(9999L).as("vec_id"), $"embedding")
    val got = AnnStream.ivfServeTopK(spark, servingPath, centroidsPath,
      q, "vec_id", "embedding", topK = 3, nprobe = 2)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!got.contains(victim))

    // re-ingest the retired id (guard passes — it is gone from the raw
    // tree), delta-publish, and the serve finds it again at rank 1
    AnnStream.processIvfBatch(e.filter($"vec_id" === victim), 1L,
      indexPath, centroidsPath, "vec_id", "embedding", dim = 64,
      cells = 8, iters = 2)
    assert(spark.read.parquet(indexPath).filter($"vec_id" === victim)
      .count() == 1)
    AnnStream.publishIndexDelta(spark, indexPath, servingPath)
    val re = AnnStream.ivfServeTopK(spark, servingPath, centroidsPath,
      q, "vec_id", "embedding", topK = 1, nprobe = 1)
      .select("neighbor_id").as[Long].head()
    assert(re == victim) // its own vector is its exact nearest neighbor
  }

  test("ivf ingest drains the retire queue before each batch (re-crawl re-indexes)") {
    val e = emb.cache()
    val vecsDir = tmp("asq_vecs"); val indexPath = tmp("asq_idx") + "/index"
    val centroidsPath = tmp("asq_cen") + "/centroids"
    val ckpt = tmp("asq_ckpt"); val queue = tmp("asq_queue") + "/queue"
    e.filter($"vec_id" >= 2).coalesce(1).write.mode("append").parquet(vecsDir)
    val q = AnnStream.ivfIngest(spark, vecsDir, e.schema, indexPath,
      centroidsPath, ckpt, dim = 64, cells = 8, iters = 2,
      retireQueue = Some(queue))
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(indexPath).filter($"vec_id" === 5L)
        .select($"batch_id".cast("long")).as[Long].head() == 0L)
      // deletion request for an indexed vector, then its re-crawl lands
      // with the next arrival: the drain runs first, so the guard sees
      // it gone and re-indexes it under the new batch
      Seq(5L).toDF("vec_id").coalesce(1).write.mode("append").parquet(queue)
      e.filter($"vec_id" < 2 || $"vec_id" === 5L).coalesce(1)
        .write.mode("append").parquet(vecsDir)
      q.processAllAvailable()
      val rows = spark.read.parquet(indexPath).filter($"vec_id" === 5L)
        .select($"batch_id".cast("long")).as[Long].collect().toSeq
      assert(rows == Seq(1L), s"expected one batch-1 row, got $rows")
      // raw tree keeps its cell sub-layout through the queue's retire
      assert(new java.io.File(s"$indexPath/batch_id=0").listFiles()
        .exists(f => f.isDirectory && f.getName.startsWith("cell=")))
      assert(new java.io.File(queue, "_done").listFiles()
        .exists(_.getName.endsWith(".parquet")))
    } finally q.stop()
  }

  test("retire applies to the PQ-coded serving tree too") {
    val e = emb.cache()
    val indexPath = tmp("asrp_idx") + "/index"
    val centroidsPath = tmp("asrp_cen") + "/centroids"
    AnnStream.processIvfBatch(e, 0L, indexPath, centroidsPath,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    val coded = tmp("asrp_pub") + "/coded"
    AnnStream.publishPqIndex(spark, indexPath, centroidsPath, coded,
      "vec_id", m = 8, k = 8)
    val victim = 1L
    def serve() = AnnStream.pqServeTopK(spark, coded, centroidsPath,
      vectors = e,
      queries = e.filter($"vec_id" === victim)
        .select(lit(9999L).as("vec_id"), $"embedding"),
      "vec_id", "embedding", m = 8, k = 8, nprobe = 2, shortlist = 20,
      topK = 3)
      .select("neighbor_id").as[Long].collect().toSet
    assert(serve().contains(victim)) // its own vector: exact-rerank hit
    // the coded tree is cell-partitioned like the serving tree — the
    // same retire removes the id's code row, so the ADC shortlist can
    // never propose it again (the exact rerank only sees the shortlist)
    AnnStream.retireIds(spark, coded, Seq(victim).toDF("vec_id"), "vec_id")
    assert(spark.read.parquet(coded).filter($"vec_id" === victim).isEmpty)
    assert(!serve().contains(victim))
  }

  test("PQ publish stores codes only; serve prunes, planted duplicate wins rank 1") {
    val e = emb.cache()
    // plant an exact duplicate of vec 3 under a fresh id
    val dup = e.filter($"vec_id" === 3)
      .select(($"vec_id" + 9000).as("vec_id"), $"embedding")
    val corpus = e.unionByName(dup)
    val indexPath = tmp("asp_idx") + "/index"
    val centroidsPath = tmp("asp_cen") + "/centroids"
    AnnStream.processIvfBatch(corpus, 0L, indexPath, centroidsPath,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    val codedPath = tmp("asp_pq") + "/coded"
    AnnStream.publishPqIndex(spark, indexPath, centroidsPath, codedPath,
      "vec_id", m = 8, k = 8)

    // codes-only rows: the dim-long vector column is GONE (the ~32×
    // compression is the point), one file per inverted list
    val coded = spark.read.parquet(codedPath)
    assert(coded.columns.sorted.toSeq == Seq("cell", "codes", "vec_id"))
    assert(coded.count() == corpus.count())
    val cellCount = coded.select("cell").distinct().count()
    assert(coded.inputFiles.length == cellCount)
    // the spread codebook makes codes informative: the corpus does NOT
    // collapse onto one code word (the degenerate-codebook regression)
    assert(coded.select("codes").distinct().count() > 10)

    // nprobe = 1: within its OWN cell the duplicate's ADC is provably
    // minimal (its codes are the per-subspace argmin for the query's
    // residual), so it always survives the shortlist; across cells the
    // untrained portable codebook's recon error makes ADC values
    // incomparable enough that the guarantee would not hold
    val queries = e.filter($"vec_id" === 3)
    val served = AnnStream.pqServeTopK(spark, codedPath, centroidsPath,
      vectors = corpus, queries = queries, "vec_id", "embedding",
      m = 8, k = 8, nprobe = 1, shortlist = 20, topK = 5)
    served.collect()
    // scan pruning: the coded-tree scan reads ≤ probed cells' files
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p.collect {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        allScans(r.child)
    }.flatten
    val scan = allScans(served.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(_.toString.contains("asp_pq")))
    assert(scan.isDefined)
    assert(scan.get.metrics("numFiles").value <= 1L,
      "coded scan read more files than the probed cell")

    // identical vector ⇒ identical residual ⇒ its codes attain the
    // query's own ADC minimum ⇒ always shortlisted; the exact rerank
    // then puts it at rank 1 with d2 = 0
    val rows = served.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val top = rows.find(t => t._1 == 3L && t._2 == 1L).get
    assert(top._3 == 9003L && top._4 == 0L,
      s"planted duplicate did not win: $top")
  }

  test("trained PQ codebook: stores/round-trips, carries data, serve stays exact") {
    val e = emb.cache()
    val dup = e.filter($"vec_id" === 3)
      .select(($"vec_id" + 9000).as("vec_id"), $"embedding")
    val corpus = e.unionByName(dup)
    val indexPath = tmp("ast_idx") + "/index"
    val centroidsPath = tmp("ast_cen") + "/centroids"
    AnnStream.processIvfBatch(corpus, 0L, indexPath, centroidsPath,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)

    val cb = AnnStream.trainPqCodebook(spark, indexPath, centroidsPath,
      m = 8, k = 8, iters = 2)
    // trained on THIS corpus's residuals: must differ from the
    // data-independent spread table (a trainer that returns its input
    // formula learned nothing)
    assert(cb != graft.similarity.Ann.portablePqCodebookSpread(8, 8, 8))
    // frozen-model round trip is exact
    val cbPath = tmp("ast_cb") + "/codebook"
    AnnStream.writePqCodebook(spark, cb, cbPath)
    assert(AnnStream.readPqCodebook(spark, cbPath) == cb)

    val codedPath = tmp("ast_pq") + "/coded"
    AnnStream.publishPqIndex(spark, indexPath, centroidsPath, codedPath,
      "vec_id", m = 8, k = 8, cb)
    val coded = spark.read.parquet(codedPath)
    assert(coded.count() == corpus.count())
    assert(coded.select("codes").distinct().count() > 10)

    // the s17 exactness argument is codebook-independent: an identical
    // vector's residual codes attain the query's own ADC minimum in
    // its cell, so it shortlists, and the exact rerank ranks it first
    val served = AnnStream.pqServeTopK(spark, codedPath, centroidsPath,
      vectors = corpus, queries = e.filter($"vec_id" === 3),
      "vec_id", "embedding", m = 8, k = 8, nprobe = 1, shortlist = 20,
      topK = 5, codebook = cb)
    val rows = served.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val top = rows.find(t => t._1 == 3L && t._2 == 1L).get
    assert(top._3 == 9003L && top._4 == 0L,
      s"planted duplicate did not win under the trained codebook: $top")
  }

  test("serve repairs an interrupted cell swap before reading (no silently missing cells)") {
    val e = emb.cache()
    val indexPath = tmp("assr_idx") + "/index"
    val centroidsPath = tmp("assr_cen") + "/centroids"
    AnnStream.processIvfBatch(e, 0L, indexPath, centroidsPath,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    val servingPath = tmp("assr_pub") + "/serving"
    AnnStream.publishIndex(spark, indexPath, servingPath)
    val queries = e.filter($"vec_id" < 10)
    val intactRows = AnnStream.ivfServeTopK(spark, servingPath,
        centroidsPath, queries, "vec_id", "embedding", topK = 3, nprobe = 2)
      .collect()
    val intact = intactRows.map(_.toSeq).toSet
    // the retired row shares a cell with an answer but is no answer
    // itself (nor a query), so a repaired serve answers as before
    def bystander(tree: String, rows: Seq[org.apache.spark.sql.Row]): Long = {
      val answers = rows.map(_.getAs[Long]("neighbor_id"))
      val t = spark.read.parquet(tree)
      val cell = t.filter($"vec_id" === answers.head).select("cell").head()
        .get(0)
      t.filter($"cell" === cell && $"vec_id" >= 10 &&
          !$"vec_id".isin(answers: _*))
        .agg(max("vec_id")).as[Long].head()
    }

    // worst crash window of a retire/delta-publish on the PUBLISHED
    // tree: a live cell dropped, its committed staged copy not yet
    // renamed in — an unrepaired serve would answer from a tree
    // silently missing that whole (non-retired) cell
    def tearOneCell(tree: String,
        rows: Seq[org.apache.spark.sql.Row]): Unit = {
      val victim = bystander(tree, rows)
      FaultFs.installed(spark) {
        assert(FaultFs.crashing(FaultFs.PartitionCommit)(c =>
            c.op == "rename" && c.path.contains("_pstage/cell="))(
          AnnStream.retireIds(spark, tree, Seq(victim).toDF("vec_id"),
            "vec_id")))
      }
      val cell = new java.io.File(tree + "_pstage").list()
        .filter(_.startsWith("cell=")).head
      assert(!new java.io.File(tree, cell).exists())
    }
    tearOneCell(servingPath, intactRows.toSeq)
    val served = AnnStream.ivfServeTopK(spark, servingPath, centroidsPath,
        queries, "vec_id", "embedding", topK = 3, nprobe = 2)
      .collect().map(_.toSeq).toSet
    assert(served == intact, "serve answered from an unrepaired tree")
    assert(!new java.io.File(servingPath + "_dold").exists())
    assert(!new java.io.File(servingPath + "_dnext").exists())
    assert(!new java.io.File(servingPath + "_pstage").exists())

    // the PQ-coded tree goes through the same commit — its serve must
    // repair too
    val codedPath = tmp("assr_pq") + "/coded"
    AnnStream.publishPqIndex(spark, indexPath, centroidsPath, codedPath,
      "vec_id", m = 8, k = 8)
    val pqIntactRows = AnnStream.pqServeTopK(spark, codedPath,
        centroidsPath, vectors = e, queries = queries, "vec_id", "embedding",
        m = 8, k = 8, nprobe = 2, shortlist = 20, topK = 3)
      .collect()
    val pqIntact = pqIntactRows.map(_.toSeq).toSet
    tearOneCell(codedPath, pqIntactRows.toSeq)
    val pqServed = AnnStream.pqServeTopK(spark, codedPath, centroidsPath,
        vectors = e, queries = queries, "vec_id", "embedding",
        m = 8, k = 8, nprobe = 2, shortlist = 20, topK = 3)
      .collect().map(_.toSeq).toSet
    assert(pqServed == pqIntact, "pq serve answered from an unrepaired tree")
    assert(!new java.io.File(codedPath + "_dold").exists())
    assert(!new java.io.File(codedPath + "_pstage").exists())
  }

  test("ANN queue drain reaches the published and coded serving trees in the same pass") {
    val e = emb.cache()
    val vecsDir = tmp("asqd_vecs"); val indexPath = tmp("asqd_idx") + "/index"
    val centroidsPath = tmp("asqd_cen") + "/centroids"
    val ckpt = tmp("asqd_ckpt"); val queue = tmp("asqd_queue") + "/queue"
    val servingPath = tmp("asqd_pub") + "/serving"
    val codedPath = tmp("asqd_pq") + "/coded"
    val victim = 5L
    // batch 0 lands before start so the STREAM trains the quantizer
    e.filter($"vec_id" >= 2).coalesce(1).write.mode("append").parquet(vecsDir)
    val q = AnnStream.ivfIngest(spark, vecsDir, e.schema, indexPath,
      centroidsPath, ckpt, dim = 64, cells = 8, iters = 2,
      retireQueue = Some(queue),
      retireServing = Seq(servingPath, codedPath))
    try {
      q.processAllAvailable()
      // publish BOTH serving forms from the quiescent committed prefix
      AnnStream.publishIndex(spark, indexPath, servingPath)
      AnnStream.publishPqIndex(spark, indexPath, centroidsPath, codedPath,
        "vec_id", m = 8, k = 8)
      assert(spark.read.parquet(servingPath).filter($"vec_id" === victim)
        .count() == 1)
      // the retired id sits in an ALREADY-PUBLISHED batch: a delta
      // publish would never re-fold it, so without the serving-tree
      // drain it would be served forever — the closed ADVICE window
      Seq(victim).toDF("vec_id").coalesce(1).write.mode("append")
        .parquet(queue)
      e.filter($"vec_id" < 2).coalesce(1).write.mode("append")
        .parquet(vecsDir)
      q.processAllAvailable()
      assert(spark.read.parquet(indexPath).filter($"vec_id" === victim)
        .isEmpty, "raw tree still holds the retired id")
      assert(spark.read.parquet(servingPath).filter($"vec_id" === victim)
        .isEmpty, "published tree still serves the retired id")
      assert(spark.read.parquet(codedPath).filter($"vec_id" === victim)
        .isEmpty, "coded tree still serves the retired id")
      assert(new java.io.File(queue, "_done").listFiles()
        .exists(_.getName.endsWith(".parquet")))
    } finally q.stop()
  }

  test("ingest guard bounded by footer stats: disjoint ranges prune, re-sent ids still dedupe") {
    val e = emb.cache()
    val idx = tmp("asfg_idx") + "/index"
    val cen = tmp("asfg_cen") + "/centroids"
    // two committed batches with DISJOINT id ranges
    AnnStream.processIvfBatch(e.filter($"vec_id" < 100), 0L, idx, cen,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    AnnStream.processIvfBatch(
      e.filter($"vec_id" >= 100 && $"vec_id" < 200), 1L, idx, cen,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    // a hull beyond both ranges: the guard's candidate set is EMPTY —
    // the metadata-only case monotone arrival ids hit every batch
    assert(DedupStream.footerCandidateParts(spark, idx, "batch_id=",
      "vec_id", _ < 2L)((mn, mx) => mn <= 250L && 210L <= mx)
      .contains(Nil))
    // a hull overlapping only batch 1's range prunes batch 0
    assert(DedupStream.footerCandidateParts(spark, idx, "batch_id=",
      "vec_id", _ < 2L)((mn, mx) => mn <= 150L && 110L <= mx)
      .contains(Seq(1L)))
    // an unparseable partition dir (a null id's
    // batch_id=__HIVE_DEFAULT_PARTITION__) cannot be pruned OR named
    // as an explicit candidate path — the walker returns None and the
    // caller runs the unpruned probe instead of crashing (r16 advice)
    val weird = new java.io.File(idx, "batch_id=__HIVE_DEFAULT_PARTITION__")
    assert(weird.mkdirs())
    try assert(DedupStream.footerCandidateParts(spark, idx, "batch_id=",
      "vec_id", _ < 2L)((mn, mx) => mn <= 150L && 110L <= mx).isEmpty)
    finally weird.delete()
    // correctness through the pruned guard: a batch RE-SENDING every
    // committed id plus 20 fresh ones indexes exactly the fresh ones
    AnnStream.processIvfBatch(e.filter($"vec_id" < 220), 2L, idx, cen,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    val ids = spark.read.parquet(idx).select("vec_id").as[Long]
      .collect().toSeq
    assert(ids.length == ids.distinct.length, "re-sent ids duplicated")
    assert(ids.toSet == (0L until 220L).toSet)
  }

  /** Deterministic synthetic embedding corpus large enough to cross
    * the capacity rule's 8→16 boundary mid-ingest (the fixture table
    * at this SF holds 500 rows — below the rule's floor forever). */
  /** Crash the real capacity migration of the raw tree at `idx` at its
    * first move: the record has committed, nothing is promoted yet. */
  private def commitUnpromoted(idx: String, cen: String): Unit =
    graft.FaultFs.installed(spark) {
      assert(graft.FaultFs.crashing(graft.FaultFs.Commit)(_.n == 3)(
        AnnStream.migrateCapacityIfNeeded(spark, idx, cen, "vec_id",
          dim = 64, iters = 2)))
      assert(new java.io.File(
        graft.operators.Sinks.partitionStage(idx), "_commit").exists())
    }

  private def synthVecs(n: Int) =
    spark.range(n.toLong).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(concat_ws(":", $"id", j)), lit(2000)) - lit(1000))
          .cast("double") / 500.0).cast("float")).as("embedding"))

  test("ivfIngest compactEvery: stream-cadence folds keep answers and leave a sidecar'd target") {
    val e = emb.cache()
    val vecsDir = tmp("asic_vecs"); val indexPath = tmp("asic_idx") + "/index"
    val centroidsPath = tmp("asic_cen") + "/centroids"
    val ckpt = tmp("asic_ckpt")
    val slices = 5
    def land(i: Int): Unit =
      e.filter(pmod($"vec_id", lit(slices)) === i)
        .coalesce(1).write.mode("append").parquet(vecsDir)
    land(0)
    val q = AnnStream.ivfIngest(spark, vecsDir, e.schema, indexPath,
      centroidsPath, ckpt, dim = 64, cells = 8, iters = 2,
      compactEvery = Some(2))
    try {
      q.processAllAvailable()
      (1 until slices).foreach { i => land(i); q.processAllAvailable() }
    } finally q.stop()
    // folds happened (fewer batch dirs than batches) and the folded
    // target carries a stats sidecar (the maintained-tree invariant)
    val dirs = new java.io.File(indexPath).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName)
    assert(dirs.length < slices, s"no fold happened: ${dirs.toSeq}")
    assert(dirs.exists(d => new java.io.File(
      s"$indexPath/$d/${StatsSidecar.FileName}").exists()),
      "folded target has no stats sidecar")
    // row set unchanged by the folds; serve equals the batch twin
    val ids = spark.read.parquet(indexPath).select("vec_id").as[Long]
      .collect().toSeq
    assert(ids.sorted == e.select("vec_id").as[Long].collect().toSeq.sorted)
    val cents = Ann.portableKmeansCentroids(
      e.filter(pmod($"vec_id", lit(slices)) === 0), "vec_id", "embedding",
      dim = 64, k = 8, iters = 2)
    val served = AnnStream.ivfServeTopK(spark, indexPath, centroidsPath,
      e.filter($"vec_id" < 5), "vec_id", "embedding", topK = 3, nprobe = 2)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    val twin = Ann.integerTopK(
      Ann.portableAssignWithCentroids(e, "vec_id", "embedding", cents),
      Ann.portableQueryCells(e.filter($"vec_id" < 5), "vec_id",
        "embedding", cents, nprobe = 2),
      "vec_id", "cell", 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(served == twin)
  }

  test("zero-outage migration: republished serving layouts swap with embedded geometry in one commit") {
    // the r18 lead ask: a migration used to DELETE the published/coded
    // trees (serves failed loudly until the operator republished — an
    // availability hole sized by the cadence). Republished layouts now
    // commit in the migration's own record with their geometry
    // EMBEDDED, so a serve right after the migration — with NO manual
    // republish — answers under the new model immediately.
    val e = synthVecs(2000).cache()
    val dup = e.filter($"vec_id" === 3)
      .select(($"vec_id" + 9000).as("vec_id"), $"embedding")
    val corpus = e.unionByName(dup).cache()
    val idx = tmp("aszo_idx") + "/index"
    val cen = tmp("aszo_cen") + "/centroids"
    (0 until 2).foreach { i =>
      AnnStream.processIvfBatch(
        corpus.filter(pmod($"vec_id", lit(2)) === i), i.toLong, idx, cen,
        "vec_id", "embedding", dim = 64, cells = 8, iters = 2,
        trainSliceRows = 600)
    }
    val cents8 = AnnStream.readCentroids(spark, cen)
    assert(cents8.length == 8)
    val pub = tmp("aszo_pub") + "/serving"
    val coded = tmp("aszo_pq") + "/coded"
    AnnStream.publishIndex(spark, idx, pub)
    val cb0 = AnnStream.trainPqCodebook(spark, idx, cen, m = 8, k = 8,
      iters = 2)
    AnnStream.publishPqIndex(spark, idx, cen, coded, "vec_id",
      m = 8, k = 8, cb0)
    val queries = corpus.filter($"vec_id" < 8).cache()
    assert(AnnStream.ivfServeTopK(spark, pub, cen, queries, "vec_id",
      "embedding", topK = 3, nprobe = 2).count() > 0)
    // the migration republishes BOTH layouts inside its commit
    val mig = AnnStream.migrateCapacityIfNeeded(spark, idx, cen,
      "vec_id", dim = 64, iters = 2,
      republishPublished = Seq(pub),
      republishCoded = Seq(AnnStream.CodedRepublish(coded, m = 8, k = 8,
        iters = 2)))
    assert(mig.exists(_.cells == 16), s"expected 8→16 migration, got $mig")
    val cents16 = AnnStream.readCentroids(spark, cen)
    assert(cents16.length == 16)
    // published layout serves IMMEDIATELY under the new geometry,
    // equal to the batch twin — the loud window is gone
    def servePub() = AnnStream.ivfServeTopK(spark, pub, cen, queries,
        "vec_id", "embedding", topK = 3, nprobe = 4)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    val served = servePub()
    val twin = Ann.integerTopK(
        Ann.portableAssignWithCentroids(corpus, "vec_id", "embedding",
          cents16),
        Ann.portableQueryCells(queries, "vec_id", "embedding", cents16,
          nprobe = 4),
        "vec_id", "cell", 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(served == twin && served.nonEmpty)
    // the serve does NOT depend on the (tree, external model) pair
    // being updated together: poison the external store with the OLD
    // model — the embedded copy (committed in the tree's own rename)
    // wins, so answers are unchanged
    AnnStream.writeCentroids(spark, cents8, cen)
    assert(servePub() == served,
      "published serve read the external model, not the embedded one")
    AnnStream.writeCentroids(spark, cents16, cen)
    // coded layout: serves with NO explicit codebook — the embedded
    // retrained one wins — and the planted duplicate takes rank 1
    val top = AnnStream.pqServeTopK(spark, coded, cen, vectors = corpus,
        queries = corpus.filter($"vec_id" === 3), "vec_id", "embedding",
        m = 8, k = 8, nprobe = 1, shortlist = 20, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .find(t => t._1 == 3L && t._2 == 1L).get
    assert(top._3 == 9003L && top._4 == 0L,
      s"planted duplicate did not win from the embedded codebook: $top")
    // a mismatched caller fails loudly, never decodes under the wrong
    // embedded table
    intercept[IllegalArgumentException] {
      AnnStream.pqServeTopK(spark, coded, cen, vectors = corpus,
        queries = corpus.filter($"vec_id" === 3), "vec_id", "embedding",
        m = 8, k = 16, nprobe = 1, shortlist = 20, topK = 5)
    }
    // …and so does an explicit but STALE codebook (the pre-migration
    // external store): its 8×8 shape passes the geometry check, but the
    // tree was re-encoded under the embedded retrained table — decoding
    // under cb0 would be silent recall collapse, the one disposition
    // this design exists to prevent (r18 review)
    intercept[IllegalArgumentException] {
      AnnStream.pqServeTopK(spark, coded, cen, vectors = corpus,
        queries = corpus.filter($"vec_id" === 3), "vec_id", "embedding",
        m = 8, k = 8, nprobe = 1, shortlist = 20, topK = 5,
        codebook = cb0)
    }
    // the republished watermark carried: a later batch folds as a
    // DELTA (only the new rows), continuity unbroken
    val extra = synthVecs(2100).filter($"vec_id" >= 2000)
    AnnStream.processIvfBatch(extra, 2L, idx, cen, "vec_id", "embedding",
      dim = 64, cells = 8, iters = 2, trainSliceRows = 600)
    AnnStream.publishIndexDelta(spark, idx, pub)
    assert(spark.read.parquet(pub).count() == corpus.count() + 100)
    assert(AnnStream.ivfServeTopK(spark, pub, cen,
      extra.filter($"vec_id" < 2003), "vec_id", "embedding",
      topK = 3, nprobe = 4).count() > 0)
  }

  test("retained training slice: an all-resend batch contributes nothing and does not kill the ingest") {
    val e = synthVecs(1200).cache()
    val idx = tmp("asnf_idx") + "/index"
    val cen = tmp("asnf_cen") + "/centroids"
    def ingest(part: org.apache.spark.sql.DataFrame, b: Long) =
      AnnStream.processIvfBatch(part, b, idx, cen, "vec_id", "embedding",
        dim = 64, cells = 8, iters = 2, trainSliceRows = 2000)
    ingest(e.filter($"vec_id" < 600), 0L)
    def sliceRows = spark.read.parquet(idx + "_tslice")
      .select("vec_id").as[Long].collect().toSet
    val slice0 = sliceRows
    assert(slice0.size == 600) // cap unmet: every batch-0 row retained
    // batch 1 re-sends batch 0's rows verbatim: the committedIds guard
    // drops them ALL, so the batch dir commits with no data files —
    // reading that dir back for the slice threw schema inference and
    // killed the ivfIngest stream (r18 review); the contribution must
    // simply be empty
    ingest(e.filter($"vec_id" < 600), 1L)
    assert(sliceRows == slice0, "an all-resend batch changed the slice")
    assert(!new java.io.File(idx + "_tslice/batch_id=1").exists())
    // a later genuinely-fresh batch still tops the slice up
    ingest(e.filter($"vec_id" >= 600), 2L)
    assert(sliceRows.size == 1200)
  }

  test("zero-outage migration: repair completes the republish swap from the rename-aside crash window") {
    // the republish promote sets the old serving tree ASIDE by rename
    // (not an O(files) recursive delete — r18 review), so the one
    // window where the live path is missing is between two renames.
    // This spec crashes the real migration INSIDE that window — record
    // committed, staged copy still in the stage, old tree set aside
    // into it, live path absent — and asserts any raw-tree entry
    // point's repair finishes the swap.
    val e = synthVecs(1100).cache()
    val idx = tmp("asrw_idx") + "/index"
    val cen = tmp("asrw_cen") + "/centroids"
    (0 until 2).foreach { i =>
      AnnStream.processIvfBatch(e.filter(pmod($"vec_id", lit(2)) === i),
        i.toLong, idx, cen, "vec_id", "embedding", dim = 64, cells = 8,
        iters = 2)
    }
    val pub = tmp("asrw_pub") + "/serving"
    AnnStream.publishIndex(spark, idx, pub)
    val stage = graft.operators.Sinks.partitionStage(idx)
    graft.FaultFs.installed(spark) {
      assert(graft.FaultFs.crashing(graft.FaultFs.Commit)(c =>
          c.op == "rename" && c.path.endsWith("_pstage/pub0"))(
        AnnStream.migrateCapacityIfNeeded(spark, idx, cen, "vec_id",
          dim = 64, iters = 2, republishPublished = Seq(pub))))
    }
    assert(!new java.io.File(pub).exists(), "not in the rename-aside window")
    // steps: raw tree, published tree (step 1), its watermark, model
    assert(new java.io.File(stage, "pub0").exists() &&
      new java.io.File(stage, "_aside1").exists())
    graft.operators.Sinks.recoverSwap(spark, idx)
    assert(new java.io.File(pub).exists(), "staged copy did not promote")
    assert(!new java.io.File(stage, "_aside1").exists(),
      "set-aside old tree not dropped")
    assert(!new java.io.File(stage, "_commit").exists())
    assert(!new java.io.File(stage).exists())
    // the promoted tree serves, equal to its batch twin
    val queries = e.filter($"vec_id" < 5)
    val served = AnnStream.ivfServeTopK(spark, pub, cen, queries,
        "vec_id", "embedding", topK = 3, nprobe = 2)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    val cents = AnnStream.readCentroids(spark, cen)
    val twin = Ann.integerTopK(
        Ann.portableAssignWithCentroids(e, "vec_id", "embedding", cents),
        Ann.portableQueryCells(queries, "vec_id", "embedding", cents,
          nprobe = 2),
        "vec_id", "cell", 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(served == twin && served.nonEmpty)
  }

  test("retained training slice: PQ retrains after migrate-after-fold; capped, replay-stable, erasable") {
    // the r18 verdict's ask #2: autoCapacity × compactEvery was
    // documented to fail loudly once a migration invalidated the
    // codebook AND compaction folded the batch-0 training slice — the
    // retained sample store closes it: trainPqCodebookFromSlice
    // retrains under the MIGRATED centroids from the slice.
    val e = synthVecs(2000).cache()
    val dup = e.filter($"vec_id" === 3)
      .select(($"vec_id" + 9000).as("vec_id"), $"embedding")
    val corpus = e.unionByName(dup).cache()
    val idx = tmp("asts_idx") + "/index"
    val cen = tmp("asts_cen") + "/centroids"
    (0 until 4).foreach { i =>
      AnnStream.processIvfBatch(
        corpus.filter(pmod($"vec_id", lit(4)) === i), i.toLong, idx, cen,
        "vec_id", "embedding", dim = 64, cells = 8, iters = 2,
        trainSliceRows = 800)
    }
    // capped at 800, spanning batches 0 and 1 (the frozen-prefix
    // sampling: each batch tops up until the cap)
    def sliceRows = spark.read.parquet(idx + "_tslice")
      .select("vec_id").as[Long].collect().toSet
    val slice0 = sliceRows
    assert(slice0.size == 800)
    assert(new java.io.File(idx + "_tslice").listFiles()
      .count(_.getName.startsWith("batch_id=")) == 2,
      "cap of 800 over ~500-row batches must span exactly 2 batch dirs")
    // replay of batch 1 rewrites an IDENTICAL slice contribution
    AnnStream.processIvfBatch(
      corpus.filter(pmod($"vec_id", lit(4)) === 1), 1L, idx, cen,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2,
      trainSliceRows = 800)
    assert(sliceRows == slice0, "slice not replay-stable")
    // fold EVERYTHING (batch 0's training partition gone), then the
    // capacity migration fires 8→16
    DedupStream.compactIndex(spark, idx, upToBatch = 3L,
      partitionCols = Seq("cell"), idCol = Some("vec_id"))
    val mig = AnnStream.migrateCapacityIfNeeded(spark, idx, cen,
      "vec_id", dim = 64, iters = 2)
    assert(mig.exists(_.cells == 16), s"expected 8→16 migration, got $mig")
    // the batch-0 trainer fails loudly, as its contract documents
    intercept[IllegalArgumentException] {
      AnnStream.trainPqCodebook(spark, idx, cen, m = 8, k = 8, iters = 2)
    }
    // the retained slice retrains under the migrated geometry…
    val cb = AnnStream.trainPqCodebookFromSlice(spark, idx, cen,
      m = 8, k = 8, iters = 2)
    assert(cb != Ann.portablePqCodebookSpread(8, 8, 8))
    // …and the full PQ lifecycle serves green: the planted duplicate's
    // residual codes attain the query's ADC minimum in its cell, so it
    // shortlists and the exact rerank ranks it first
    val codedPath = tmp("asts_pq") + "/coded"
    AnnStream.publishPqIndex(spark, idx, cen, codedPath, "vec_id",
      m = 8, k = 8, cb)
    val top = AnnStream.pqServeTopK(spark, codedPath, cen,
        vectors = corpus, queries = corpus.filter($"vec_id" === 3),
        "vec_id", "embedding", m = 8, k = 8, nprobe = 1, shortlist = 20,
        topK = 5, codebook = cb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .find(t => t._1 == 3L && t._2 == 1L).get
    assert(top._3 == 9003L && top._4 == 0L,
      s"planted duplicate did not win under the slice-trained codebook: $top")
    // erasure reaches the retained sample (the right-to-erasure rule:
    // a sampled row never outlives its document)
    val victim = slice0.head
    DedupStream.retireIds(spark, idx + "_tslice",
      Seq(victim).toDF("vec_id"), "vec_id")
    assert(!sliceRows.contains(victim), "retire did not reach the slice")
  }

  test("capacity migration: a mid-ingest boundary crossing retrains and re-shards; equals the one-shot twin") {
    val e = synthVecs(2000).cache()
    val idx = tmp("asmg_idx") + "/index"
    val cen = tmp("asmg_cen") + "/centroids"
    // 4 arrival slices of 500: committed 500 → 8 cells, 1000 → 8,
    // 1500 → 16 (the crossing), 2000 → 16
    (0 until 4).foreach { i =>
      AnnStream.processIvfBatch(e.filter(pmod($"vec_id", lit(4)) === i),
        i.toLong, idx, cen, "vec_id", "embedding", dim = 64, cells = 8,
        iters = 2, autoCells = true)
      val mig = AnnStream.migrateCapacityIfNeeded(spark, idx, cen,
        "vec_id", dim = 64, iters = 2)
      if (i == 2) assert(mig.contains(Ann.IvfCapacity(16, 4)),
        s"expected the 8→16 crossing after batch 2, got $mig")
      else assert(mig.isEmpty, s"spurious migration after batch $i: $mig")
    }
    // the migrated model equals a retrain on the committed prefix at
    // the crossing (slices 0..2) at the rule's cells — and batch 3,
    // arriving after, assigned under the migrated frozen model
    val cents = Ann.portableKmeansCentroids(
      e.filter(pmod($"vec_id", lit(4)) <= 2), "vec_id", "embedding",
      dim = 64, k = 16, iters = 2)
    assert(AnnStream.readCentroids(spark, cen).map(_.toSeq)
      == cents.map(_.toSeq))
    val expected = Ann
      .portableAssignWithCentroids(e, "vec_id", "embedding", cents)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
    val stored = spark.read.parquet(idx)
      .select($"vec_id", $"cell".cast("long")).as[(Long, Long)]
      .collect().toMap
    assert(stored == expected, "re-shard diverged from the one-shot twin")
    // the per-batch layout survived the re-shard (replay discipline,
    // compaction, retirement and the PQ training slice all hang on it)
    val dirs = new java.io.File(idx).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted
    assert(dirs.toSeq == (0 until 4).map(n => s"batch_id=$n"))
    // the re-sent-id guard still dedupes against the re-sharded tree
    // (footer stats refreshed by construction — they travel with files)
    AnnStream.processIvfBatch(e.filter($"vec_id" < 100), 4L, idx, cen,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    val ids = spark.read.parquet(idx).select("vec_id").as[Long].collect()
    assert(ids.length == ids.distinct.length, "re-sent ids duplicated")
    // serve from the migrated tree matches the twin's cell restriction
    val queries = e.filter($"vec_id" < 5)
    val served = AnnStream.ivfServeTopK(spark, idx, cen, queries,
      "vec_id", "embedding", topK = 3, nprobe = 2)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    val twinIdx = Ann.portableAssignWithCentroids(e, "vec_id",
      "embedding", cents)
    val twinQ = Ann.portableQueryCells(queries, "vec_id", "embedding",
      cents, nprobe = 2)
    val twin = Ann.integerTopK(twinIdx, twinQ, "vec_id", "cell", 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(served == twin)
  }

  test("capacity migration: no-op below the boundary, never shrinks, invalidates serving trees") {
    val small = emb.cache() // 500 rows — the rule's floor
    val idx = tmp("asmn_idx") + "/index"
    val cen = tmp("asmn_cen") + "/centroids"
    AnnStream.processIvfBatch(small, 0L, idx, cen, "vec_id", "embedding",
      dim = 64, cells = 8, iters = 2)
    assert(AnnStream.migrateCapacityIfNeeded(spark, idx, cen,
      "vec_id", dim = 64, iters = 2).isEmpty)
    // never shrink: a 16-cell model over 500 rows stays (roomier costs
    // read amplification, not recall — and thrash-free under retires)
    val idx2 = tmp("asmn_idx2") + "/index"
    val cen2 = tmp("asmn_cen2") + "/centroids"
    AnnStream.processIvfBatch(small, 0L, idx2, cen2, "vec_id",
      "embedding", dim = 64, cells = 16, iters = 2)
    assert(AnnStream.migrateCapacityIfNeeded(spark, idx2, cen2,
      "vec_id", dim = 64, iters = 2).isEmpty)
    assert(AnnStream.readCentroids(spark, cen2).length == 16)
    // a REAL migration deletes the published + coded layouts (their
    // cell geometry is the old model's) and the next publish re-points
    val e = synthVecs(1500).cache()
    val idx3 = tmp("asmn_idx3") + "/index"
    val cen3 = tmp("asmn_cen3") + "/centroids"
    val pub = tmp("asmn_pub") + "/serving"
    val coded = tmp("asmn_pq") + "/coded"
    AnnStream.processIvfBatch(e.filter($"vec_id" < 1000), 0L, idx3, cen3,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    AnnStream.publishIndex(spark, idx3, pub)
    AnnStream.publishPqIndex(spark, idx3, cen3, coded, "vec_id",
      m = 8, k = 8)
    AnnStream.processIvfBatch(e.filter($"vec_id" >= 1000), 1L, idx3, cen3,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    val mig = AnnStream.migrateCapacityIfNeeded(spark, idx3, cen3,
      "vec_id", dim = 64, iters = 2, servingTrees = Seq(pub, coded))
    assert(mig.contains(Ann.IvfCapacity(16, 4)))
    assert(!new java.io.File(pub).exists(), "stale published tree kept")
    assert(!new java.io.File(coded).exists(), "stale coded tree kept")
    assert(!new java.io.File(pub + "_pubmeta").exists(),
      "stale publish watermark kept")
    // the maintenance cadence republises under the new model and
    // serves from the re-pointed tree
    AnnStream.publishIndex(spark, idx3, pub)
    val q5 = e.filter($"vec_id" < 5)
    assert(AnnStream.ivfServeTopK(spark, pub, cen3, q5, "vec_id",
      "embedding", topK = 3, nprobe = 2).count() == 15)
  }

  test("capacity migration: crash repair rolls staging back and a committed marker forward") {
    val e = synthVecs(1500).cache()
    val idx = tmp("asmc_idx") + "/index"
    val cen = tmp("asmc_cen") + "/centroids"
    AnnStream.processIvfBatch(e, 0L, idx, cen, "vec_id", "embedding",
      dim = 64, cells = 8, iters = 2)
    val before = spark.read.parquet(idx)
      .select($"vec_id", $"cell".cast("long")).as[(Long, Long)]
      .collect().toMap
    // pre-commit crash: the real migration staged its tree and model,
    // then crashed at the commit record's rename — roll back (live
    // tree and model untouched)
    val stage = new java.io.File(graft.operators.Sinks.partitionStage(idx))
    graft.FaultFs.installed(spark) {
      assert(graft.FaultFs.crashing(graft.FaultFs.Commit)(_.n == 2)(
        AnnStream.migrateCapacityIfNeeded(spark, idx, cen, "vec_id",
          dim = 64, iters = 2)))
    }
    assert(new java.io.File(stage, "tree").exists() &&
      new java.io.File(stage, "model").exists())
    assert(AnnStream.readCentroids(spark, cen).length == 8)
    AnnStream.migrateCapacityIfNeeded(spark, idx, cen, "vec_id",
      dim = 64, iters = 2) // entry repair rolls the debris back...
    assert(!stage.exists())
    // ...and then COMMITS the real migration this corpus needs (1500
    // rows under an 8-cell model): verify the post state, then rebuild
    // the PRE state to exercise the roll-FORWARD path below
    assert(AnnStream.readCentroids(spark, cen).length == 16)
    // roll-forward: crash the real migration at its first move, just
    // after the record committed staged model + staged re-shard, and
    // let a SERVE's entry repair finish it
    val idx2 = tmp("asmc_idx2") + "/index"
    val cen2 = tmp("asmc_cen2") + "/centroids"
    AnnStream.processIvfBatch(e, 0L, idx2, cen2, "vec_id", "embedding",
      dim = 64, cells = 8, iters = 2)
    val cents16 = Ann.portableKmeansCentroids(e, "vec_id", "embedding",
      dim = 64, k = 16, iters = 2)
    val stage2 = new java.io.File(graft.operators.Sinks.partitionStage(idx2))
    graft.FaultFs.installed(spark) {
      assert(graft.FaultFs.crashing(graft.FaultFs.Commit)(_.n == 3)(
        AnnStream.migrateCapacityIfNeeded(spark, idx2, cen2, "vec_id",
          dim = 64, iters = 2)))
    }
    assert(new java.io.File(stage2, "_commit").exists())
    // any raw-tree entry point repairs: the serve must pair the
    // promoted tree with the promoted model (never mix old/new)
    val served = AnnStream.ivfServeTopK(spark, idx2, cen2,
      e.filter($"vec_id" < 5), "vec_id", "embedding", topK = 3)
    assert(served.count() == 15)
    assert(AnnStream.readCentroids(spark, cen2).map(_.toSeq)
      == cents16.map(_.toSeq))
    assert(!new java.io.File(stage2, "_commit").exists())
    assert(!stage2.exists())
    val stored = spark.read.parquet(idx2)
      .select($"vec_id", $"cell".cast("long")).as[(Long, Long)]
      .collect().toMap
    val expected = Ann
      .portableAssignWithCentroids(e, "vec_id", "embedding", cents16)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
    assert(stored == expected && stored != before)
  }

  test("property: queue drains, raw compactions and delta publishes interleave safely") {
    // The documented safe window for maintenance is "between
    // micro-batches, from the stream's own cadence"; the r15 property
    // spec exercised drain × compaction — this drives the THIRD op,
    // publishIndexDelta, through the same interleave against an
    // ivfIngest running with retireServing. Invariants at every round:
    //   raw tree  = ingested − retired        (drains erase, folds
    //                                          relayout, never resurrect)
    //   serving   = ingested-at-last-publish − retired-ever
    //                                          (a drain erases from
    //                                          serving in the same pass,
    //                                          so ids retired AFTER their
    //                                          batch was folded still
    //                                          leave; a delta publish
    //                                          never re-adds a retired
    //                                          id because the drain
    //                                          removed it from raw first)
    // Compaction folds 0..N-1 into batch_id=N-1, which can sit PAST the
    // publish watermark — the delta merge's anti-join makes the re-fold
    // idempotent by id, and the assert catches any duplicate.
    val e = emb.cache()
    val vecsDir = tmp("as3i_vecs"); val indexPath = tmp("as3i_idx") + "/index"
    val centroidsPath = tmp("as3i_cen") + "/centroids"
    val ckpt = tmp("as3i_ckpt"); val queue = tmp("as3i_queue") + "/queue"
    val servingPath = tmp("as3i_pub") + "/serving"
    val slices = 6
    def land(i: Int): Set[Long] = {
      val s = e.filter(pmod($"vec_id", lit(slices)) === i)
      s.coalesce(1).write.mode("append").parquet(vecsDir)
      s.select("vec_id").as[Long].collect().toSet
    }
    def treeIds(p: String): Seq[Long] =
      spark.read.parquet(p).select("vec_id").as[Long].collect().toSeq
    val rng = new scala.util.Random(16L)
    var ingested = land(0) // batch 0 trains the quantizer
    var retired = Set.empty[Long]
    var publishedAt = Set.empty[Long]
    val q = AnnStream.ivfIngest(spark, vecsDir, e.schema, indexPath,
      centroidsPath, ckpt, dim = 64, cells = 8, iters = 2,
      retireQueue = Some(queue), retireServing = Seq(servingPath))
    try {
      q.processAllAvailable()
      AnnStream.publishIndex(spark, indexPath, servingPath)
      publishedAt = ingested -- retired
      (1 until slices).foreach { round =>
        // request: seeded subset of already-ingested ids (some possibly
        // already retired — idempotence) plus a never-ingested id
        val subset = ingested.filter(_ => rng.nextDouble() < 0.15) ++
          Seq(900000L + round)
        subset.toSeq.toDF("vec_id").coalesce(1).write.mode("append")
          .parquet(queue)
        retired ++= subset
        ingested ++= land(round) // arrivals disjoint: never re-ingests
        q.processAllAvailable()  // drain (raw + serving), then the batch
        val raw = treeIds(indexPath)
        assert(raw.toSet == ingested -- retired, s"round $round: raw diverged")
        assert(raw.length == raw.distinct.length, s"round $round: raw dups")
        if (round % 2 == 1) { // quiesced gap: fold the delta into serving
          AnnStream.publishIndexDelta(spark, indexPath, servingPath)
          publishedAt = ingested -- retired
        }
        if (round % 3 == 2) // quiesced gap: fold the raw prefix
          DedupStream.compactIndex(spark, indexPath, upToBatch = round - 1L,
            partitionCols = Seq("cell"))
        val served = treeIds(servingPath)
        assert(served.toSet == publishedAt -- retired,
          s"round $round: serving diverged")
        assert(served.length == served.distinct.length,
          s"round $round: serving dups")
      }
    } finally q.stop()
  }

  test("capacity migration: a queue drain against a mid-commit crash repairs FIRST — erasure is never resurrected") {
    // the r17 review's erasure-resurrection scenario: migration
    // committed its marker but crashed before promoting; the next
    // thing to touch the tree is the DRAIN (it runs ahead of the
    // batch in ingestBody). Without the drain-side repair the retire
    // would rewrite the superseded live tree and the later roll-
    // forward would promote the staged PRE-retire copy — a consumed
    // request whose ids come back.
    val e = synthVecs(1500).cache()
    val idx = tmp("asmd_idx") + "/index"
    val cen = tmp("asmd_cen") + "/centroids"
    AnnStream.processIvfBatch(e, 0L, idx, cen, "vec_id", "embedding",
      dim = 64, cells = 8, iters = 2)
    val cents16 = Ann.portableKmeansCentroids(e, "vec_id", "embedding",
      dim = 64, k = 16, iters = 2)
    commitUnpromoted(idx, cen)
    // a pending retire request lands and the drain runs (the
    // ingestBody pre-batch path)
    val queue = tmp("asmd_queue") + "/queue"
    val victim = 7L
    val stage = tmp("asmd_stage")
    Seq(victim).toDF("vec_id").coalesce(1).write.parquet(stage + "/r")
    new java.io.File(queue).mkdirs()
    val part = new java.io.File(stage + "/r").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(queue, "req_001.parquet"))
    assert(AnnStream.drainRetireQueue(spark, queue,
      Seq(idx -> Seq("cell")), Nil, "vec_id") == 1)
    // the drain repaired forward THEN retired: the tree is the
    // MIGRATED assignment minus the victim, and stays so after any
    // later entry repair
    AnnStream.migrateCapacityIfNeeded(spark, idx, cen, "vec_id",
      dim = 64, iters = 2) // entry repair; rule satisfied → no-op
    val ids = spark.read.parquet(idx).select("vec_id").as[Long]
      .collect().toSet
    assert(!ids.contains(victim), "erasure resurrected by roll-forward")
    assert(AnnStream.readCentroids(spark, cen).map(_.toSeq)
      == cents16.map(_.toSeq))
  }

  test("capacity migration: a DIRECT retireIds/compactIndex against a mid-commit crash repairs FIRST — erasure is never resurrected") {
    // the r18 advice's scenario: same bug class as the drain-side r17
    // fix, but through the PUBLIC quiesced-window APIs — retireIds and
    // compactIndex called directly (not via drainRetireQueue) against
    // a tree whose migration committed its marker but never promoted.
    // Without the hoisted repair the retire rewrites the SUPERSEDED
    // live tree and the next entry's roll-forward promotes the staged
    // PRE-retire copy, resurrecting the erased id.
    val e = synthVecs(1500).cache()
    val idx = tmp("asmr_idx") + "/index"
    val cen = tmp("asmr_cen") + "/centroids"
    AnnStream.processIvfBatch(e, 0L, idx, cen, "vec_id", "embedding",
      dim = 64, cells = 8, iters = 2)
    val cents16 = Ann.portableKmeansCentroids(e, "vec_id", "embedding",
      dim = 64, k = 16, iters = 2)
    commitUnpromoted(idx, cen)
    // the public erasure API runs DIRECTLY (a quiesced-window operator
    // action) — its entry repair must roll the migration forward first
    val victim = 7L
    DedupStream.retireIds(spark, idx, Seq(victim).toDF("vec_id"),
      "vec_id", Seq("cell"))
    val ids = spark.read.parquet(idx).select("vec_id").as[Long]
      .collect().toSet
    assert(!ids.contains(victim), "retire applied to the superseded tree")
    assert(AnnStream.readCentroids(spark, cen).map(_.toSeq)
      == cents16.map(_.toSeq), "retireIds entry did not promote the model")
    // and compactIndex on a SECOND mid-commit crash, of the 16 → 32
    // migration a corpus past 16²·16 rows needs: the fold must run on
    // the promoted tree, not the superseded one
    AnnStream.processIvfBatch(synthVecs(4200).filter($"vec_id" >= 1500),
      1L, idx, cen, "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    commitUnpromoted(idx, cen)
    DedupStream.compactIndex(spark, idx, upToBatch = 1L,
      partitionCols = Seq("cell"))
    assert(AnnStream.readCentroids(spark, cen).length == 32,
      "compactIndex entry did not promote the model")
    val cells = spark.read.parquet(idx).select($"cell".cast("long"))
      .distinct().as[Long].collect()
    assert(cells.forall(_ < 32) && cells.exists(_ >= 16),
      "fold ran against the superseded 16-cell tree")
  }

  test("capacity migration: an ingest batch after a mid-commit crash is assigned under the promoted model") {
    // a stream that crashed inside a migration's promote replays its
    // batch: the batch must be assigned under the model the repaired
    // tree is sharded by, not the superseded one it could read first
    val e = synthVecs(1600).cache()
    val idx = tmp("asmi_idx") + "/index"
    val cen = tmp("asmi_cen") + "/centroids"
    AnnStream.processIvfBatch(e.filter($"vec_id" < 1500), 0L, idx, cen,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    commitUnpromoted(idx, cen)
    AnnStream.processIvfBatch(e.filter($"vec_id" >= 1500), 1L, idx, cen,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    val cents = AnnStream.readCentroids(spark, cen)
    assert(cents.length == 16)
    val stored = spark.read.parquet(idx).filter($"batch_id" === 1L)
      .select($"vec_id", $"cell".cast("long")).as[(Long, Long)]
      .collect().toMap
    val expected = Ann.portableAssignWithCentroids(
        e.filter($"vec_id" >= 1500), "vec_id", "embedding", cents)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
    assert(stored == expected, "batch assigned under the superseded model")
  }

  test("capacity migration: a slice-trained codebook after a mid-commit crash trains under the promoted model") {
    val e = synthVecs(1500).cache()
    val idx = tmp("asmk_idx") + "/index"
    val cen = tmp("asmk_cen") + "/centroids"
    AnnStream.processIvfBatch(e, 0L, idx, cen, "vec_id", "embedding",
      dim = 64, cells = 8, iters = 2, trainSliceRows = 600)
    commitUnpromoted(idx, cen)
    def train() = AnnStream.trainPqCodebookFromSlice(spark, idx, cen,
      m = 8, k = 8, iters = 2)
    val cb = train()
    assert(AnnStream.readCentroids(spark, cen).length == 16)
    assert(cb == train(), "codebook trained under the superseded model")
  }

  test("batch-0 retrain guard: a fresh ingest never reuses a stale model from a recycled centroids path") {
    val old = synthVecs(400).cache()
    val fresh = emb.cache()
    val cen = tmp("asbg_cen") + "/centroids"
    // a model trained on UNRELATED old data sits at the path
    AnnStream.writeCentroids(spark, Ann.portableKmeansCentroids(old,
      "vec_id", "embedding", dim = 64, k = 8, iters = 2), cen)
    val stale = AnnStream.readCentroids(spark, cen)
    // fresh ingest: new index path, batch 0 — must RETRAIN (the skip
    // is only for replays, evidenced by a committed index tree)
    val idx = tmp("asbg_idx") + "/index"
    AnnStream.processIvfBatch(fresh, 0L, idx, cen, "vec_id", "embedding",
      dim = 64, cells = 8, iters = 2)
    val trained = AnnStream.readCentroids(spark, cen)
    val expected = Ann.portableKmeansCentroids(fresh, "vec_id",
      "embedding", dim = 64, k = 8, iters = 2)
    assert(trained.map(_.toSeq) == expected.map(_.toSeq))
    assert(trained.map(_.toSeq) != stale.map(_.toSeq))
    // and a batch-0 REPLAY (committed tree now present) reads, never
    // clobbers — the migration-survival half of the guard
    AnnStream.processIvfBatch(fresh, 0L, idx, cen, "vec_id", "embedding",
      dim = 64, cells = 16, iters = 2) // different cells param: ignored
    assert(AnnStream.readCentroids(spark, cen).length == 8)
  }

  test("property: drains, compactions, delta publishes AND capacity migrations interleave safely") {
    // The r16 three-op property extended with the FOURTH maintenance
    // op: an autoCapacity ivfIngest whose corpus CROSSES the 8→16
    // boundary mid-run while seeded retires drain and the serving tree
    // publishes incrementally. Invariants at every round:
    //   raw tree   = ingested − retired   (ids are invariant under a
    //                                      migration — it rewrites
    //                                      cells, never rows)
    //   centroids  = the rule's cells at the LARGEST committed count
    //                any post-batch check saw (monotone; never shrinks
    //                when retires reduce n)
    //   serving    = published-at-last-publish − retired-ever while a
    //                published tree exists; a migration DELETES it
    //                (stale geometry must fail loudly, not serve), and
    //                the next delta publish detects the missing tree
    //                and re-points via a full fold under the new model
    val e = synthVecs(3000).cache()
    val slices = 6
    val vecsDir = tmp("as4i_vecs"); val indexPath = tmp("as4i_idx") + "/index"
    val centroidsPath = tmp("as4i_cen") + "/centroids"
    val ckpt = tmp("as4i_ckpt"); val queue = tmp("as4i_queue") + "/queue"
    val servingPath = tmp("as4i_pub") + "/serving"
    def land(i: Int): Set[Long] = {
      val s = e.filter(pmod($"vec_id", lit(slices)) === i)
      s.coalesce(1).write.mode("append").parquet(vecsDir)
      s.select("vec_id").as[Long].collect().toSet
    }
    def treeIds(p: String): Seq[Long] =
      spark.read.parquet(p).select("vec_id").as[Long].collect().toSeq
    val rng = new scala.util.Random(17L)
    var ingested = land(0)
    var retired = Set.empty[Long]
    var publishedAt = Set.empty[Long]
    var servingLive = false
    var expectedCells = 8 // rule(500) — the autoCells bootstrap point
    val q = AnnStream.ivfIngest(spark, vecsDir, e.schema, indexPath,
      centroidsPath, ckpt, dim = 64, cells = 8, iters = 2,
      retireQueue = Some(queue), retireServing = Seq(servingPath),
      autoCapacity = true)
    try {
      q.processAllAvailable()
      assert(AnnStream.readCentroids(spark, centroidsPath).length
        == expectedCells)
      (1 until slices).foreach { round =>
        val subset = ingested.filter(_ => rng.nextDouble() < 0.15) ++
          Seq(900000L + round)
        subset.toSeq.toDF("vec_id").coalesce(1).write.mode("append")
          .parquet(queue)
        retired ++= subset
        ingested ++= land(round)
        q.processAllAvailable() // drain, batch, capacity check
        val committed = (ingested -- retired).size.toLong
        val newCells = math.max(expectedCells,
          Ann.ivfCapacityForCorpus(committed).cells)
        if (newCells != expectedCells) { // a migration must have fired
          expectedCells = newCells
          servingLive = false; publishedAt = Set.empty
          assert(!new java.io.File(servingPath).exists(),
            s"round $round: migration left a stale published tree")
        }
        assert(AnnStream.readCentroids(spark, centroidsPath).length
          == expectedCells, s"round $round: capacity invariant broken")
        val raw = treeIds(indexPath)
        assert(raw.toSet == ingested -- retired, s"round $round: raw diverged")
        assert(raw.length == raw.distinct.length, s"round $round: raw dups")
        if (round % 2 == 1) { // quiesced gap: fold the delta in
          AnnStream.publishIndexDelta(spark, indexPath, servingPath)
          publishedAt = ingested -- retired
          servingLive = true
        }
        if (round % 3 == 2) // quiesced gap: fold the raw prefix
          DedupStream.compactIndex(spark, indexPath, upToBatch = round - 1L,
            partitionCols = Seq("cell"))
        if (servingLive) {
          val served = treeIds(servingPath)
          assert(served.toSet == publishedAt -- retired,
            s"round $round: serving diverged")
          assert(served.length == served.distinct.length,
            s"round $round: serving dups")
        } else assert(!new java.io.File(servingPath).exists(),
          s"round $round: un-republished serving tree reappeared")
      }
      // the crossing actually happened (the property is non-vacuous)
      assert(expectedCells == 16, s"corpus never crossed: $expectedCells")
    } finally q.stop()
  }

  test("property: drains, compactions, delta publishes and ZERO-OUTAGE republishing migrations interleave safely") {
    // The four-op property with the migration's r18 disposition
    // flipped: the serving tree is LISTED for republish
    // (migratePublished), so a boundary crossing republishes it INSIDE
    // the migration commit instead of deleting it. Invariants:
    //   raw tree   = ingested − retired (unchanged)
    //   centroids  = monotone rule cells (unchanged)
    //   serving    = after a migration, exactly the raw tree at the
    //                commit (ingested − retired at that instant — the
    //                zero-outage claim); between publishes,
    //                published-at-last-(re)publish − retired-ever.
    //                The four-op variant's loud window (tree deleted
    //                until the next publish) never opens: once the
    //                first publish lands, the tree EXISTS at every
    //                quiesced observation point for the rest of the
    //                run, through two maintenance ops that rewrite it
    //                (delta publish, drain-retire) and one that swaps
    //                it wholesale (the migration republish).
    val e = synthVecs(3000).cache()
    val slices = 6
    val vecsDir = tmp("as5i_vecs"); val indexPath = tmp("as5i_idx") + "/index"
    val centroidsPath = tmp("as5i_cen") + "/centroids"
    val ckpt = tmp("as5i_ckpt"); val queue = tmp("as5i_queue") + "/queue"
    val servingPath = tmp("as5i_pub") + "/serving"
    def land(i: Int): Set[Long] = {
      val s = e.filter(pmod($"vec_id", lit(slices)) === i)
      s.coalesce(1).write.mode("append").parquet(vecsDir)
      s.select("vec_id").as[Long].collect().toSet
    }
    def treeIds(p: String): Seq[Long] =
      spark.read.parquet(p).select("vec_id").as[Long].collect().toSeq
    val rng = new scala.util.Random(23L)
    var ingested = land(0)
    var retired = Set.empty[Long]
    var publishedAt = Set.empty[Long]
    var servingLive = false
    var expectedCells = 8
    // retireServing deliberately EMPTY: the serving tree is listed only
    // for migration republish, and the drain must reach it through that
    // list alone — a tree serving between migrations must honor erasure
    // without being double-listed (r18 review); the four-op property
    // covers the retireServing route
    val q = AnnStream.ivfIngest(spark, vecsDir, e.schema, indexPath,
      centroidsPath, ckpt, dim = 64, cells = 8, iters = 2,
      retireQueue = Some(queue), retireServing = Nil,
      autoCapacity = true, migratePublished = Seq(servingPath))
    try {
      q.processAllAvailable()
      (1 until slices).foreach { round =>
        val subset = ingested.filter(_ => rng.nextDouble() < 0.15) ++
          Seq(900000L + round)
        subset.toSeq.toDF("vec_id").coalesce(1).write.mode("append")
          .parquet(queue)
        retired ++= subset
        ingested ++= land(round)
        q.processAllAvailable() // drain, batch, capacity check
        val committed = (ingested -- retired).size.toLong
        val newCells = math.max(expectedCells,
          Ann.ivfCapacityForCorpus(committed).cells)
        if (newCells != expectedCells) { // a migration fired — and the
          expectedCells = newCells      // serving tree came WITH it
          publishedAt = ingested -- retired
          servingLive = true
          assert(new java.io.File(servingPath).exists(),
            s"round $round: zero-outage migration left no serving tree")
        }
        assert(AnnStream.readCentroids(spark, centroidsPath).length
          == expectedCells, s"round $round: capacity invariant broken")
        val raw = treeIds(indexPath)
        assert(raw.toSet == ingested -- retired, s"round $round: raw diverged")
        assert(raw.length == raw.distinct.length, s"round $round: raw dups")
        if (round % 2 == 1) { // quiesced gap: fold the delta in
          AnnStream.publishIndexDelta(spark, indexPath, servingPath)
          publishedAt = ingested -- retired
          servingLive = true
        }
        if (round % 3 == 2) // quiesced gap: fold the raw prefix
          DedupStream.compactIndex(spark, indexPath, upToBatch = round - 1L,
            partitionCols = Seq("cell"))
        if (servingLive) {
          val served = treeIds(servingPath)
          assert(served.toSet == publishedAt -- retired,
            s"round $round: serving diverged")
          assert(served.length == served.distinct.length,
            s"round $round: serving dups")
          // the zero-outage contract is not just existence — the tree
          // ANSWERS at every observation point (embedded geometry
          // after a migration, external model otherwise)
          assert(AnnStream.ivfServeTopK(spark, servingPath, centroidsPath,
            e.filter($"vec_id" === 6), "vec_id", "embedding",
            topK = 3, nprobe = 2).count() > 0,
            s"round $round: live serving tree did not answer")
        }
      }
      // the crossing actually happened (the property is non-vacuous)
      assert(expectedCells == 16, s"corpus never crossed: $expectedCells")
      assert(servingLive, "serving tree never went live")
    } finally q.stop()
  }

  test("all-retired raw tree: republish ERASES serving trees, serves empty, retire no-ops") {
    val e = emb.filter($"vec_id" < 50).cache()
    val indexPath = tmp("asae_idx") + "/index"
    val centroidsPath = tmp("asae_cen") + "/centroids"
    AnnStream.processIvfBatch(e, 0L, indexPath, centroidsPath,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    val servingPath = tmp("asae_pub") + "/serving"
    val codedPath = tmp("asae_pq") + "/coded"
    AnnStream.publishIndex(spark, indexPath, servingPath)
    AnnStream.publishPqIndex(spark, indexPath, centroidsPath, codedPath,
      "vec_id", m = 8, k = 8)
    // erase the WHOLE corpus from the raw tree only: batch dirs
    // remain, zero data files
    AnnStream.retireIds(spark, servingPath, e.limit(0).select("vec_id"),
      "vec_id") // empty retire set: sanity no-op first
    DedupStream.retireIds(spark, indexPath, e.select("vec_id"), "vec_id",
      partitionCols = Seq("cell"))
    assert(spark.read.parquet(servingPath).count() > 0) // not yet erased
    // the republish of an EMPTY corpus is an EMPTY serving tree — the
    // "retired rows leave the serving tree at the next publish"
    // contract, not a silent skip
    AnnStream.publishIndex(spark, indexPath, servingPath)
    val queries = e.filter($"vec_id" < 5)
    assert(AnnStream.ivfServeTopK(spark, servingPath, centroidsPath,
      queries, "vec_id", "embedding", topK = 3, nprobe = 2).isEmpty)
    assert(AnnStream.ivfServeTopK(spark, indexPath, centroidsPath,
      queries, "vec_id", "embedding", topK = 3, nprobe = 2).isEmpty)
    // the PQ republish erases the coded tree the same way
    assert(spark.read.parquet(codedPath).count() > 0)
    AnnStream.publishPqIndex(spark, indexPath, centroidsPath, codedPath,
      "vec_id", m = 8, k = 8)
    assert(AnnStream.pqServeTopK(spark, codedPath, centroidsPath,
      vectors = e, queries = queries, "vec_id", "embedding",
      m = 8, k = 8, nprobe = 2, shortlist = 20, topK = 3).isEmpty)
    // maintenance on the now-fileless trees: all safe no-ops (a queue
    // drain hits retireIds every batch — it must not kill the stream)
    AnnStream.retireIds(spark, servingPath, e.select("vec_id"), "vec_id")
    AnnStream.retireIds(spark, codedPath, e.select("vec_id"), "vec_id")
    AnnStream.publishIndexDelta(spark, indexPath, servingPath)
    // the trainer's contract failure is the spelled-out one, not a
    // schema-inference crash
    val err = intercept[IllegalArgumentException] {
      AnnStream.trainPqCodebook(spark, indexPath, centroidsPath,
        m = 8, k = 8, iters = 2)
    }
    assert(err.getMessage.contains("no data files"))
    // a NONEXISTENT path is a misconfiguration, not an empty corpus:
    // serves fail loudly instead of answering empty forever
    val missing = tmp("asae_missing") + "/nope"
    val errServe = intercept[IllegalArgumentException] {
      AnnStream.ivfServeTopK(spark, missing, centroidsPath,
        queries, "vec_id", "embedding", topK = 3)
    }
    assert(errServe.getMessage.contains("does not exist"))
    val errPq = intercept[IllegalArgumentException] {
      AnnStream.pqServeTopK(spark, missing, centroidsPath,
        vectors = e, queries = queries, "vec_id", "embedding",
        m = 8, k = 8, nprobe = 2, shortlist = 20, topK = 3)
    }
    assert(errPq.getMessage.contains("does not exist"))
    // life after erasure: a re-crawl lands as a new batch and the
    // routine delta publish folds it onto the ERASED serving tree
    // (the empty-existing merge branch) — the corpus comes back
    AnnStream.processIvfBatch(e.filter($"vec_id" < 10), 1L, indexPath,
      centroidsPath, "vec_id", "embedding", dim = 64, cells = 8,
      iters = 2)
    AnnStream.publishIndexDelta(spark, indexPath, servingPath)
    assert(spark.read.parquet(servingPath).count() == 10)
    val back = AnnStream.ivfServeTopK(spark, servingPath, centroidsPath,
      queries, "vec_id", "embedding", topK = 1, nprobe = 2)
    assert(!back.isEmpty)
  }

  test("batch 0's dedup write plans no join against the empty committed-id frame") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, LogicalPlan)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.add(f -> qe.optimizedPlan)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try AnnStream.processIvfBatch(emb, 0L, tmp("asnj_idx") + "/index",
      tmp("asnj_cen") + "/centroids", "vec_id", "embedding", dim = 64,
      cells = 8, iters = 2)
    finally {
      assert(org.apache.spark.sql.graftbridge.ListenerBusBridge.drain(
        spark.sparkContext))
      spark.listenerManager.unregister(listener)
    }
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq
    assert(all.exists(_._1 == "command"), all.map(_._1))
    assert(!all.exists(_._2.exists(_.isInstanceOf[Join])),
      all.map(_._2.treeString).mkString("\n"))
  }
}
