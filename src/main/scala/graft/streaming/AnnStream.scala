package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.core.{DriverFold, SmallParquet}
import graft.operators.Sinks
import graft.similarity.Ann

/** Streaming ingest for the ANN serving index: embedding files landing
  * in a directory are assigned to coarse IVF cells per micro-batch and
  * persisted as a CELL-PARTITIONED parquet index, so that
  *  1. ingest COMPUTE scales with the BATCH (quantize + k-way argmin
  *     per row against broadcast-literal centroids — no shuffle of
  *     the corpus, no re-quantization of committed vectors; the
  *     re-sent-id guard's committed-index touch is bounded by parquet
  *     footer stats to partitions whose id ranges intersect the
  *     batch's id hull — metadata-only under monotone arrival ids —
  *     see [[committedIds]]), and
  *  2. a serve-time query reads ONLY the probed cells' files
  *     (partition-directory pruning on `cell=`), i.e. query cost is
  *     proportional to the probed inverted lists, never the corpus —
  *     the property that makes an IVF index useful at 100 TB.
  *
  * The coarse quantizer is TRAINED ON THE FIRST ARRIVAL SLICE and then
  * FROZEN ([[Ann.portableKmeansCentroids]] on batch 0, stored beside
  * the index): the standard practice for a corpus that cannot be
  * rescanned — train on a sample, freeze, assign everything after.
  * Because later batches never move the centroids, cell assignment is
  * a pure per-row function once batch 0 commits, and the accumulated
  * index equals the batch build "train on slice 0, assign the whole
  * corpus" for ANY arrival split of the remaining data — which is what
  * lets a driver query verify the streamed index against a one-shot
  * batch oracle (s13).
  *
  * Crash safety as [[DedupStream.processBatch]]: every write is a
  * per-batch overwrite of a deterministic function of the committed
  * prefix. A replay of batch 0 retrains on the identical batch (exact
  * integer Lloyd's — bit-identical centroids) and overwrites; a replay
  * of batch N > 0 reads the frozen centroids and overwrites its own
  * `batch_id=N` directory.
  */
object AnnStream {

  /** Persist trained centroids as `(cell, c)` rows — the model object
    * (k·dim longs), one file — through the staged commit, so a
    * concurrent serve or replay always sees a complete model on disk. */
  def writeCentroids(spark: SparkSession, cents: Seq[Array[Long]],
      path: String): Unit = {
    Sinks.recoverSwap(spark, path)
    commitSmall(spark, path, CentroidsSchema, centroidRows(cents))
  }

  /** The columns a one-partition Spark write of each model leaves, as
    * external readers and models written before the driver codec have
    * them: centroids, a PQ codebook, a publish watermark. */
  private val CentroidsSchema = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("c", ArrayType(LongType, containsNull = false))))
  private val CodebookSchema = StructType(Seq(
    StructField("j", IntegerType, nullable = false),
    StructField("code", IntegerType, nullable = false),
    StructField("c", ArrayType(LongType, containsNull = false))))
  private val WatermarkSchema =
    StructType(Seq(StructField("last_batch", LongType, nullable = false)))

  private def centroidRows(cents: Seq[Array[Long]]): Seq[Seq[Any]] =
    cents.zipWithIndex.map { case (c, j) => Seq(j.toLong, c.toSeq) }

  private def centroidsOf(rows: Seq[Map[String, Any]]): Seq[Array[Long]] =
    rows.sortBy(_("cell").asInstanceOf[Long])
      .map(_("c").asInstanceOf[Seq[Long]].toArray)

  private def codebookRows(cb: Seq[Seq[Seq[Long]]]): Seq[Seq[Any]] =
    cb.zipWithIndex.flatMap { case (codes, j) =>
      codes.zipWithIndex.map { case (c, code) => Seq(j, code, c) }
    }

  private def codebookOf(rows: Seq[Map[String, Any]]): Seq[Seq[Seq[Long]]] = {
    val byKey = rows.map(r => (r("j").asInstanceOf[Int],
      r("code").asInstanceOf[Int]) -> r("c").asInstanceOf[Seq[Long]]).toMap
    val m = byKey.keys.map(_._1).max + 1
    val k = byKey.keys.map(_._2).max + 1
    (0 until m).map(j => (0 until k).map(c => byKey((j, c)).toSeq))
  }

  /** Commit a small artifact as the tree at `path`, which the caller
    * has repaired: the file ([[SmallParquet]], written on the driver)
    * stages under the tree's stage and one move commits it. */
  private def commitSmall(spark: SparkSession, path: String,
      schema: StructType, rows: Seq[Seq[Any]]): Unit = {
    val staged = Sinks.partitionStage(path) + "/tree"
    SmallParquet.write(spark, staged, schema, rows)
    Sinks.commitStaged(spark, path, Seq(Sinks.Move(staged, path)))
  }

  /** Load frozen centroids back as the literal model object: one repair
    * (a crashed commit rolls forward or back first), one file read. */
  def readCentroids(spark: SparkSession, path: String): Seq[Array[Long]] =
    loadCentroids(spark, path).getOrElse(
      throw new java.io.FileNotFoundException(s"no centroid model at $path"))

  /** [[readCentroids]]; None when `path` holds no committed model. */
  private def loadCentroids(spark: SparkSession,
      path: String): Option[Seq[Array[Long]]] = {
    Sinks.recoverSwap(spark, path)
    SmallParquet.read(spark, path).map(centroidsOf)
  }

  /** EMBEDDED GEOMETRY (round-18 verdict #1 — zero-outage migration):
    * a serving cell tree can carry its OWN copy of the model inside
    * the tree directory — centroids under `<tree>/_model`, and for a
    * PQ-coded tree the codebook under `<tree>/_codebook` (underscore
    * prefix: invisible to the tree's own parquet reads and to
    * partition discovery). Because every serving-tree commit here is
    * ONE directory rename (the staged-promote protocols), geometry
    * staged INSIDE the tree commits atomically WITH it — a reader that
    * takes only the tree path can never pair new-geometry rows with an
    * old model, the same placed-where-it-cannot-go-stale argument as
    * the stats sidecars. Serves prefer the embedded model and fall
    * back to the external `centroidsPath` when absent (trees published
    * before a migration, or by the plain publish cadence — there the
    * external model is current by construction, since only a
    * migration ever changes it). */
  private[streaming] val ModelDir = "_model"
  private[streaming] val CodebookDir = "_codebook"

  /** A PQ-coded serving tree to REPUBLISH atomically inside a capacity
    * migration's commit ([[migrateCapacityIfNeeded]]): the codebook
    * retrains from the retained training slice (`trainSliceRows` — it
    * must exist, [[trainPqCodebookFromSlice]]'s contract) under the
    * migrated centroids, and tree + centroids + codebook stage
    * together. */
  final case class CodedRepublish(codedPath: String, m: Int, k: Int,
      iters: Int = 5, salt: String = "pqres")

  /** The model a serve of `treePath` must rank under: the embedded
    * copy (part of the tree, so read directly with no repair of its
    * own) when the tree carries one, the external store otherwise. */
  private def readServingCentroids(spark: SparkSession, treePath: String,
      centroidsPath: String): Seq[Array[Long]] =
    SmallParquet.read(spark, s"$treePath/$ModelDir").map(centroidsOf)
      .getOrElse(readCentroids(spark, centroidsPath))

  /** CAPACITY MIGRATION — the growth half of the capacity rule
    * ([[Ann.ivfCapacityForCorpus]]; s21 is the bootstrap half): when
    * the committed corpus has outgrown the frozen model's cell count,
    * RETRAIN the coarse quantizer at the rule's new point and RE-SHARD
    * the raw tree under it, without stopping the stream. Without this
    * op a long-running [[ivfIngest]] freezes cells at batch 0 forever,
    * and a stream that grows 100× serves from a model the rule itself
    * rejects — exactly the recall decay s20 documents (0.532 → 0.380
    * over a 4× corpus), reintroduced through the lifecycle.
    *
    * TRIGGER (metadata-only when it declines): committed n comes from
    * parquet FOOTER row counts ([[DedupStream.footerRowCount]] — the
    * zero-staleness stats sidecar, pooled walk, no column data); the
    * rule fires only when its cells EXCEED the live model's (the rule
    * is monotone in n, so under append-mostly ingest this is a
    * boundary crossing; it never shrinks a model — retires reducing n
    * leave a roomier model, which costs read amplification, not
    * recall). Expect O(log N) firings over a corpus's life.
    *
    * WORK (O(corpus), inherent — a re-shard rewrites every row's cell):
    * one retrain over the committed quantized rows
    * ([[Ann.portableKmeansCentroidsQuantized]] — the stored `q` longs
    * ARE the quantization, so retraining from the store is
    * bit-identical to retraining from the source embeddings: seeds by
    * the same salted order over the committed ids, exact integer
    * Lloyd's), then one shuffle by (batch_id, cell) that rewrites the
    * tree PRESERVING the per-batch layout — so every downstream
    * contract survives unchanged: replay discipline, compaction,
    * retirement, the footer-bounded ingest guard, and the batch-0
    * training slice [[trainPqCodebook]] needs.
    *
    * SERVING TREES: two dispositions, both inside the ONE commit.
    * Trees listed in `republishPublished` (raw-published cell layouts)
    * or `republishCoded` (PQ-coded layouts + their codebook spec) are
    * REPUBLISHED from the staged re-sharded tree with their geometry
    * EMBEDDED (`_model`, `_codebook` — [[ModelDir]]) — the r18
    * zero-outage path: a serve taking only the tree path sees old
    * rows + old model before the promote and new rows + new model
    * after, never a mixed pair and never path-missing (the coded
    * republish retrains the codebook from the retained training
    * slice, so `trainSliceRows` must be enabled). Any OTHER tree in
    * `servingTrees` keeps the r17 invalidate semantics: DELETED with
    * its sidecars in the same commit — stale geometry fails LOUDLY
    * (path does not exist) rather than silently answering, and the
    * caller's maintenance cadence republishes (the s22 lifecycle).
    *
    * CRASH SAFETY: the re-sharded tree, the new model and every
    * republished serving tree (with its watermark) stage under the raw
    * tree's stage ([[graft.operators.Sinks.partitionStage]]) and
    * commit as ONE record ([[graft.operators.Sinks.commitStaged]]) in
    * this order: the raw tree, the dropped serving trees, each
    * republished tree followed by its `_pubmeta`, the model last. The
    * raw tree's repair ([[graft.operators.Sinks.recoverSwap]], run on
    * entry here AND by every raw-tree entry point) rolls a committed
    * migration forward and deletes an uncommitted one, so no reader
    * of the raw tree can pair the promoted tree with the old model; a
    * serve of a republished tree alone reads its embedded model, and
    * the external model moves only after every tree did.
    *
    * CONCURRENCY: single-maintainer, like every tree op — run from the
    * stream's own cadence (between micro-batches, where
    * [[ivfIngest]]'s `autoCapacity` calls it) or a quiesced window;
    * never concurrently with a batch, a publish, or a retire.
    *
    * Returns the new capacity when a migration committed, None when
    * the model is absent (no batch 0 yet), the tree is empty, or the
    * rule is already satisfied. */
  def migrateCapacityIfNeeded(spark: SparkSession, indexPath: String,
      centroidsPath: String, idCol: String = "vec_id", dim: Int = 64,
      iters: Int = 2, salt: String = "pkmeans",
      servingTrees: Seq[String] = Nil,
      republishPublished: Seq[String] = Nil,
      republishCoded: Seq[CodedRepublish] = Nil): Option[Ann.IvfCapacity] = {
    import Sinks.{Drop, Move}
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Sinks.recoverSwap(spark, indexPath)
    val cur = loadCentroids(spark, centroidsPath)
      .getOrElse(return None).length // no model yet
    val n = DedupStream.footerRowCount(spark, indexPath, "batch_id=")
    val cap = Ann.ivfCapacityForCorpus(n)
    if (cap.cells <= cur) return None // rule satisfied; never shrink
    val rawSchema = Sinks.treeSchema(spark, indexPath)
      .getOrElse(return None) // nothing committed (or fully retired)
    val raw = spark.read.schema(rawSchema).parquet(indexPath).cache()
    try {
      val cents = Ann.portableKmeansCentroidsQuantized(raw, idCol, "q",
        dim, cap.cells, iters, salt)
      // everything stages under the raw tree's stage, so the raw
      // tree's repair finds it with no second path
      val stage = Sinks.partitionStage(indexPath)
      val (tree, model) = (s"$stage/tree", s"$stage/model")
      val centRows = centroidRows(cents)
      SmallParquet.write(spark, model, CentroidsSchema, centRows)
      Ann.portableAssignQuantized(raw.drop("cell"), "q", cents)
        .select(col(idCol), col("q"), col("cell"), col("batch_id"))
        .repartition(col("batch_id"), col("cell"))
        .write.mode(SaveMode.Overwrite).partitionBy("batch_id", "cell")
        .parquet(tree)
      // the re-shard is a full rewrite — the one free moment to give
      // EVERY batch partition a stats sidecar (staged with the tree,
      // promoted in the same rename): post-migration, the retire probe,
      // the ingest guard and this trigger's own row count all run from
      // sidecar reads alone
      StatsSidecar.writeForTree(spark, tree, "batch_id=", idCol)
      // ZERO-OUTAGE REPUBLISH (r18 #1): serving layouts listed for
      // republish are rebuilt from the STAGED re-sharded tree, each
      // with its geometry EMBEDDED (`_model`, plus `_codebook` for
      // coded trees — the codebook retrained from the retained training
      // slice under the new centroids), so ONE record commits raw tree
      // + model + every serving layout together and a serve never sees
      // path-missing — the reference's atomic snapshot-swap discipline
      // (MD-SQL:105,113 — DELETE+INSERT in ONE transaction) extended to
      // the whole index family. Trees NOT republished keep the r17
      // invalidate semantics (deleted loudly; the operator cadence
      // republishes).
      //
      // The staged-tree frame and the watermark are only for the
      // republish stages — the autoCapacity-only deployment skips both
      // (no extra listing). The staged tree's data columns are the raw
      // tree's. CACHED: each republish target folds/encodes the full
      // re-shard, and without pinning, N targets would each rescan the
      // staged tree (r18 review)
      val republishing =
        republishPublished.nonEmpty || republishCoded.nonEmpty
      lazy val stagedTree = spark.read.schema(rawSchema).parquet(tree).cache()
      lazy val maxBatch = listBatchIds(spark, indexPath).max
      val published = republishPublished.zipWithIndex.map { case (t, i) =>
        val st = s"$stage/pub$i"
        stagedTree.drop("batch_id").repartition(col("cell"))
          .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(st)
        SmallParquet.write(spark, s"$st/$ModelDir", CentroidsSchema, centRows)
        SmallParquet.write(spark, s"${st}_pubmeta", WatermarkSchema,
          Seq(Seq(maxBatch)))
        Seq(Move(st, t), Move(s"${st}_pubmeta", t + "_pubmeta"))
      }
      val coded = republishCoded.zipWithIndex.map { case (cr, i) =>
        val st = s"$stage/pq$i"
        require(cr.m > 0 && dim % cr.m == 0,
          s"migrate: m=${cr.m} must divide dim=$dim")
        val cb = trainPqCodebookFromSliceWith(spark, indexPath, cents,
          cr.m, cr.k, cr.iters, cr.salt, idCol)
        val centLit = typedLit(cents.map(_.toSeq))
        stagedTree.drop("batch_id")
          .withColumn("r", zip_with(col("q"),
            element_at(centLit, (col("cell") + 1).cast(IntegerType)),
            (a, b) => a - b))
          .select(col(idCol),
            Ann.portablePqEncodeIntCodes(col("r"), cr.m, cr.k,
              dim / cr.m, cb).as("codes"),
            col("cell"))
          .repartition(col("cell"))
          .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(st)
        SmallParquet.write(spark, s"$st/$ModelDir", CentroidsSchema, centRows)
        SmallParquet.write(spark, s"$st/$CodebookDir", CodebookSchema,
          codebookRows(cb))
        Move(st, cr.codedPath)
      }
      if (republishing) stagedTree.unpersist()
      val dropTrees = servingTrees
        .filterNot(republishPublished.contains)
        .filterNot(t => republishCoded.exists(_.codedPath == t))
      // every serving tree this record replaces or drops is repaired
      // first: an interrupted cell commit left on it would otherwise
      // roll its old-geometry cells over the republished tree at a
      // later entry. A republished tree's parent exists before the
      // record, so the promote is renames alone
      val replaced = republishPublished ++ republishCoded.map(_.codedPath)
      (dropTrees ++ replaced).foreach { t =>
        Sinks.recoverSwap(spark, t)
        Sinks.recoverSwap(spark, t + "_pubmeta")
      }
      replaced.foreach { t =>
        val parent = new org.apache.hadoop.fs.Path(t).getParent
        if (!fs.mkdirs(parent))
          throw new java.io.IOException(s"migrate: cannot create $parent")
      }
      Sinks.commitStaged(spark, indexPath,
        Seq(Move(tree, indexPath)) ++
          dropTrees.flatMap(t => Seq(Drop(t), Drop(t + "_pubmeta"))) ++
          published.flatten ++ coded :+ Move(model, centroidsPath))
      Some(cap)
    } finally raw.unpersist()
  }

  /** One micro-batch of the IVF index ingest — exposed for direct
    * (batch-mode) use and testing. Batch 0 trains and freezes the
    * coarse quantizer; every batch assigns its vectors under the
    * frozen centroids and writes `(idCol, q, cell)` rows to
    * `indexPath/batch_id=N/cell=M/`, cell-partitioned for serve-time
    * directory pruning. `autoCells = true` sizes the batch-0 model by
    * the capacity rule ([[Ann.ivfCapacityForCorpus]] of the batch's
    * distinct-id count) instead of the `cells` parameter — the
    * bootstrap half of capacity-managed ingest
    * ([[migrateCapacityIfNeeded]] is the growth half). */
  def processIvfBatch(batchIn: DataFrame, batchId: Long, indexPath: String,
      centroidsPath: String, idCol: String, vecCol: String, dim: Int,
      cells: Int, iters: Int, salt: String = "pkmeans",
      autoCells: Boolean = false, trainSliceRows: Int = 0): Unit = {
    // the batch backs several full passes (the guard's hull aggregate,
    // dropDuplicates + anti-join, the assignment write; batch 0 adds
    // the Lloyd's iterations) — pin it so they read one materialization
    // instead of re-reading the source files per pass (r16 review)
    val batch = batchIn.cache()
    try processIvfBatchPinned(batch, batchId, indexPath, centroidsPath,
      idCol, vecCol, dim, cells, iters, salt, autoCells, trainSliceRows)
    finally batch.unpersist()
  }

  private def processIvfBatchPinned(batch: DataFrame, batchId: Long,
      indexPath: String, centroidsPath: String, idCol: String,
      vecCol: String, dim: Int, cells: Int, iters: Int,
      salt: String, autoCells: Boolean, trainSliceRows: Int): Unit = {
    val spark = batch.sparkSession
    // the raw tree's repair comes before any read of the tree or the
    // model: a capacity migration that committed but crashed before
    // its promote finished supersedes both, and a batch assigned under
    // the model read before the repair would land old-geometry cells
    // in the re-sharded tree. A compaction or retire that crashed
    // mid-promote leaves batch partitions missing until rolled
    // forward, and the re-sent-id guard would miss their ids
    Sinks.recoverSwap(spark, indexPath)
    // batch 0 trains unless BOTH a committed model AND a committed
    // index tree exist: a replay of batch 0 with that evidence reads
    // the model instead of retraining. Behavior-identical to the
    // always-retrain original when nothing intervened (the retrain is
    // deterministic — the overwrite would be bit-identical), and
    // REQUIRED once capacity migration exists: a batch-0 replay after
    // a migration (crash between the migrated commit and the stream's
    // checkpoint write) must not clobber the migrated model with a
    // batch-0-sized retrain — at that point the index tree necessarily
    // exists, which is what distinguishes it from a FRESH ingest
    // (deleted index + checkpoint) misconfigured to reuse an old
    // centroids path: there the tree is absent and batch 0 retrains,
    // never silently assigning a new corpus under stale centroids
    // (r17 review).
    val hIdx = new org.apache.hadoop.fs.Path(indexPath)
    def committedIndex = batchId > 0L || Sinks.hasDataFile(
      hIdx.getFileSystem(spark.sparkContext.hadoopConfiguration), hIdx)
    val cents = loadCentroids(spark, centroidsPath) match {
      case Some(c) if committedIndex => c
      case None if batchId > 0L => throw new java.io.FileNotFoundException(
        s"no centroid model at $centroidsPath for batch $batchId")
      case _ =>
        val k =
          if (autoCells)
            Ann.ivfCapacityForCorpus(batch.dropDuplicates(idCol).count())
              .cells
          else cells
        val c = Ann.portableKmeansCentroids(batch, idCol, vecCol, dim,
          k, iters, salt)
        commitSmall(spark, centroidsPath, CentroidsSchema, centroidRows(c))
        c
    }
    // ingest contract: ids identify vectors — a row re-sent under an
    // already-indexed id (across OR within a batch) is the same
    // vector, not a new one, and a duplicate index row would shift
    // serve-time ranks. Cross-batch protection is a column-pruned id
    // scan of the committed index BOUNDED BY FOOTER STATS to the
    // partitions whose id ranges intersect the batch's id hull
    // ([[committedIds]] — for monotone arrival ids the guard is
    // metadata-only); within-batch, dropDuplicates (deterministic
    // under the same-id-same-payload contract).
    val committed = committedIds(spark, indexPath, idCol, batch, batchId)
    val fresh = batch.dropDuplicates(idCol)
      .join(committed, Seq(idCol), "left_anti")
    Ann.portableAssignWithCentroids(fresh, idCol, vecCol, cents)
      .write.mode(SaveMode.Overwrite).partitionBy("cell")
      .parquet(s"$indexPath/batch_id=$batchId")
    if (trainSliceRows > 0)
      maintainTrainSlice(spark, indexPath, batchId, idCol, trainSliceRows)
  }

  /** The RETAINED TRAINING-SLICE store (round-18 verdict #2): a small
    * per-batch reservoir tree at `<indexPath>_tslice` holding sampled
    * `(idCol, q)` rows, capped at `cap` rows total, so the PQ codebook
    * can RETRAIN after a capacity migration even once compaction has
    * folded the `batch_id=0` training partition away — the documented
    * loud failure of `autoCapacity × compactEvery`
    * ([[trainPqCodebook]]'s contract), closed by
    * [[trainPqCodebookFromSlice]].
    *
    * SAMPLING is the frozen-prefix discipline batch-0 training uses,
    * extended across batches: each batch contributes its
    * lowest-md5-hash rows (the [[graft.corpus.Selection]] determinism)
    * until the cap is reached — batch N's contribution is a pure
    * function of (committed slice prefix, batch N's committed index
    * dir), so a crash replay rewrites `batch_id=N` with the identical
    * row set (the ingest's replay discipline, unchanged). Rows store
    * the QUANTIZED vector only — `q` is model-independent (quantization
    * precedes assignment), so a migration never invalidates the slice;
    * the retrain assigns it under whatever centroids are current.
    *
    * ERASURE: the slice is one more per-batch tree —
    * [[DedupStream.retireIds]] applies (partitionCols = Nil), and
    * [[ivfIngest]] adds it to the queue drain when the slice is
    * enabled, so a retained sample never outlives its document's
    * right-to-erasure.
    *
    * COST per batch: one footer/sidecar row count over the slice tree
    * (≤ cap rows across ≤ #batches small dirs) plus, while the cap is
    * unmet, one hash-order limit over the just-committed batch dir.
    * Once the cap is reached the maintainer is the row count alone. */
  private def maintainTrainSlice(spark: SparkSession, indexPath: String,
      batchId: Long, idCol: String, cap: Int): Unit = {
    import graft.corpus.Selection
    val slicePath = indexPath + "_tslice"
    Sinks.recoverSwap(spark, slicePath)
    val committed = DedupStream.footerRowCount(spark, slicePath,
      "batch_id=", _ < batchId)
    val remaining = cap - committed
    val staged = new org.apache.hadoop.fs.Path(s"$slicePath/batch_id=$batchId")
    val fs = staged.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val contribution = if (remaining <= 0L) None
      else Sinks.readTree(spark, s"$indexPath/batch_id=$batchId")
    if (contribution.isEmpty) {
      // Two empty-contribution cases, same disposition. (a) cap already
      // met by the committed prefix: a batch_id=batchId dir can only be
      // a crashed attempt from a run whose prefix was smaller (retires
      // shrank it since). (b) the batch committed NO data files — every
      // row was an already-indexed re-send (the committedIds guard) or
      // the batch was empty; partitionBy writes only _SUCCESS then.
      // Either way the batch's slice contribution is
      // empty: clear any crashed staged contribution so the slice stays
      // a deterministic function of the committed state.
      if (fs.exists(staged) && !fs.delete(staged, true))
        throw new java.io.IOException(s"train slice: cannot clear $staged")
      return
    }
    contribution.get
      .select(col(idCol), col("q"))
      .orderBy(Selection.hashValue(Selection.saltedKey(col(idCol),
        "tslice")), col(idCol))
      .limit(math.min(remaining, cap.toLong).toInt)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(staged.toString)
  }

  /** [[trainPqCodebook]] from the RETAINED slice instead of the
    * `batch_id=0` partition — the trainer that survives `autoCapacity ×
    * compactEvery`: residuals are computed by assigning the slice's
    * stored `q` vectors under the CURRENT frozen centroids
    * ([[Ann.portableAssignQuantized]] — never re-quantizing), so after
    * a capacity migration this retrains the codebook against the NEW
    * geometry from the same retained sample. Fails loudly when no
    * slice exists (ingest ran without `trainSliceRows`) — the
    * [[trainPqCodebook]] contract, with the remedy in the message. */
  def trainPqCodebookFromSlice(spark: SparkSession, indexPath: String,
      centroidsPath: String, m: Int, k: Int, iters: Int = 5,
      salt: String = "pqres", idCol: String = "vec_id"): Seq[Seq[Seq[Long]]] = {
    // the raw tree's repair finishes an interrupted migration first, so
    // the codebook trains under the model the tree is sharded by
    Sinks.recoverSwap(spark, indexPath)
    trainPqCodebookFromSliceWith(spark, indexPath,
      readCentroids(spark, centroidsPath), m, k, iters, salt, idCol)
  }

  /** [[trainPqCodebookFromSlice]] against caller-supplied centroids —
    * the migration's staged-republish path trains against the NEW
    * model before it is promoted (the external store still holds the
    * old one at that point). */
  private[streaming] def trainPqCodebookFromSliceWith(spark: SparkSession,
      indexPath: String, cents: Seq[Array[Long]], m: Int, k: Int,
      iters: Int, salt: String, idCol: String): Seq[Seq[Seq[Long]]] = {
    val slicePath = indexPath + "_tslice"
    val slice = Sinks.openTree(spark, slicePath)
    require(slice.isDefined,
      s"trainPqCodebookFromSlice: no retained training slice at " +
        s"$slicePath — run the ingest with trainSliceRows > 0 (the " +
        "autoCapacity × compactEvery codebook story), or train from " +
        "batch 0 before the first compaction (trainPqCodebook).")
    val dim = cents.head.length
    val centLit = typedLit(cents.map(_.toSeq))
    val resid = Ann.portableAssignQuantized(
        slice.get.select(col(idCol), col("q")),
        "q", cents)
      .withColumn("r", zip_with(col("q"),
        element_at(centLit, (col("cell") + 1).cast(IntegerType)),
        (a, b) => a - b))
    Ann.portablePqTrainCodebooks(resid, idCol, "r", dim, m, k, iters,
      salt)
  }

  /** Ids of all PRIOR batches' index rows (a partial `batch_id=batchId`
    * dir from a crashed attempt is excluded — it is this attempt's
    * output, about to be overwritten). Empty frame if no index yet.
    * The schema is EXPLICIT: a crashed batch-0 attempt can leave the
    * index dir existing with zero committed data files, and schema
    * inference would throw on every replay — with the schema given,
    * an empty tree reads as an empty frame and the replay proceeds.
    *
    * FOOTER-STATS BOUND (round 16): this guard was the ONE
    * index-sized touch per ingest batch — a column-pruned id scan of
    * every committed partition. For integral ids the scan is now
    * bounded to the partitions whose footer id bounds INTERSECT the
    * batch's id hull (one exchange-free [[DriverFold]] job over the
    * cached batch, which also builds the cache, then
    * [[DedupStream.footerCandidateParts]] — metadata only, short-
    * circuit per dir): a committed id can only collide with a batch
    * id if it lies inside the batch's [min, max], so partitions
    * entirely outside it are provably collision-free and never read.
    * Under monotone arrival ids — the common ingest shape — every
    * committed partition sits below the new batch's range and the
    * guard is METADATA-ONLY, making per-batch ingest work genuinely
    * O(batch) at any index size. The anti-join over the candidate
    * ids stays the exact decision; non-integral ids keep the full
    * scan. */
  private def committedIds(spark: SparkSession, indexPath: String,
      idCol: String, batch: DataFrame, batchId: Long): DataFrame = {
    val idType = batch.schema(idCol).dataType
    val hPath = new org.apache.hadoop.fs.Path(indexPath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val emptyIds = Sinks.emptyFrame(spark,
      StructType(Seq(StructField(idCol, idType))))
    if (!fs.exists(hPath)) return emptyIds
    val schema = StructType(Seq(
      StructField(idCol, idType),
      StructField("q", ArrayType(LongType)),
      StructField("cell", LongType),
      StructField("batch_id", LongType)))
    val hull: Option[Option[(Long, Long)]] = idType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType =>
        // [min, max] of the non-null ids; min > max: none
        val h = DriverFold(batch.select(col(idCol).cast(LongType))) { it =>
          val a = Array(Long.MaxValue, Long.MinValue)
          it.foreach(r => if (!r.isNullAt(0)) {
            a(0) = math.min(a(0), r.getLong(0)); a(1) = math.max(a(1), r.getLong(0))
          })
          a
        }((a, b) => Array(math.min(a(0), b(0)), math.max(a(1), b(1))))
        Some(if (h(0) > h(1)) None else Some((h(0), h(1))))
      case _ => None // non-integral ids: stats do not apply
    }
    // the candidate prior batches; None for the full guard scan (non-
    // integral ids, or an unparseable partition dir)
    val cands = hull match {
      case None => None
      case Some(None) => Some(Nil) // empty batch: nothing can collide
      case Some(Some((mn, mx))) =>
        DedupStream.footerCandidateParts(spark, indexPath,
          "batch_id=", idCol, _ < batchId)((bmn, bmx) =>
          bmn <= mx && mn <= bmx)
    }
    cands match {
      case None => spark.read.schema(schema).parquet(indexPath)
        .filter(col("batch_id") < batchId).select(col(idCol))
      case Some(c) if c.isEmpty => emptyIds
      case Some(c) => spark.read.schema(schema).option("basePath", indexPath)
        .parquet(c.map(n => s"$indexPath/batch_id=$n"): _*).select(col(idCol))
    }
  }

  /** Drain a retire-request queue across the WHOLE serving lifecycle:
    * one pending snapshot applies to every raw per-batch tree in
    * `rawTrees` ([[DedupStream.retireIds]], path → partitionCols) AND
    * every published/PQ-coded cell tree in `servingTrees`
    * ([[retireIds]] — affected cells only), then archives. This is
    * what makes queue-drained erasure COMPLETE: [[publishIndexDelta]]
    * only folds raw batches past the watermark, so ids retired from
    * already-folded raw batches would otherwise stay served until a
    * FULL republish — draining the serving tree in the same pass
    * closes that window. Landing contract, torn-file skip, archive
    * semantics and crash safety are [[DedupStream.drainRetireQueue]]'s
    * (both entry points share [[DedupStream.drainQueue]]). */
  def drainRetireQueue(spark: SparkSession, queueDir: String,
      rawTrees: Seq[(String, Seq[String])], servingTrees: Seq[String],
      idCol: String): Int =
    DedupStream.drainQueue(spark, queueDir, idCol) { ids =>
      rawTrees.foreach { case (tree, pcols) =>
        // retireIds' own entry repair rolls an interrupted capacity
        // migration forward before retiring (the r17 drain-side fix,
        // made the raw tree's one repair for EVERY maintenance entry
        // point — r18 advice): the drain runs ahead
        // of the batch in ingestBody, and a retire against the
        // superseded live tree would be discarded by the next entry's
        // roll-forward, resurrecting consumed erasure requests
        DedupStream.retireIds(spark, tree, ids, idCol, pcols)
      }
      servingTrees.foreach(t => retireIds(spark, t, ids, idCol))
    }

  /** Run the IVF index build as a stream over parquet embedding files
    * landing in `vecsDir`. Returns the running query (caller stops).
    *
    * SIZE THE MODEL TO THE CORPUS: the `cells = 8` default is the
    * small-corpus (n ≤ 1024) point — at larger n pass
    * [[graft.similarity.Ann.ivfCapacityForCorpus]]'s cells (and serve
    * with its nprobe): recall decays when the corpus grows under a
    * fixed model (measured 0.532 → 0.380 over a 4× corpus at the
    * fixed default; the scaled rule holds 0.47–0.53 across the same
    * range — CAPACITY_r16.json, gated by s21). `autoCapacity = true`
    * makes the stream capacity-MANAGED end to end: batch 0 sizes the
    * model by the rule, and after every batch the rule re-fires —
    * when the committed corpus crosses the next capacity boundary the
    * quantizer retrains and the tree re-shards in place
    * ([[migrateCapacityIfNeeded]]), invalidating the `retireServing`
    * trees for republish. Gated by s22 at a mid-ingest crossing.
    * `retireQueue = Some(dir)` drains pending retire-request files
    * from `dir` before each batch ([[drainRetireQueue]]): ids retire
    * from the RAW tree (cell sub-layout preserved) and from every
    * published/PQ-coded cell tree listed in `retireServing` —
    * deletion requests and re-crawls apply continuously, and the
    * erasure reaches SERVING in the same drain (a delta publish alone
    * never re-erases ids from already-folded batches; without
    * `retireServing`, queue-drained retires reach the serving tree
    * only via a full [[publishIndex]] or a manual [[retireIds]], the
    * s19 lifecycle).
    *
    * SINGLE-MAINTAINER CONTRACT: `retireServing` makes the STREAM a
    * writer of those serving trees, so external maintenance on them
    * (publishIndex / publishIndexDelta / a manual retireIds) must not
    * run concurrently with the stream — two partition commits racing
    * the same tree can repair each other's in-flight staging
    * (the same no-concurrent-maintenance rule every tree op carries;
    * publish-while-ingest-continues only ever blessed concurrent RAW
    * ingest, whose sole writer is the stream itself). Run publishes
    * from a quiesced window, or from this stream's own cadence. */
  def ivfIngest(spark: SparkSession, vecsDir: String, schema: StructType,
      indexPath: String, centroidsPath: String, checkpointDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, cells: Int = 8, iters: Int = 2,
      salt: String = "pkmeans", maxFilesPerTrigger: Int = 1,
      retireQueue: Option[String] = None,
      retireServing: Seq[String] = Nil,
      autoCapacity: Boolean = false,
      compactEvery: Option[Int] = None,
      trainSliceRows: Int = 0,
      migratePublished: Seq[String] = Nil,
      migrateCoded: Seq[CodedRepublish] = Nil): StreamingQuery = {
    // fail at WIRING time, not mid-migration: a coded republish
    // retrains its codebook from the retained training slice, which
    // only exists when this ingest maintains one. Without this check
    // the misconfiguration still fails loudly (the
    // trainPqCodebookFromSlice contract) but only when the first
    // migration fires — possibly days into the stream's life.
    require(migrateCoded.isEmpty || trainSliceRows > 0,
      "ivfIngest: migrateCoded republishes retrain the PQ codebook " +
        "from the retained training slice — pass trainSliceRows > 0")
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(vecsDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      // compactEvery folds the committed prefix on the other wrappers'
      // cadence (cell sub-layout preserved; the folded target gets a
      // stats sidecar, so the capacity check and the maintenance
      // probes on a long-running tree stay sidecar-read cheap). NOTE
      // the trainPqCodebook contract: the batch-0 training slice must
      // be trained BEFORE the first fold removes its partition. A PQ
      // deployment combining compactEvery WITH autoCapacity passes
      // trainSliceRows > 0: the retained sample store survives both
      // the fold and the migration, and trainPqCodebookFromSlice
      // retrains the codebook under the migrated centroids (r18 —
      // closing the documented loud failure of the combination).
      // Without a slice, trainPqCodebook still fails LOUDLY after a
      // fold — the combination can never serve silently stale codes.
      .foreachBatch(DedupStream.ingestBody(spark, retireQueue,
        // the retained training slice is one more per-batch tree the
        // drain erases from — a sampled row must never outlive its
        // document's retire request. The slice target is UNCONDITIONAL,
        // not gated on trainSliceRows: a stream restarted with the
        // slice turned OFF still owns the slice its earlier config
        // built, and gating on the CURRENT config would let retained
        // samples outlive their document's erasure (r18 review);
        // retireIds on an absent tree is a metadata-only no-op.
        (s, q) => drainRetireQueue(s, q,
          Seq(indexPath -> Seq("cell"),
            (indexPath + "_tslice") -> Seq.empty[String]),
          // erasure reaches EVERY serving layout this stream maintains:
          // a tree listed only for migration republish still serves
          // between migrations (which fire O(log N) times), so leaving
          // it out of the drain would keep erased ids queryable there
          // indefinitely (r18 review)
          (retireServing ++ migratePublished ++
            migrateCoded.map(_.codedPath)).distinct, idCol),
        Some(indexPath), compactEvery, Seq("cell"),
        Some(idCol)) { (batch, batchId) =>
        processIvfBatch(batch, batchId, indexPath, centroidsPath,
          idCol, vecCol, dim, cells, iters, salt,
          autoCells = autoCapacity, trainSliceRows = trainSliceRows)
        // capacity-managed ingest: after the batch commits, re-fire
        // the rule — between micro-batches is the quiesced maintenance
        // slot every tree op uses, so the migration's single-maintainer
        // contract holds by construction. Serving trees listed in
        // migratePublished/migrateCoded are REPUBLISHED inside the
        // migration commit (zero-outage — geometry embedded, one
        // rename); any other retireServing tree is invalidated in the
        // same commit and the operator's cadence republishes.
        if (autoCapacity)
          migrateCapacityIfNeeded(batch.sparkSession, indexPath,
            centroidsPath, idCol, dim, iters, salt, retireServing,
            republishPublished = migratePublished,
            republishCoded = migrateCoded)
      })
      .start()
  }

  /** Publish the streamed per-batch index as the SERVING layout: the
    * crash-safe `batch_id=N/cell=M` ingest tree is folded into
    * `cell=M` alone — one shuffle by cell co-locates whole inverted
    * lists, so a serve-time probe reads ONE file per probed cell
    * instead of one per (batch × cell). This is the small-files
    * lifecycle for an ingest-built index at 100 TB: per-batch dirs
    * give crash safety during ingest, a periodic publish folds them
    * into the read-optimized tree (idempotent overwrite — republish
    * after more batches lands the same way). Row set is identical to
    * the raw tree, so [[ivfServeTopK]] answers match bit-for-bit
    * from either layout (AnnStreamSpec pins both the equality and
    * the per-cell file count). Republish goes through the crash-safe
    * staged swap ([[graft.operators.Sinks.overwriteViaSwap]])
    * so a complete serving tree exists on disk at every instant.
    *
    * `upToBatch` bounds the fold to `batch_id <= upToBatch` (the
    * publish-while-ingest-continues cadence: pass the last COMMITTED
    * batch id so an in-flight batch's partially-written dir is never
    * folded); the published watermark sidecar records the highest
    * folded batch either way, which is what lets
    * [[publishIndexDelta]] later fold ONLY newer batches. The fold
    * point comes from the `batch_id=` partition-DIRECTORY listing —
    * O(#batches) filesystem metadata — never from an aggregate over
    * the raw tree, which would open every index file's footer at
    * every publish. With nothing committed at or below the bound the
    * call is a no-op (the live tree, if any, is left untouched). */
  def publishIndex(spark: SparkSession, indexPath: String,
      servingPath: String, upToBatch: Option[Long] = None): Unit = {
    // roll interrupted raw-tree maintenance forward before folding: a
    // mid-promote compaction/retire crash leaves batch partitions
    // missing, and a publish reading that state would fold (and
    // watermark past) rows it never saw
    Sinks.recoverSwap(spark, indexPath)
    // the watermark commit below reuses its tree's stage
    Sinks.recoverSwap(spark, servingPath + "_pubmeta")
    publishFolded(spark, indexPath, servingPath, upToBatch)
  }

  /** [[publishIndex]] once the raw tree and the watermark are
    * repaired. The serving tree's one repair is its swap's own, which
    * runs before anything is staged: a committed cell commit left on
    * the serving tree would otherwise roll its stale cells forward over
    * this republish at a later entry. */
  private def publishFolded(spark: SparkSession, indexPath: String,
      servingPath: String, upToBatch: Option[Long]): Unit = {
    val ids = listBatchIds(spark, indexPath)
    val folded = upToBatch.fold(ids)(b => ids.filter(_ <= b))
    if (folded.isEmpty) return
    Sinks.readTree(spark, indexPath) match {
      case Some(raw) =>
        val bounded =
          upToBatch.fold(raw)(b => raw.filter(col("batch_id") <= b))
        Sinks.overwriteViaSwap(spark,
          bounded
            .drop("batch_id")
            .repartition(col("cell")), // whole cells co-locate → 1 file/cell
          servingPath, Seq("cell"))
      case None =>
        // a fully-retired raw tree keeps its batch_id= dirs but holds
        // zero data files. The correct fold of an EMPTY corpus is an
        // EMPTY serving tree, not a skip: rows previously published must
        // leave at this publish (the right-to-erasure contract — "retired
        // rows leave the serving tree at the next publish"). With no
        // prior serving rows there is nothing to erase and nothing to
        // write.
        if (!emptyTree(spark, servingPath)) return
    }
    writePubWatermark(spark, servingPath, folded.max)
  }

  /** Replace the tree at `path` by an empty one in one commit, after
    * its repair; false (nothing written) when it holds no data file. */
  private def emptyTree(spark: SparkSession, path: String): Boolean =
    Sinks.openTree(spark, path).isDefined && {
      val staged = new org.apache.hadoop.fs.Path(
        Sinks.partitionStage(path), "tree")
      if (!staged.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .mkdirs(staged))
        throw new java.io.IOException(s"publish: cannot stage $staged")
      Sinks.commitStaged(spark, path, Seq(Sinks.Move(staged.toString, path)))
      true
    }

  /** Committed raw-tree batch ids from the `batch_id=` partition
    * directory names — the metadata-scale source for every fold-point
    * decision (the directory listing is already what partition
    * pruning consults; re-deriving the same ids from file footers
    * would be the slowest step of an otherwise O(delta) publish). */
  private def listBatchIds(spark: SparkSession,
      indexPath: String): Seq[Long] = {
    val hPath = new org.apache.hadoop.fs.Path(indexPath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) Seq.empty
    else fs.listStatus(hPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(_.getPath.getName.stripPrefix("batch_id=").toLong)
  }

  /** INCREMENTAL publish: fold only the raw batches NEWER than the
    * published watermark into their affected cells. A full
    * [[publishIndex]] re-reads and re-shuffles the whole raw tree —
    * O(corpus) at every publish cadence; at 100 TB the routine
    * republish must instead cost O(delta + affected inverted lists):
    * read the new `batch_id` partitions (partition-pruned), collect
    * the affected cell ids (model-sized — ≤ the cell count), read
    * ONLY those cells from the published tree (partition-pruned),
    * merge, and rewrite exactly those cell directories. Cells the
    * delta never touched are not read, not shuffled, not rewritten.
    *
    * Crash safety: the merged cells commit through
    * [[graft.operators.Sinks.commitPartitions]] and the watermark
    * bumps LAST. An interrupted call is repaired on the next call's
    * entry, and a replay is idempotent: the merge anti-joins the
    * published rows against the delta's ids, so delta rows already
    * promoted by the crashed attempt are replaced, never duplicated.
    *
    * `upToBatch` is the publish-while-ingest-continues guard (the
    * [[publishIndex]] contract): pass the last COMMITTED batch id so
    * a trailing batch whose dir is still being written (foreachBatch
    * overwrite is not atomic) is neither partially folded nor skipped
    * forever by an advanced watermark. Without it, the fold and the
    * new watermark both come from ONE snapshot of the `batch_id=`
    * directory listing — the watermark can never advance past a batch
    * the fold did not read — but a concurrent in-flight batch may
    * still be folded partially; quiesce publishes or pass the bound. */
  def publishIndexDelta(spark: SparkSession, indexPath: String,
      servingPath: String, idCol: String = "vec_id",
      upToBatch: Option[Long] = None): Unit = {
    Sinks.recoverSwap(spark, indexPath) // the publishIndex rule
    val hServing = new org.apache.hadoop.fs.Path(servingPath)
    val fs = hServing.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // no watermark, or no tree (a full publish that crashed between
    // swap and sidecar, or mid-swap): the fold point is unknown — fall
    // back to the full fold, which (re)writes both and repairs the tree
    // in its swap
    val wm = readPubWatermark(spark, servingPath) match {
      case Some(w) if fs.exists(hServing) => w
      case _ => publishFolded(spark, indexPath, servingPath, upToBatch); return
    }
    Sinks.recoverSwap(spark, servingPath)
    // fold set and watermark from ONE metadata-scale directory-listing
    // snapshot — no full-tree aggregate, no fold/watermark divergence
    val ids = listBatchIds(spark, indexPath)
    val folded = upToBatch.fold(ids)(b => ids.filter(_ <= b)).filter(_ > wm)
    if (folded.isEmpty) return
    // a fully-retired raw tree keeps its batch_id= dirs but holds zero
    // data files — nothing to fold
    val raw = Sinks.readTree(spark, indexPath).getOrElse(return)
    val maxB = folded.max
    val delta = raw
      .filter(col("batch_id") > wm && col("batch_id") <= maxB)
      .drop("batch_id").cache()
    try {
      // model-sized driver state: ≤ cells ids
      val affected = delta.select(col("cell").cast(LongType)).distinct()
        .collect().map(_.getLong(0).toString).sorted
      if (affected.isEmpty) return
      // a fully-retired serving tree reads as the empty frame it is
      // (delta's schema — the merge below only needs its columns)
      val existing = Sinks.readTree(spark, servingPath).getOrElse(
        Sinks.emptyFrame(spark, delta.schema))
        .filter(col("cell").isin(affected.map(_.toLong): _*)) // pruned scan
      existing
        .join(delta.select(col(idCol)), Seq(idCol), "left_anti")
        .unionByName(delta)
        .repartition(col("cell")).write.mode(SaveMode.Overwrite)
        .partitionBy("cell")
        .parquet(Sinks.partitionStage(servingPath))
      // a cell with no merged rows stages nothing and is dropped
      Sinks.commitPartitions(spark, servingPath,
        affected.map(c => s"cell=$c"))
      writePubWatermark(spark, servingPath, maxB)
    } finally delta.unpersist()
  }

  /** RETIRE ids from a PUBLISHED cell tree (the serving layout of
    * [[publishIndex]] or the PQ-coded tree of [[publishPqIndex]]) —
    * the ANN half of [[DedupStream.retireIds]]'s re-ingest /
    * right-to-erasure contract. The raw per-batch tree retires
    * through [[DedupStream.retireIds]] (with
    * `partitionCols = Seq("cell")`); this removes the same ids from
    * the published layout so serve answers stop returning them
    * immediately, without waiting for the next full republish.
    *
    * Cost is [[DedupStream.retireRows]]'s, shared with the raw-tree
    * retire: only the AFFECTED cells are re-read, filtered and
    * swapped; untouched cells are not read, not shuffled, not
    * rewritten. The publish watermark sidecar is deliberately NOT
    * advanced or rewound: it records which raw
    * batches have been folded, and retiring rows changes no fold
    * history (a later [[publishIndexDelta]] still folds exactly the
    * raw batches past the watermark — if the retired ids were also
    * retired from the raw tree, nothing re-introduces them).
    *
    * Crash safety: the filtered cells commit through
    * [[graft.operators.Sinks.commitPartitions]]; an interrupted call
    * is repaired by the next entry point's
    * [[graft.operators.Sinks.recoverSwap]] — every cell-tree
    * reader and writer runs it on entry ([[ivfServeTopK]],
    * [[pqServeTopK]], [[publishIndex]], [[publishIndexDelta]], and
    * this method) — and a re-invoked retire is idempotent (the id
    * filter removes nothing twice). */
  def retireIds(spark: SparkSession, servingPath: String, ids: DataFrame,
      idCol: String): Unit = {
    Sinks.recoverSwap(spark, servingPath)
    // a cell whose every row retired stages nothing and is dropped
    DedupStream.retireRows(spark, servingPath, "cell", ids, idCol,
      Nil)((_, _) => ())
  }

  /** The published tree's watermark — the highest raw `batch_id`
    * folded in — as a one-row sidecar parquet beside the tree
    * (`<servingPath>_pubmeta`, commit-maintained). O(1) to read at any
    * index size; [[publishIndexDelta]]'s whole cost model hangs off
    * knowing the fold point without scanning the index. The caller has
    * repaired the sidecar on entry. */
  private def writePubWatermark(spark: SparkSession, servingPath: String,
      batchId: Long): Unit =
    commitSmall(spark, servingPath + "_pubmeta", WatermarkSchema,
      Seq(Seq(batchId)))

  /** The watermark, after the sidecar's repair; None when there is none. */
  private def readPubWatermark(spark: SparkSession,
      servingPath: String): Option[Long] = {
    Sinks.recoverSwap(spark, servingPath + "_pubmeta")
    SmallParquet.read(spark, servingPath + "_pubmeta")
      .map(_.map(_("last_batch").asInstanceOf[Long]).max)
  }

  /** Serve exact-integer top-k from the STORED index: assign the query
    * set under the frozen centroids, then scan ONLY the probed cells'
    * partition directories (`cell IN (...)` is a literal predicate on
    * the partition column — the file index prunes every other cell
    * before a byte is read) and rank by exact integer squared L2
    * ([[Ann.integerTopK]]: index side never shuffles before ranking,
    * queries broadcast). The driver holds the probed cell ids — at
    * most `nprobe` per query, model-sized. `nprobe` is the
    * recall/read-cost knob: each extra probed cell adds one inverted
    * list to the scan and can only improve the candidate set
    * (a corpus row lives in exactly one cell, so probing more cells
    * never duplicates a candidate). */
  def ivfServeTopK(spark: SparkSession, indexPath: String,
      centroidsPath: String, queries: DataFrame, idCol: String,
      vecCol: String, topK: Int, nprobe: Int = 1): DataFrame = {
    // every-load repair: a crash inside retireIds/publishIndexDelta
    // after a live cell was dropped but before its staged copy landed
    // would otherwise serve a tree silently missing a whole
    // non-retired cell until the next maintenance op. One existence
    // check per stage when clean.
    Sinks.recoverSwap(spark, indexPath)
    val hPath = new org.apache.hadoop.fs.Path(indexPath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a fully-retired tree can exist with zero data files — it has no
    // schema to read; serve it as the empty index it is. A
    // NONEXISTENT path is a misconfiguration and must fail loudly,
    // not serve empty answers forever.
    require(fs.exists(hPath),
      s"ivfServeTopK: index path does not exist: $indexPath")
    // READ ORDER IS LOAD-BEARING: the tree's FILE LISTING pins first
    // (a parquet read builds its file index eagerly), the
    // geometry second. A migration promote landing BETWEEN the two
    // leaves new geometry over an old listing whose files the promote
    // renamed away — the job fails loudly (FileNotFound), never
    // silently ranks rows under the wrong model. The reverse order
    // would read old geometry, then list the NEW tree's files: a
    // successful job with silently wrong answers (r18 review). With
    // this order every interleaving of a concurrent promote is either
    // consistent or loud, matching the r17 invalidate design's
    // guarantee.
    val indexRaw = Sinks.readTree(spark, indexPath).getOrElse(
      Sinks.emptyFrame(spark, StructType(Seq(
        StructField(idCol, queries.schema(idCol).dataType),
        StructField("q", ArrayType(LongType)),
        StructField("cell", LongType)))))
    // embedded model first (a migrated republished tree commits its
    // geometry in the same rename as its rows — r18 zero-outage);
    // external store otherwise
    val cents = readServingCentroids(spark, indexPath, centroidsPath)
    val q = Ann.portableQueryCells(queries, idCol, vecCol, cents, nprobe)
    // ≤ nprobe per query: a per-partition distinct, then the driver's
    val probed = DriverFold.distinctLongs(q.select("cell")).sorted
    val index = indexRaw
      .filter(col("cell").isin(probed: _*))
      .select(col(idCol), col("q"), col("cell").cast(LongType).as("cell"))
    Ann.integerTopK(index, q, idCol, "cell", topK)
  }

  /** Train the PQ serving codebook ON BATCH-0 RESIDUALS — the trained
    * counterpart of the deterministic spread table, following the
    * frozen-quantizer discipline exactly: batch 0 is the training
    * sample (the same slice the coarse centroids trained on), the
    * residual distribution there stands in for the corpus', and the
    * resulting table freezes ([[writePqCodebook]] beside the
    * centroids) so later publishes and serves are pure functions of
    * the raw tree plus two frozen models. Reads ONLY the `batch_id=0`
    * partition (pruned — training never rescans the corpus);
    * per-iteration work is one scan of that slice
    * ([[graft.similarity.Ann.portablePqTrainCodebooks]]). The default
    * `iters = 5` is the operating point of the round-14 ingest probe's
    * PQ sweep (recall@5 0.424 vs 0.200 at iters=2/shortlist=20, for
    * less serve wall; the probe lives in git history) — s20 gates it. */
  def trainPqCodebook(spark: SparkSession, indexPath: String,
      centroidsPath: String, m: Int, k: Int, iters: Int = 5,
      salt: String = "pqres"): Seq[Seq[Seq[Long]]] = {
    Sinks.recoverSwap(spark, indexPath) // every-load repair
    // the training slice is the batch-0 PARTITION, read through
    // partition pruning (`batch_id = 0` on the discovered partition
    // column), not a literal sub-path: once compactIndex folds the
    // prefix, `batch_id=0` no longer exists as a directory and the
    // slice is no longer isolable — fail with the contract spelled
    // out rather than a path-not-found from the scan
    require(listBatchIds(spark, indexPath).contains(0L),
      s"trainPqCodebook: no batch_id=0 partition under $indexPath — " +
        "the batch-0 training slice is no longer isolable (compacted " +
        "away?). Train and freeze the codebook BEFORE the first " +
        "compaction of the raw tree, like the coarse centroids.")
    val slice = Sinks.treeSchema(spark, s"$indexPath/batch_id=0")
    require(slice.isDefined,
      s"trainPqCodebook: the batch_id=0 partition under $indexPath " +
        "holds no data files (fully retired?) — there is no training " +
        "slice left. Train and freeze the codebook before retiring " +
        "the training batch.")
    val cents = readCentroids(spark, centroidsPath)
    val dim = cents.head.length
    val centLit = typedLit(cents.map(_.toSeq))
    val resid = spark.read.schema(slice.get).parquet(indexPath)
      .filter(col("batch_id") === 0L)
      .withColumn("r", zip_with(col("q"),
        element_at(centLit, (col("cell") + 1).cast(IntegerType)),
        (a, b) => a - b))
    Ann.portablePqTrainCodebooks(resid, "vec_id", "r", dim, m, k, iters,
      salt)
  }

  /** Persist a trained codebook as `(j, code, c)` rows beside the
    * centroids (same staged commit — a concurrent reader always sees a
    * complete model). */
  def writePqCodebook(spark: SparkSession, cb: Seq[Seq[Seq[Long]]],
      path: String): Unit = {
    Sinks.recoverSwap(spark, path)
    commitSmall(spark, path, CodebookSchema, codebookRows(cb))
  }

  /** Load the frozen codebook back as the nested literal model: one
    * repair, one file read. */
  def readPqCodebook(spark: SparkSession, path: String): Seq[Seq[Seq[Long]]] = {
    Sinks.recoverSwap(spark, path)
    codebookOf(SmallParquet.read(spark, path).getOrElse(
      throw new java.io.FileNotFoundException(s"no PQ codebook at $path")))
  }

  /** Publish the raw ingest tree as a PQ-CODED serving index — the
    * 100 TB serving form: each stored row keeps only the `m` codes of
    * its RESIDUAL (quantized vector − frozen cell centroid, the FAISS
    * `IVFPQ` layout s12 pins in batch form) instead of the dim-long
    * quantized vector — m bytes-scale vs dim·8, the ~32× compression
    * that lets the probed inverted lists stay in page cache. The
    * codebook is the deterministic SPREAD one
    * ([[Ann.portablePqCodebookSpread]] — components cover the full
    * ±10⁶ range, so codes genuinely partition residual space) — a
    * frozen model by construction, like the batch-0 centroids it sits
    * beside — so the coded tree is a pure function of the raw tree
    * and DuckDB re-derives every code (s17's oracle). One shuffle by cell, one file per inverted list,
    * republish through the staged swap: exactly
    * [[publishIndex]]'s lifecycle with an encode in the fold. */
  def publishPqIndex(spark: SparkSession, indexPath: String,
      centroidsPath: String, codedPath: String, idCol: String,
      m: Int, k: Int): Unit =
    publishPqIndexWith(spark, indexPath, centroidsPath, codedPath, idCol,
      m, k, None)

  /** [[publishPqIndex]] against a caller-supplied codebook — the
    * TRAINED serving path ([[trainPqCodebook]] on batch-0 residuals,
    * frozen and stored beside the centroids). The coded tree stays a
    * pure function of (raw tree, frozen models), so the oracle story
    * is unchanged: an external engine re-derives the training and
    * every code (s18). */
  def publishPqIndex(spark: SparkSession, indexPath: String,
      centroidsPath: String, codedPath: String, idCol: String,
      m: Int, k: Int, codebook: Seq[Seq[Seq[Long]]]): Unit =
    publishPqIndexWith(spark, indexPath, centroidsPath, codedPath, idCol,
      m, k, Some(codebook))

  private def publishPqIndexWith(spark: SparkSession, indexPath: String,
      centroidsPath: String, codedPath: String, idCol: String,
      m: Int, k: Int, cbOpt: Option[Seq[Seq[Seq[Long]]]]): Unit = {
    Sinks.recoverSwap(spark, indexPath) // every-load repair
    // a fully-retired raw tree keeps its batch_id= dirs but holds zero
    // data files, and the correct publish of an EMPTY corpus is an
    // EMPTY coded tree (the publishIndex erasure rule): previously
    // published code rows must leave at this republish. A NONEXISTENT
    // raw tree fails loudly (misconfigured path ≠ empty corpus). The
    // coded tree's one repair is its swap's own, or the empty commit's.
    val hIdx = new org.apache.hadoop.fs.Path(indexPath)
    require(hIdx.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(hIdx), s"publishPqIndex: index path does not exist: $indexPath")
    val raw = Sinks.readTree(spark, indexPath) match {
      case Some(df) => df
      case None => emptyTree(spark, codedPath); return
    }
    val cents = readCentroids(spark, centroidsPath)
    val dim = cents.head.length
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val cb = cbOpt.getOrElse(Ann.portablePqCodebookSpread(m, k, dim / m))
    require(cb.length == m && cb.forall(_.length == k) &&
      cb.forall(_.forall(_.length == dim / m)),
      s"codebook must be m=$m × k=$k × sub=${dim / m}")
    val centLit = typedLit(cents.map(_.toSeq))
    Sinks.overwriteViaSwap(spark,
      raw
        .drop("batch_id")
        .withColumn("r", zip_with(col("q"),
          element_at(centLit, (col("cell") + 1).cast(IntegerType)),
          (a, b) => a - b))
        .select(col(idCol),
          Ann.portablePqEncodeIntCodes(col("r"), m, k, dim / m, cb)
            .as("codes"),
          col("cell"))
        .repartition(col("cell")),
      codedPath, Seq("cell"))
  }

  /** Serve top-k from the PQ-CODED tree: probe `nprobe` cells under
    * the frozen centroids, ADC-shortlist against ONLY the probed
    * cells' code rows, then re-rank the shortlist by exact integer
    * squared L2 against the raw vector source (at 100 TB: a point
    * lookup into the vector store — the shortlist is |queries|·
    * `shortlist` ids, broadcast-sized). The per-(query, probed cell)
    * distance table is driver-built over the query's OWN residual in
    * that cell (|Q|·nprobe·m·k rows, broadcast) — the corpus side
    * never ships anything but its code rows. Integer-exact end to
    * end with ties to the lower id, so the full pipeline — probe
    * order, codes, ADC sums, shortlist, final ranks — is
    * bit-reproducible (s17's oracle re-derives it in DuckDB). The
    * `nprobe = 2, shortlist = 100` defaults are the operating point
    * of the round-14 ingest probe's PQ sweep (s20 gates its recall;
    * the probe lives in git history); spend nprobe for more recall
    * once shortlist saturates — the sweep's `pq_nprobe` axis priced
    * that path. */
  def pqServeTopK(spark: SparkSession, codedPath: String,
      centroidsPath: String, vectors: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, m: Int, k: Int, nprobe: Int = 2,
      shortlist: Int = 100, topK: Int): DataFrame =
    pqServeTopKWith(spark, codedPath, centroidsPath, vectors, queries,
      idCol, vecCol, m, k, nprobe, shortlist, topK, None)

  /** [[pqServeTopK]] against a caller-supplied codebook — MUST be the
    * same frozen table the coded tree was published with
    * ([[readPqCodebook]]), or the ADC sums are meaningless. */
  def pqServeTopK(spark: SparkSession, codedPath: String,
      centroidsPath: String, vectors: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, m: Int, k: Int, nprobe: Int,
      shortlist: Int, topK: Int, codebook: Seq[Seq[Seq[Long]]]): DataFrame =
    pqServeTopKWith(spark, codedPath, centroidsPath, vectors, queries,
      idCol, vecCol, m, k, nprobe, shortlist, topK, Some(codebook))

  private def pqServeTopKWith(spark: SparkSession, codedPath: String,
      centroidsPath: String, vectors: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, m: Int, k: Int, nprobe: Int,
      shortlist: Int, topK: Int,
      cbOpt: Option[Seq[Seq[Seq[Long]]]]): DataFrame = {
    require(shortlist >= topK, "shortlist must cover topK")
    import spark.implicits._
    // every-load repair of the coded tree (the ivfServeTopK rule):
    // retireIds on the PQ-coded tree commits through the same
    // partition commit, and a crash there must not leave serves
    // missing non-retired cells
    val hCoded = new org.apache.hadoop.fs.Path(codedPath)
    val codedFs = hCoded.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Sinks.recoverSwap(spark, codedPath)
    // READ ORDER IS LOAD-BEARING (the ivfServeTopK rule): the coded
    // tree's file listing pins FIRST, geometry second — a migration
    // promote landing between the two renames the listed files away
    // and the job fails loudly, never decodes new rows under old
    // geometry (r18 review)
    require(codedFs.exists(hCoded),
      s"pqServeTopK: coded path does not exist: $codedPath")
    val codesRaw = Sinks.readTree(spark, codedPath).getOrElse(
      Sinks.emptyFrame(spark, StructType(Seq(
        StructField(idCol, vectors.schema(idCol).dataType),
        StructField("codes", ArrayType(IntegerType)),
        StructField("cell", LongType)))))
    // embedded geometry next (r18 zero-outage: a migrated republished
    // coded tree carries the centroids AND the retrained codebook it
    // was encoded under, committed in the same rename as its rows);
    // explicit codebook argument wins, then the embedded one, then the
    // deterministic spread table — and a caller whose (m, k) disagree
    // with an embedded codebook fails loudly below, never decodes
    // under the wrong table
    val cents = readServingCentroids(spark, codedPath, centroidsPath)
    val dim = cents.head.length
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    val embedded =
      SmallParquet.read(spark, s"$codedPath/$CodebookDir").map(codebookOf)
    // a tree carrying an embedded codebook was ENCODED under it — an
    // explicit argument that disagrees is a stale external store (the
    // migration republished the tree; nobody refreshed the caller's
    // codebook path). Same-shape-different-values passes the geometry
    // require below, and ADC under the wrong table is silent recall
    // collapse — so the disagreement itself fails loudly (r18 review).
    embedded.zip(cbOpt).foreach { case (e, c) =>
      require(e == c,
        s"pqServeTopK: explicit codebook differs from the one embedded" +
          s" in $codedPath — the tree was (re)encoded under the " +
          "embedded table (capacity-migration republish); drop the " +
          "explicit argument or re-read it from the tree")
    }
    val cb = cbOpt.orElse(embedded)
      .getOrElse(Ann.portablePqCodebookSpread(m, k, sub))
    require(cb.length == m && cb.forall(_.length == k) &&
      cb.forall(_.forall(_.length == sub)),
      s"pqServeTopK: codebook geometry ${cb.length}×${cb.headOption
        .map(_.length).getOrElse(0)} does not match m=$m k=$k sub=$sub")
    // query-side model-sized driver work: quantize, rank cells under
    // the frozen centroids, per probed cell the residual's distance
    // to every code centroid
    val qrows = queries
      .select(col(idCol).cast(LongType),
        transform(col(vecCol).cast(ArrayType(DoubleType)),
          x => floor(x * 1000000d).cast(LongType)))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val dtab = qrows.flatMap { case (qid, qv) =>
      val byDist = cents.zipWithIndex.map { case (cv, cell) =>
        var d = 0L; var i = 0
        while (i < dim) { val t = qv(i) - cv(i); d += t * t; i += 1 }
        (d, cell)
      }.sorted.take(nprobe)
      byDist.flatMap { case (_, cell) =>
        val qr = Array.tabulate(dim)(i => qv(i) - cents(cell)(i))
        for (j <- 0 until m; c <- 0 until k) yield {
          var d = 0L; var i = 0
          while (i < sub) {
            val t = qr(j * sub + i) - cb(j)(c)(i); d += t * t; i += 1
          }
          (qid, cell.toLong, j, c, d)
        }
      }
    }.toSeq.toDF("query_id", "cell", "j", "code", "dcell")
    val probed = dtab.select("cell").distinct()
      .collect().map(_.getLong(0)) // ≤ |queries|·nprobe, model-sized
    // probed cells only: partition-directory pruning on `cell=` over
    // the listing pinned ABOVE (before the geometry reads)
    val codes = codesRaw
      .filter(col("cell").isin(probed: _*))
      .select(col(idCol).as("vec_id"), col("codes"),
        col("cell").cast(LongType).as("cell"))
      .select(col("vec_id"), col("cell"), posexplode(col("codes")))
      .toDF("vec_id", "cell", "j", "code")
    val adc = codes.join(broadcast(dtab), Seq("cell", "j", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("dcell").as("adc"))
    val wShort = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc"), col("vec_id"))
    val short = adc.withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlist)
      .select("query_id", "vec_id")
    // exact second pass: the shortlist (broadcast-sized) joins the
    // raw vector source by id — the PQ serving architecture's point-
    // lookup rerank
    val cq = vectors.select(col(idCol).as("vec_id"),
      transform(col(vecCol).cast(ArrayType(DoubleType)),
        x => floor(x * 1000000d).cast(LongType)).as("cv"))
    val qdf = qrows.toSeq.toDF("query_id", "qv")
    val wFinal = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("d2"), col("vec_id"))
    cq.join(broadcast(short), "vec_id").join(broadcast(qdf), "query_id")
      .withColumn("d2", aggregate(
        zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x))
      .withColumn("rank", row_number().over(wFinal).cast(LongType))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("d2"))
  }
}
