package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorFunctions

/** Similarity search over an `array<float>` embedding column.
  *
  * Brute-force is the exact baseline: broadcast the (small) query set
  * against the full corpus — one scan, no shuffle of the corpus, the
  * cosine kernel runs inside codegen. The scale paths prune the
  * candidate set: IVF (inverted file) restricts to the query's coarse
  * cell(s); random-hyperplane LSH restricts to signature buckets.
  */
object Ann {

  /** IVF model capacity scaled to the corpus. */
  final case class IvfCapacity(cells: Int, nprobe: Int)

  /** The CAPACITY RULE for an IVF serving index: model size must grow
    * with the corpus or recall decays (measured: s20's recall@5 fell
    * 0.532 → 0.380 when the corpus grew 4× at fixed cells=8/nprobe=2 —
    * and the round-16 capacity sweep (CAPACITY_r16.json; the probe
    * lives in git history) shows that loss is mostly
    * PROBE loss: the exact-within-probed-cells ceiling at that point
    * is 0.444, so no codebook can rescue a fixed probe under a grown
    * corpus). The rule, each clause pinned by a sweep axis:
    *
    *  - `cells` = the smallest power of two ≥ 8 with
    *    `cells² · 16 ≥ n` — i.e. cells ≈ √(n/16), the classic
    *    cells ∝ √N shape that keeps per-list length (n/cells) AND
    *    centroid-assign cost (cells) growing as √N instead of N.
    *    Integer comparisons only, so an external engine re-derives the
    *    same value with no float boundary risk (the duckHash
    *    discipline applied to a config rule).
    *  - `nprobe` = max(2, cells/4): probing a FIXED 1/4 of the cells
    *    (floor 2) holds the probed corpus fraction — and with it the
    *    IVF ceiling — roughly stable as cells grows, and the sweep
    *    shows served recall at that fixed fraction IMPROVES with
    *    finer cells (sf0.1, k=16: 0.380 at 8/2 → 0.468 at 16/4 →
    *    0.584 at 32/8), because shorter lists localize the true
    *    neighbors better. A fixed nprobe COUNT under growing cells
    *    probes a shrinking fraction and the ceiling FALLS (16 cells
    *    at nprobe=2: ceiling 0.328 — worse than the legacy point).
    *
    * At the driver SFs: n=500 → (8, 2) (the s13–s20 legacy point);
    * n=2000 → (16, 4); n=2·10⁵ → (128, 32). PQ code count stays k=16
    * per subspace at every scale (s21 adopts it over s20's k=8 — the
    * sweep shows it buys recall at every (cells, nprobe) point for 2×
    * ADC table cost, and unlike cells/nprobe it cannot be grown
    * without re-coding the tree). The honest read-cost statement:
    * exact-ground-truth recall ≥ ~0.45 is bought with ≈ n/4
    * candidates per query at this quantization — the knob a
    * deployment turns DOWN for cheaper, lower-recall serving is
    * nprobe, and CAPACITY_r16.json prices that curve. */
  def ivfCapacityForCorpus(n: Long): IvfCapacity = {
    var cells = 8
    while (cells.toLong * cells * 16 < n && cells < (1 << 20)) cells *= 2
    IvfCapacity(cells, math.max(2, cells / 4))
  }

  /** The COMMITTED probed-fraction → recall@5 curve behind
    * [[nprobeForRecall]]: measured points from the capacity sweep
    * (CAPACITY_r16.json, sf0.1 — the largest driver corpus — at the
    * rule's cells, k=16, iters=5, shortlist=100, the exact lifecycle
    * s21/s22 gate). The smaller SFs measured HIGHER recall at the same
    * fractions (0.500/0.532 vs 0.468 at the 1/4 point), so this curve
    * is the conservative end of the committed evidence. Probing the
    * full cell set is the exact-within-IVF ceiling only for the raw
    * serve; through the PQ path coding loss keeps recall below 1, so
    * the curve ends at its largest MEASURED point rather than
    * extrapolating.
    *
    * VALIDITY SCOPE: k = 16 codes/subspace, shortlist = 100, recall@5
    * — the exact lifecycle the sweep ran; a deployment changing any of
    * those must re-run the capacity family, not reuse this curve.
    * PROVENANCE IS PINNED BY SPEC (r18 #4): `package-visible` so
    * AnnSpec re-reads the committed CAPACITY_r16.json artifact and
    * asserts this table IS its sf0.1 rule-point slice — the test goes
    * red if either side changes alone, closing the silent-drift gap
    * between a hard-coded constants table and the evidence it
    * transcribes. */
  private[graft] val recallByProbedFraction: Seq[(Double, Double)] = Seq(
    0.125 -> 0.312, // nprobe = cells/8  (CAPACITY_r16 sf0.1, 16/2)
    0.25 -> 0.468,  // nprobe = cells/4  — the rule's default point
    0.5 -> 0.588)   // nprobe = cells/2  (16/8)

  /** RECALL-TARGET serving point (round-16 verdict #3): the capacity
    * sweep prices the (cells, nprobe) → recall surface, but a caller
    * wanting "recall ≥ 0.55" should not have to read the JSON — this
    * derives the cheapest committed operating point for a target:
    * cells from [[ivfCapacityForCorpus]] (capacity is set by the
    * corpus, not the target), nprobe = the smallest SWEPT probed
    * fraction whose measured recall clears the target (read cost grows
    * with the fraction — each probed cell is one more inverted list).
    * The capacity rule's own default is exactly the 1/4 point on this
    * curve. None when the target exceeds the committed curve's top —
    * more nprobe is NOT evidence-backed past that point (coding loss,
    * not probe loss, binds); the caller must change the capacity
    * family (more PQ codes, larger shortlist, exact rerank width)
    * rather than silently over-probing. Measured at a non-default
    * target by the round-17 capacity probe (in git history): target
    * 0.55 picks the 1/2-fraction point and recall clears it at every
    * SF (0.728 / 0.736 / 0.588). */
  def nprobeForRecall(n: Long, target: Double): Option[IvfCapacity] = {
    require(target > 0 && target <= 1, "target must be in (0, 1]")
    val cells = ivfCapacityForCorpus(n).cells
    recallByProbedFraction.find(_._2 >= target).map { case (frac, _) =>
      IvfCapacity(cells,
        math.max(2, math.min(cells, (cells * frac).round.toInt)))
    }
  }

  /** Exact top-k: score queries × corpus, keep k best per query.
    * `queries` must be broadcast-sized (the corpus side is never
    * shuffled; ranking shuffles only (queries × corpus) scored rows,
    * pruned per-partition by the window's rank pushdown in AQE). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val scored = corpus.as("c").join(
        broadcast(queries.select(col(idCol).as("query_id"),
          col(vecCol).as("qvec"))),
        col("query_id") =!= col(s"c.$idCol"))
      .withColumn("score",
        VectorFunctions.cosineSim(col("qvec"), col(s"c.$vecCol")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col(s"c.$idCol"))
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(s"c.$idCol").as("neighbor_id"),
        col("rank"))
  }

  /** IVF top-k: candidates restricted to the query's coarse cell
    * (here: a precomputed partition key such as a cluster label; in a
    * full IVF build the cell is argmin-centroid). Same output shape as
    * brute force but scans |cell| instead of |corpus| per query. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cellCol: String, k: Int): DataFrame = {
    val scored = corpus.as("c").join(
        broadcast(queries.select(col(idCol).as("query_id"),
          col(vecCol).as("qvec"), col(cellCol).as("qcell"))),
        col("qcell") === col(s"c.$cellCol") &&
          col("query_id") =!= col(s"c.$idCol"))
      .withColumn("score",
        VectorFunctions.cosineSim(col("qvec"), col(s"c.$vecCol")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col(s"c.$idCol"))
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(s"c.$idCol").as("neighbor_id"),
        col("rank"))
  }

  /** Full IVF: train coarse centroids (one aggregation pass with the
    * VectorMean Aggregator), assign each query to its `nprobe` nearest
    * centroids, then search only those cells. Multi-probe is the
    * standard recall lever (a query near a cell boundary finds
    * neighbors in the adjacent cell): per probed cell the query emits
    * one assignment row, cells are disjoint per corpus vector, so no
    * candidate is scored twice; nprobe = |cells| degenerates to exact
    * brute force (spec-pinned). The centroid table is tiny — both the
    * assignment join and the cell restriction broadcast it. */
  def ivfTrainedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cellCol: String, k: Int, nprobe: Int = 1): DataFrame = {
    require(nprobe > 0, "nprobe must be positive")
    val centroids = corpus.groupBy(col(cellCol))
      .agg(graft.functions.VectorMean.asColumn(col(vecCol)).as("centroid"))
    val assigned = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("qvec"))
      .join(broadcast(centroids))
      .withColumn("cscore",
        VectorFunctions.cosineSim(col("qvec"), col("centroid")))
      .withColumn("crank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cscore").desc, col(cellCol))))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("qvec"), col(cellCol).as("qcell"))
    val scored = corpus.as("c").join(broadcast(assigned),
        col("qcell") === col(s"c.$cellCol") &&
          col("query_id") =!= col(s"c.$idCol"))
      .withColumn("score",
        VectorFunctions.cosineSim(col("qvec"), col(s"c.$vecCol")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col(s"c.$idCol"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(s"c.$idCol").as("neighbor_id"), col("rank"))
  }

  /** Nearest-centroid cell via the native [[graft.functions.NearestCell]]
    * kernel — the model rides as a reference object, so the plan tree
    * is one node regardless of k·dim (the declarative witness below
    * analyzes O(model) literal nodes per plan build, which dominated
    * trained-model wall time). Assignment is a narrow map over the
    * scan — no join, no window, no shuffle. Ties go to the lowest
    * cell id, exactly as the witness's array_min struct ordering. */
  def nearestCell(vec: Column, centroids: Seq[(Long, Array[Float])]): Column =
    graft.functions.PqFunctions.nearestCell(vec, centroids)

  /** The array-of-struct-literals formulation the kernel must match;
    * kept as the spec's independent witness. */
  private[graft] def nearestCellDeclarative(vec: Column,
      centroids: Seq[(Long, Array[Float])]): Column = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val entries = centroids.sortBy(_._1).map { case (cell, v) =>
      struct(typedlit(v).as("centroid"), lit(cell).as("cell"))
    }
    val scored = transform(array(entries: _*), c =>
      struct(VectorFunctions.l2Distance(vec, c.getField("centroid")).as("d"),
        c.getField("cell").as("cell")))
    array_min(scored).getField("cell")
  }

  /** Distributed k-means (Lloyd's) — the coarse-quantizer trainer a
    * real IVF build needs (s04's per-label means assume labels exist;
    * this learns the cells). Per iteration: one corpus scan with the
    * [[nearestCell]] map plus one shuffle-on-cell `VectorMean`
    * aggregation; the driver holds only the k·dim model floats — the
    * standard distributed k-means shape, corpus never collected.
    *
    * Init is deterministic: the k corpus vectors with the smallest
    * salted-hash draw (a stable pseudo-random sample, so re-runs
    * train from identical seeds). A cell nothing mapped to keeps its
    * previous centroid (Lloyd's degeneracy guard). */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, salt: String = "kmeans"): Seq[(Long, Array[Float])] = {
    require(k > 0 && iters >= 0, "k must be positive, iters non-negative")
    import graft.corpus.Selection
    val seeds = corpus
      .orderBy(Selection.hashValue(Selection.saltedKey(col(idCol), salt)),
        col(idCol))
      .limit(k)
      .select(col(vecCol))
      .collect().map(_.getSeq[Float](0).toArray)
    var cents: Seq[(Long, Array[Float])] =
      seeds.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
    for (_ <- 0 until iters) {
      val updated = corpus
        .withColumn("cell", nearestCell(col(vecCol), cents))
        .groupBy("cell")
        .agg(graft.functions.VectorMean.asColumn(col(vecCol)).as("centroid"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      cents = cents.map { case (cell, old) =>
        cell -> updated.getOrElse(cell, old)
      }
    }
    cents
  }

  /** Train k-means cells and label every corpus row with its cell —
    * the "cluster the corpus" building block for diversity curation
    * (feed the result to `Selection.clusterQuotaSample`) and IVF
    * indexing. */
  def kmeansAssign(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, salt: String = "kmeans"): DataFrame =
    corpus.withColumn("cell",
      nearestCell(col(vecCol),
        kmeansCentroids(corpus, idCol, vecCol, k, iters, salt)))

  /** Portable integer k-means — the oracle twin of
    * [[kmeansCentroids]]/[[kmeansAssign]]'s machinery (s06/s08's
    * pattern extended to the trainer): vectors quantize to BIGINT
    * (floor(x·10⁶)), seeds are the k smallest (md5-hash, id) draws,
    * and Lloyd's runs entirely in integer arithmetic — exact squared-L2
    * argmin with ties to the lower cell id, centroid update by
    * per-component floor-division mean, empty cells keep their
    * centroid — so every assignment after every iteration is
    * bit-reproducible in any engine. Per iteration: one corpus scan,
    * no shuffle: each partition's per-cell component sums go to the
    * driver (k·dim longs — the model, never the corpus).
    * Returns (idCol, cell) under the final centroids. */
  def portableKmeansAssign(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int, iters: Int, salt: String = "pkmeans"): DataFrame = {
    val cents = portableKmeansCentroids(corpus, idCol, vecCol, dim, k,
      iters, salt)
    quantizeVec(corpus, idCol, vecCol)
      .withColumn("cell", portableCellOf(col("q"), cents))
      .select(col(idCol), col("cell"))
  }

  /** The ONE floor(x·10⁶) integer quantization expression every
    * portable twin shares (a second rendering could silently diverge
    * from the oracle SQL's quantizer). */
  private def quantized(vec: Column): Column =
    transform(vec, x => floor(x.cast(DoubleType) * 1000000.0).cast(LongType))

  /** [[quantized]] applied to `vecCol` as column "q". */
  private def quantizeVec(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.select(col(idCol), quantized(col(vecCol)).as("q"))

  /** Broadcast-candidate exact-integer ranking shared by the portable
    * search twins ([[portableLshTopK]], [[portableIvfExactTopK]]):
    * corpus `(idCol, q, key)` joined to the broadcast query frame
    * `(query_id, qv, key)` on `key`, exact integer squared L2 over the
    * quantized vectors, `row_number ≤ k` with ties to the lower id.
    * The corpus side never shuffles before ranking. */
  private[graft] def integerTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, key: String, k: Int): DataFrame = {
    val scored = corpus.join(broadcast(queries), key)
      .filter(col("query_id") =!= col(idCol))
      .withColumn("d2", aggregate(
        zip_with(col("q"), col("qv"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x))
    val w = Window.partitionBy("query_id").orderBy(col("d2"), col(idCol))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("rank"),
        col("d2"))
  }

  /** Per-cell exact integer squared-L2 scores for a quantized vector
    * against literal centroids, as `(d, cell)` structs — the ONE
    * scoring body behind argmin assignment and nprobe cell ranking
    * (struct ordering = (distance, cell), so ties go to the lower
    * cell id under both array_min and array_sort). */
  private def portableCellScores(q: Column,
      cents: Seq[Array[Long]]): Column =
    array(cents.zipWithIndex.map { case (cv, j) =>
      val dist = aggregate(
        zip_with(q, typedLit(cv.toSeq), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
      struct(dist.as("d"), lit(j.toLong).as("cell"))
    }: _*)

  /** Exact integer squared-L2 argmin cell id for a quantized vector
    * (ties → lower cell id). Native kernel
    * ([[graft.functions.NearestCellInt]]): the centroid model rides as
    * a reference object, so assignment is one Catalyst node with
    * codegen shared across model VALUES — the declarative witness
    * below builds k aggregate/zip_with literal subtrees per plan, a
    * fresh analyze+codegen for every Lloyd's iteration and every
    * ingest micro-batch (pure fixed cost; the [[nearestCell]] /
    * [[portablePqEncode]] lesson applied to the integer path — spec
    * cross-checks the two on real embeddings and forced ties). */
  private def portableCellOf(q: Column, cents: Seq[Array[Long]]): Column =
    graft.functions.PqFunctions.nearestCellInt(q, cents.map(_.toSeq))

  /** Declarative witness of [[portableCellOf]] for the spec. */
  private[graft] def portableCellOfDeclarative(q: Column,
      cents: Seq[Array[Long]]): Column =
    array_min(portableCellScores(q, cents)).getField("cell")

  /** The top-`nprobe` cells for a quantized vector, ranked by
    * (distance, cell) — the head is exactly [[portableCellOf]]'s
    * argmin, so nprobe = 1 reproduces single-cell assignment. */
  private[graft] def portableTopCellsOf(q: Column, cents: Seq[Array[Long]],
      nprobe: Int): Column =
    transform(slice(array_sort(portableCellScores(q, cents)), 1, nprobe),
      s => s.getField("cell"))

  /** Serve-time query frame under a FROZEN quantizer: quantize, rank
    * cells by exact integer distance, explode the top `nprobe` — one
    * row per (query, probed cell), the `(query_id, qv, cell)` shape
    * [[integerTopK]] broadcasts. nprobe is the served index's
    * recall/read-cost knob: each extra probed cell adds one more
    * inverted list to the scan and can only improve the candidates. */
  def portableQueryCells(queries: DataFrame, idCol: String,
      vecCol: String, cents: Seq[Array[Long]], nprobe: Int): DataFrame = {
    require(nprobe > 0, "nprobe must be positive")
    quantizeVec(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("q").as("qv"),
        explode(portableTopCellsOf(col("q"), cents, nprobe)).as("cell"))
  }

  /** Cell assignment under a FROZEN coarse quantizer: quantize and
    * argmin-assign `df` against centroids trained elsewhere (a prior
    * [[portableKmeansCentroids]] run — the 100 TB practice of training
    * the quantizer once on a sample and freezing it for ingest).
    * Returns `(idCol, q, cell)` — exactly the stored-index row shape
    * [[graft.streaming.AnnStream]] persists and [[integerTopK]]
    * consumes, so ingest-time assignment and serve-time query
    * assignment share this ONE rendering of the quantize+argmin step. */
  def portableAssignWithCentroids(df: DataFrame, idCol: String,
      vecCol: String, cents: Seq[Array[Long]]): DataFrame =
    quantizeVec(df, idCol, vecCol)
      .withColumn("cell", portableCellOf(col("q"), cents))

  /** [[portableAssignWithCentroids]] for rows that are ALREADY
    * quantized (the stored-index row shape — `qCol` holds the
    * `floor(x·10⁶)` longs): argmin-assign without re-quantizing.
    * Quantization is idempotent only in spirit, not in arithmetic
    * (the stored longs would be re-scaled), so re-assignment of a
    * persisted index — capacity migration's re-shard — must enter
    * here. Output column is `cell`, overwriting any existing one. */
  def portableAssignQuantized(df: DataFrame, qCol: String,
      cents: Seq[Array[Long]]): DataFrame =
    df.withColumn("cell", portableCellOf(col(qCol), cents))

  /** The trained centroids behind [[portableKmeansAssign]] (exposed so
    * composed indexes — IVF-PQ — can share one coarse model): k
    * md5-seeded integer vectors refined by `iters` exact-integer
    * Lloyd's iterations. Driver holds k·dim longs — the model, never
    * the corpus. */
  def portableKmeansCentroids(corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, iters: Int,
      salt: String = "pkmeans"): Seq[Array[Long]] =
    portableKmeansCentroidsQuantized(
      quantizeVec(corpus, idCol, vecCol), idCol, "q", dim, k, iters, salt)

  /** [[portableKmeansCentroids]] over ALREADY-quantized vectors — the
    * trainer capacity migration runs against the persisted raw index
    * tree, whose `q` longs are the same bits the float path would
    * produce (quantization is a pure function), so a retrain from the
    * store is bit-identical to a retrain from the source embeddings:
    * seeds by the same salted md5 order, exact integer Lloyd's with
    * floorDiv means, frozen thereafter. Each iteration is one
    * exchange-free [[graft.core.DriverFold]] job: partitions sum their
    * vectors per nearest cell (k·dim longs, k counts), the driver adds
    * them. A null vector is skipped, a null component or wrong length
    * fails as in [[portableCellOf]], and an overflowing sum throws. */
  def portableKmeansCentroidsQuantized(corpus: DataFrame, idCol: String,
      qCol: String, dim: Int, k: Int, iters: Int,
      salt: String = "pkmeans"): Seq[Array[Long]] = {
    require(k > 0 && iters >= 0 && dim > 0, "k, dim positive; iters >= 0")
    import graft.corpus.Selection
    val q = corpus.select(col(idCol), col(qCol).as("q"))
    val seeds = q
      .orderBy(Selection.hashValue(Selection.saltedKey(col(idCol), salt)),
        col(idCol))
      .limit(k).select("q").collect().map(_.getSeq[Long](0).toArray)
    require(seeds.length == k && seeds.forall(_.length == dim),
      s"portableKmeansCentroids needs $k dim=$dim vectors to seed")
    var cents: Seq[Array[Long]] = seeds.toSeq
    for (_ <- 0 until iters) {
      val cs = cents.toArray
      // [cell-major sums (k·dim), counts (k)]
      val acc = graft.core.DriverFold(q.select("q")) { it =>
        val a = new Array[Long](k * dim + k)
        it.foreach(r => if (!r.isNullAt(0)) {
          val v = new org.apache.spark.sql.catalyst.util.GenericArrayData(
            r.getSeq[Any](0).toArray)
          val c = graft.functions.PqKernels.nearestCellInt(v, cs).toInt
          (0 until dim).foreach(i =>
            a(c * dim + i) = Math.addExact(a(c * dim + i), v.getLong(i)))
          a(k * dim + c) += 1
        })
        a
      } { (a, b) => a.indices.foreach(i => a(i) = Math.addExact(a(i), b(i))); a }
      cents = cs.indices.map { j =>
        val n = acc(k * dim + j)
        if (n == 0L) cs(j) else Array.tabulate(dim)(i => Math.floorDiv(acc(j * dim + i), n))
      }
    }
    cents
  }

  /** Lloyd's objective: total squared L2 distance from every corpus
    * vector to its nearest centroid — one scan, one scalar aggregate
    * (the per-row min is a k-entry literal-array fold, no join). Used
    * by the s05 oracle gate to assert training DESCENDED the
    * objective (monotone under exact Lloyd's; the float trainer's
    * merge-order jitter is orders of magnitude below the descent this
    * gates on). */
  def kmeansSse(corpus: DataFrame, vecCol: String,
      cents: Seq[(Long, Array[Float])]): Double = {
    require(cents.nonEmpty, "centroids must be non-empty")
    // l2Distance is the ROOT distance; the Lloyd's objective (and the
    // monotone-descent property the s05 gate relies on) is the SQUARED
    // sum — sqrt is monotone, so squaring the per-row min root
    // distance yields exactly the min squared distance
    val minD = array_min(array(cents.sortBy(_._1).map { case (_, v) =>
      VectorFunctions.l2Distance(col(vecCol), typedlit(v))
    }: _*))
    corpus.agg(sum(minD * minD)).collect()(0).getDouble(0)
  }

  /** Portable trained-IVF search — the oracle twin of
    * [[ivfTrainedTopK]]'s WHOLE pipeline (trainer + assignment +
    * cell-restricted ranking), in the s06/s08/s09 quantize-and-pin
    * pattern: coarse cells from [[portableKmeansCentroids]] (exact
    * integer Lloyd's), corpus and queries assigned by exact integer
    * argmin, candidates restricted to the query's cell, ranked by
    * exact integer squared L2 over the floor(x·10⁶)-quantized
    * vectors. Every cell, rank and distance is BIGINT arithmetic an
    * external engine reproduces bit-for-bit. Same plan shape as the
    * float path: corpus never shuffled, queries broadcast, one
    * partial-ranked window. */
  def portableIvfExactTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, cells: Int, iters: Int,
      topK: Int, salt: String = "pkmeans"): DataFrame = {
    val cents = portableKmeansCentroids(corpus, idCol, vecCol, dim, cells,
      iters, salt)
    val c = quantizeVec(corpus, idCol, vecCol)
      .withColumn("cell", portableCellOf(col("q"), cents))
    val q = quantizeVec(queries, idCol, vecCol)
      .withColumn("cell", portableCellOf(col("q"), cents))
      .select(col(idCol).as("query_id"), col("q").as("qv"), col("cell"))
    integerTopK(c, q, idCol, "cell", topK)
  }

  /** Random-hyperplane LSH signature: `nBits` sign bits of dot products
    * with pseudo-random hyperplanes. Hyperplane j component i is a
    * deterministic hash-derived value in [-1,1] — no stored model. */
  def lshSignature(vecCol: Column, dim: Int, nBits: Int = 16): Column =
    (0 until nBits).map { j =>
      val dotp = aggregate(
        zip_with(vecCol, sequence(lit(0), lit(dim - 1)), (x, i) =>
          x.cast(DoubleType) *
            ((pmod(xxhash64(lit(j), i), lit(2000001L)) - 1000000L)
              .cast(DoubleType) / 1000000.0)),
        lit(0.0d), (acc, x) => acc + x)
      when(dotp >= 0.0, shiftleft(lit(1L), j)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Deterministic hyperplane coefficients for the portable LSH
    * variant: integer in [-1001, 1001] per (bit, dim), from a fixed
    * affine-mod formula — reproducible in any engine, no stored
    * model. */
  def portableLshCoefs(nBits: Int, dim: Int): Seq[Seq[Long]] =
    (0 until nBits).map { j =>
      (0 until dim).map(i => ((j * 8191L + i * 127L + 5L) % 2003L) - 1001L)
    }

  /** Portable-hash LSH bucket — the oracle twin of [[lshSignature]]'s
    * machinery (like SimHash's d08): hyperplane signs computed with
    * INTEGER-exact arithmetic so DuckDB reproduces every bit.
    * Components are quantized with floor(x·1e6) (floor, not round:
    * round's half-case tie-break differs across engines; floor is
    * identical), then dotted with the integer coefficients in a left
    * fold — all exact int64, |Σ| < 2^47. The production path (s03)
    * keeps xxhash64-derived hyperplanes; this pins the
    * quantize→dot→sign→bit-pack machinery against the oracle. */
  def portableLshBucket(vec: Column, nBits: Int, dim: Int): Column = {
    val coefs = portableLshCoefs(nBits, dim)
    val q = transform(vec.cast(ArrayType(DoubleType)),
      x => floor(x * 1000000d).cast(LongType))
    (0 until nBits).map { j =>
      val dotp = aggregate(
        zip_with(q, typedlit(coefs(j)), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x)
      when(dotp >= 0L, shiftleft(lit(1L), j)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  // -------------------------------------------- product quantization

  /** Train PQ codebooks: split the `dim`-dimensional space into `m`
    * consecutive subspaces of dim/m components and k-means every
    * subspace SIMULTANEOUSLY — per iteration, ONE corpus scan emits
    * (subspace, cell, slice) rows and one shuffle aggregates all m·k
    * sub-centroids with the VectorMean Aggregator (training per
    * subspace separately would scan the corpus m× per iteration for
    * the identical arithmetic). Seeds are the k smallest salted-hash
    * draws, sliced per subspace — deterministic, one pass. The full
    * model is m·k·(dim/m) = k·dim floats regardless of corpus size;
    * it ships as a plan literal. A cell nothing mapped to keeps its
    * previous centroid (Lloyd's degeneracy guard, as in
    * [[kmeansCentroids]]). */
  def pqTrainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int,
      salt: String = "pq"): Seq[Seq[(Long, Array[Float])]] = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(k > 0 && iters >= 0, "k must be positive, iters non-negative")
    import graft.corpus.Selection
    val sub = dim / m
    // null/ragged vectors are excluded from SEEDING and TRAINING alike
    // (the native encode kernel throws on ragged input, and a null
    // vector would group under a null cell)
    val usable = corpus.filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
    val seeds = usable
      .orderBy(Selection.hashValue(Selection.saltedKey(col(idCol), salt)),
        col(idCol))
      .limit(k)
      .select(col(vecCol))
      .collect().map(_.getSeq[Float](0).toArray)
    // a smaller-than-k codebook would silently change the code range the
    // caller asked for (and null/ragged vectors would NPE above)
    require(seeds.length == k,
      s"pqTrainCodebooks needs k=$k non-null dim=$dim vectors to seed, " +
        s"corpus has ${seeds.length}")
    var cbs: Vector[Seq[(Long, Array[Float])]] = Vector.tabulate(m) { j =>
      seeds.zipWithIndex.map { case (v, c) =>
        (c.toLong, v.slice(j * sub, (j + 1) * sub))
      }.toSeq
    }
    for (_ <- 0 until iters) {
      // codes for ALL subspaces in one native-kernel call per row; the
      // per-subspace explode then just indexes the codes attribute
      val withCodes = usable.withColumn("_pq_codes",
        graft.functions.PqFunctions.pqEncode(col(vecCol), cbs))
      val perSub = array((0 until m).map { j =>
        struct(lit(j).as("j"),
          element_at(col("_pq_codes"), j + 1).cast(LongType).as("cell"),
          slice(col(vecCol), j * sub + 1, sub).as("sub"))
      }: _*)
      val updated = withCodes.select(explode(perSub).as("e"))
        .groupBy(col("e.j").as("j"), col("e.cell").as("cell"))
        .agg(graft.functions.VectorMean.asColumn(col("e.sub")).as("centroid"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Float](2).toArray)
        .toMap
      cbs = Vector.tabulate(m) { j =>
        cbs(j).map { case (cell, old) =>
          cell -> updated.getOrElse((j, cell), old)
        }
      }
    }
    cbs
  }

  /** PQ-encode a vector: per subspace, the code of the nearest
    * codebook centroid ([[nearestCell]] per slice — a narrow map over
    * the scan, no shuffle). 64 floats (256 bytes) become m small ints;
    * at m=8, k=16 that is 32× compression, which is what lets a
    * 100 TB embedding corpus' index live in a fraction of the space
    * and the ADC scan read bytes instead of vectors. */
  def pqEncode(vec: Column, dim: Int,
      codebooks: Seq[Seq[(Long, Array[Float])]]): Column = {
    require(dim == codebooks.size * codebooks.head.head._2.length,
      s"dim=$dim must equal m x dim/m of the codebook")
    graft.functions.PqFunctions.pqEncode(vec, codebooks)
  }

  /** Declarative witness of [[pqEncode]] (nearestCell witness per
    * slice) for the spec. */
  private[graft] def pqEncodeDeclarative(vec: Column, dim: Int,
      codebooks: Seq[Seq[(Long, Array[Float])]]): Column = {
    val m = codebooks.size
    val sub = dim / m
    array((0 until m).map { j =>
      nearestCellDeclarative(slice(vec, j * sub + 1, sub), codebooks(j))
        .cast(IntegerType)
    }: _*)
  }

  /** Asymmetric-distance (ADC) approximate squared-L2 between a raw
    * query vector and a PQ code array: Σ_j ‖q_j − centroid_j[code_j]‖².
    * The codebook rides as a nested literal; per row the expression
    * does m small slice-vs-centroid kernels — the corpus' float
    * vectors are never touched. */
  def pqAdcDistance(qvec: Column, codes: Column, dim: Int,
      codebooks: Seq[Seq[(Long, Array[Float])]]): Column = {
    require(dim == codebooks.size * codebooks.head.head._2.length,
      s"dim=$dim must equal m x dim/m of the codebook")
    graft.functions.PqFunctions.pqAdc(qvec, codes, codebooks)
  }

  /** Declarative witness of [[pqAdcDistance]] (per-subspace
    * element_at into the nested centroid literal) for the spec. */
  private[graft] def pqAdcDistanceDeclarative(qvec: Column, codes: Column,
      dim: Int, codebooks: Seq[Seq[(Long, Array[Float])]]): Column = {
    val m = codebooks.size
    val sub = dim / m
    (0 until m).map { j =>
      val cents: Seq[Seq[Double]] =
        codebooks(j).sortBy(_._1).map(_._2.map(_.toDouble).toSeq)
      val qsub = slice(qvec, j * sub + 1, sub).cast(ArrayType(DoubleType))
      val csub = element_at(typedlit(cents),
        element_at(codes, j + 1) + 1)
      aggregate(zip_with(qsub, csub, (a, b) => (a - b) * (a - b)),
        lit(0.0d), (acc, x) => acc + x)
    }.reduce(_ + _)
  }

  /** PQ top-k: encode the corpus once (codes are the index — in a
    * real deployment they are precomputed and stored), broadcast the
    * query set, rank by ADC distance. The scan side reads only the
    * code arrays; scoring is a literal-table lookup per subspace.
    * Exactness property used by the spec: a vector identical to the
    * query attains the theoretical ADC minimum (the query's own
    * reconstruction error), so planted duplicates rank first. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, codebooks: Seq[Seq[(Long, Array[Float])]],
      k: Int): DataFrame = {
    val encoded = corpus.select(col(idCol),
      pqEncode(col(vecCol), dim, codebooks).as("codes"))
    val scored = encoded.as("c").join(
        broadcast(queries.select(col(idCol).as("query_id"),
          col(vecCol).as("qvec"))),
        col("query_id") =!= col(s"c.$idCol"))
      .withColumn("dist",
        pqAdcDistance(col("qvec"), col("codes"), dim, codebooks))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col(s"c.$idCol"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(s"c.$idCol").as("neighbor_id"),
        col("rank"))
  }

  /** Deterministic integer PQ codebook for the portable oracle twin
    * (the PQ analog of [[portableLshCoefs]]): centroid component
    * (j, c, i) from a fixed affine-mod formula in ±10⁶ — the same
    * range as the floor(x·10⁶)-quantized vectors, reproducible in any
    * engine. */
  def portablePqCodebook(m: Int, k: Int, sub: Int): Seq[Seq[Seq[Long]]] =
    graft.functions.PqKernels.portableCodebook(m, k, sub)
      .map(_.map(_.toSeq).toSeq).toSeq

  /** The SPREAD deterministic codebook
    * ([[graft.functions.PqKernels.portableCodebookSpread]]) — the one
    * to use when the codes must carry information (a serving index),
    * not merely pin arithmetic (the oracle twins). */
  def portablePqCodebookSpread(m: Int, k: Int, sub: Int): Seq[Seq[Seq[Long]]] =
    graft.functions.PqKernels.portableCodebookSpread(m, k, sub)
      .map(_.map(_.toSeq).toSeq).toSeq

  /** Portable PQ encode + reconstruction error — the oracle twin that
    * pins the quantize→slice→distance→argmin machinery with INTEGER-
    * exact arithmetic (floor(x·10⁶) quantization, int64 squared-L2,
    * first-min tie-break = lowest code). Returns a struct with the
    * m-element code array and the summed minimal distances.
    *
    * Native kernel ([[graft.functions.PortablePqEncode]]): the
    * declarative witness below builds m·k aggregate/zip_with subtrees
    * whose codegen compilation was s10's dominant FIXED cost
    * (the 10× scale probe, in git history, measured factor ~1.0 at
    * 10× rows); the kernel is
    * one Catalyst node, same bits (spec cross-checks on real
    * embeddings). */
  def portablePqEncode(vec: Column, dim: Int, m: Int, k: Int): Column = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    graft.functions.PqFunctions.portablePqEncode(vec, m, k, dim / m)
  }

  /** Declarative witness of [[portablePqEncode]] for the spec. */
  private[graft] def portablePqEncodeDeclarative(
      vec: Column, dim: Int, m: Int, k: Int): Column = {
    val sub = dim / m
    val cb = portablePqCodebook(m, k, sub)
    val q = transform(vec.cast(ArrayType(DoubleType)),
      x => floor(x * 1000000d).cast(LongType))
    val best = (0 until m).map { j =>
      val qsub = slice(q, j * sub + 1, sub)
      val scored = array((0 until k).map { c =>
        val d = aggregate(
          zip_with(qsub, typedlit(cb(j)(c)), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)
        struct(d.as("d"), lit(c).as("code"))
      }: _*)
      array_min(scored)
    }
    struct(
      array(best.map(_.getField("code")): _*).as("codes"),
      best.map(_.getField("d")).reduce(_ + _).as("recon_err"))
  }

  /** Portable PQ code array for an ALREADY-QUANTIZED int64 vector —
    * the residual-encoding building block of [[portableIvfPqTopK]]
    * (the float entry point [[portablePqEncode]] quantizes first;
    * residuals are integer by construction, and a float round-trip
    * would lose exactness). Declarative argmin per subspace, first-min
    * tie-break = lowest code. */
  private[graft] def portablePqEncodeIntCodes(qvec: Column, m: Int,
      k: Int, sub: Int): Column =
    portablePqEncodeIntCodes(qvec, m, k, sub, portablePqCodebook(m, k, sub))

  /** [[portablePqEncodeIntCodes]] against a caller-chosen codebook
    * (the spread serving codebook, a trained one rendered to int —
    * any deterministic `m × k × sub` table). Native kernel
    * ([[graft.functions.PqEncodeIntExpr]]): the codebook rides as a
    * reference object — the declarative witness below builds m·k
    * aggregate/zip_with literal subtrees, a fresh multi-hundred-node
    * analyze+codegen per plan, which the PQ TRAINER pays once per
    * Lloyd's iteration and every publish pays once per fold (pure
    * fixed cost at any corpus size; spec cross-checks the kernel
    * against the witness on real residuals and forced ties). */
  private[graft] def portablePqEncodeIntCodes(qvec: Column, m: Int,
      k: Int, sub: Int, cb: Seq[Seq[Seq[Long]]]): Column = {
    require(cb.length == m && cb.forall(_.length == k) &&
      cb.forall(_.forall(_.length == sub)),
      s"codebook must be m=$m × k=$k × sub=$sub")
    graft.functions.PqFunctions.pqEncodeInt(qvec, cb)
  }

  /** Declarative witness of the caller-chosen-codebook
    * [[portablePqEncodeIntCodes]] for the spec. */
  private[graft] def portablePqEncodeIntCodesDeclarative(qvec: Column,
      m: Int, k: Int, sub: Int, cb: Seq[Seq[Seq[Long]]]): Column = {
    val best = (0 until m).map { j =>
      val qsub = slice(qvec, j * sub + 1, sub)
      val scored = array((0 until k).map { c =>
        val d = aggregate(
          zip_with(qsub, typedlit(cb(j)(c)), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)
        struct(d.as("d"), lit(c).as("code"))
      }: _*)
      array_min(scored).getField("code")
    }
    array(best: _*)
  }

  /** Train an integer PQ codebook on RESIDUAL vectors — the serving-
    * index answer to the spread codebook's data-INDEPENDENCE: a real
    * deployment trains its code centroids on the residual
    * distribution it will quantize ([[pqTrainCodebooks]] is the float
    * production trainer; this is its exact-integer, SQL-reproducible
    * twin for the portable streamed lifecycle). All m subspaces train
    * SIMULTANEOUSLY — per Lloyd's iteration, ONE scan of the residual
    * frame encodes every row against the current codebook (the native
    * argmin kernel), explodes (subspace, code, slice) rows, and one
    * shuffle aggregates all m·k sub-centroids. The model is m·k·(dim/m)
    * longs on the driver — never the corpus.
    *
    * Every step is the portable discipline so an external engine
    * re-derives the trained table bit-for-bit (s18's oracle): seeds
    * are the k smallest md5-salted-hash rows (ties by id), sliced per
    * subspace; assignment is exact int64 argmin with ties to the
    * LOWEST code; updates are floorDiv means; a code nothing mapped
    * to keeps its previous centroid ([[portableKmeansCentroids]]'
    * degeneracy guard). */
  private[graft] def portablePqTrainCodebooks(resid: DataFrame,
      idCol: String, rCol: String, dim: Int, m: Int, k: Int, iters: Int,
      salt: String = "pqres"): Seq[Seq[Seq[Long]]] = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(k > 0 && iters >= 0, "k must be positive, iters non-negative")
    import graft.corpus.Selection
    val sub = dim / m
    val usable = resid.filter(col(rCol).isNotNull && size(col(rCol)) === dim)
    val seeds = usable
      .orderBy(Selection.hashValue(Selection.saltedKey(col(idCol), salt)),
        col(idCol))
      .limit(k).select(col(rCol)).collect().map(_.getSeq[Long](0).toArray)
    require(seeds.length == k,
      s"portablePqTrainCodebooks needs $k dim=$dim residuals to seed, " +
        s"got ${seeds.length}")
    var cbs: Seq[Seq[Seq[Long]]] = (0 until m).map { j =>
      seeds.toSeq.map(_.slice(j * sub, (j + 1) * sub).toSeq)
    }
    for (_ <- 0 until iters) {
      val perSub = array((0 until m).map { j =>
        struct(lit(j).as("j"),
          element_at(col("_pq_codes"), j + 1).cast(LongType).as("code"),
          slice(col(rCol), j * sub + 1, sub).as("s"))
      }: _*)
      val updated = usable
        .withColumn("_pq_codes",
          portablePqEncodeIntCodes(col(rCol), m, k, sub, cbs))
        .select(explode(perSub).as("e"))
        .select(col("e.j"), col("e.code"), posexplode(col("e.s")))
        .toDF("j", "code", "pos", "v")
        .groupBy("j", "code", "pos")
        .agg(sum("v").as("sv"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getInt(2)) ->
          (r.getLong(3), r.getLong(4)))
        .toMap // ≤ m·k·sub = k·dim entries — the model, never the corpus
      cbs = (0 until m).map { j =>
        (0 until k).map { c =>
          if (!updated.contains((j, c.toLong, 0))) cbs(j)(c)
          else Seq.tabulate(sub) { i =>
            val (s, n) = updated((j, c.toLong, i))
            Math.floorDiv(s, n)
          }
        }
      }
    }
    cbs
  }

  /** Composed IVF-PQ index, integer-exact — the FAISS `IVFPQ` serving
    * shape: a coarse quantizer partitions the corpus into cells, each
    * vector stores only the PQ CODES OF ITS RESIDUAL (vector − cell
    * centroid; residuals are smaller and near-centered, which is why
    * real deployments encode them instead of raw vectors), and a query
    * probes its `nprobe` nearest cells, ranking candidates by
    * asymmetric distance between its OWN residual in each probed cell
    * and the candidates' code centroids.
    *
    * Everything is exact int64 over floor(x·10⁶) quantization with
    * ties to the lower id — coarse centroids from
    * [[portableKmeansCentroids]], residual codes from the portable
    * codebook — so an external engine reproduces the final ranking
    * bit-for-bit (the composition twin of s04/s07's float production
    * paths, same pattern as s09/s08).
    *
    * Scale: the corpus never shuffles raw vectors — only (cell, j,
    * code) rows (the compressed representation) reach the ADC join;
    * the per-query distance table is |Q|·nprobe·m·k rows, broadcast;
    * the coarse model is k·dim driver floats. Candidates are bounded
    * by the probed cells' population, not the corpus. */
  def portableIvfPqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, kCells: Int,
      coarseIters: Int, m: Int, k: Int, nprobe: Int, topK: Int,
      salt: String = "pkmeans"): DataFrame = {
    require(m > 0 && dim % m == 0 && k > 0, s"m=$m must divide dim=$dim")
    require(nprobe >= 1 && nprobe <= kCells, "nprobe in [1, kCells]")
    require(topK >= 1, "topK must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sub = dim / m
    val cb = portablePqCodebook(m, k, sub)
    val cents = portableKmeansCentroids(corpus, idCol, vecCol, dim,
      kCells, coarseIters, salt)
    val centLit = typedlit(cents.map(_.toSeq))

    // corpus side: cell assignment + residual codes — compressed rows
    val codes = quantizeVec(corpus, idCol, vecCol)
      .withColumn("cell", portableCellOf(col("q"), cents))
      .withColumn("r", zip_with(col("q"),
        element_at(centLit, (col("cell") + 1).cast(IntegerType)),
        (a, b) => a - b))
      .select(col(idCol).as("vec_id"), col("cell"),
        posexplode(portablePqEncodeIntCodes(col("r"), m, k, sub)))
      .toDF("vec_id", "cell", "j", "code")

    // query side (broadcast-sized): probe nprobe nearest cells; per
    // probed cell, the query's residual distance to every code centroid
    val qrows = queries
      .select(col(idCol).cast(LongType),
        transform(col(vecCol),
          x => floor(x.cast(DoubleType) * 1000000.0).cast(LongType)))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val dtab = qrows.flatMap { case (qid, qv) =>
      val byDist = cents.zipWithIndex.map { case (cv, cell) =>
        var d = 0L; var i = 0
        while (i < dim) { val t = qv(i) - cv(i); d += t * t; i += 1 }
        (d, cell)
      }.sortBy(identity).take(nprobe)
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

    val adc = codes.join(broadcast(dtab), Seq("cell", "j", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("dcell").as("adc"))
    val w = Window.partitionBy("query_id").orderBy(col("adc"), col("vec_id"))
    adc.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("adc"))
  }

  /** Two-stage retrieval with re-ranking, integer-exact (the serving
    * architecture IVF/PQ deployments use, as an oracle-pinnable twin):
    * stage 1 shortlists per query by asymmetric PQ distance computed
    * RELATIONALLY — corpus code rows join the queries' per-(subspace,
    * code) distance table on (j, code) and sum per (query, vector) —
    * stage 2 re-ranks only the shortlist by exact integer squared-L2
    * on the quantized vectors. Every distance is int64-exact and ties
    * break to the lower id, so any engine reproduces the final top-k
    * bit-for-bit.
    *
    * Scale: the distance table is |queries|·m·k rows (broadcast); the
    * corpus side shuffles only its code rows (m small ints per
    * vector, the 32×-compressed representation — the point of PQ
    * serving); stage 2 touches |queries|·shortlist rows. */
  def portablePqRerankTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, m: Int, k: Int,
      shortlist: Int, topK: Int): DataFrame = {
    require(m > 0 && dim % m == 0 && k > 0, s"m=$m must divide dim=$dim")
    require(shortlist >= topK, "shortlist must cover topK")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sub = dim / m
    val cb = portablePqCodebook(m, k, sub)
    def quant(c: Column) = transform(c.cast(ArrayType(DoubleType)),
      x => floor(x * 1000000d).cast(LongType))
    val qrows = queries.select(col(idCol).cast(LongType), quant(col(vecCol)))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val dtab = qrows.flatMap { case (qid, qv) =>
      for (j <- 0 until m; c <- 0 until k) yield {
        var d = 0L; var i = 0
        while (i < sub) {
          val diff = qv(j * sub + i) - cb(j)(c)(i); d += diff * diff; i += 1
        }
        (qid, j, c, d)
      }
    }.toSeq.toDF("query_id", "j", "code", "dcell")
    val codes = corpus.select(col(idCol).as("vec_id"),
        portablePqEncode(col(vecCol), dim, m, k).getField("codes").as("codes"))
      .select(col("vec_id"), posexplode(col("codes")))
      .toDF("vec_id", "j", "code")
    val adc = codes.join(broadcast(dtab), Seq("j", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("dcell").as("adc"))
    val wShort = Window.partitionBy("query_id")
      .orderBy(col("adc"), col("vec_id"))
    val short = adc.withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlist)
      .select("query_id", "vec_id")
    val cq = corpus.select(col(idCol).as("vec_id"), quant(col(vecCol)).as("cv"))
    val qdf = qrows.toSeq.toDF("query_id", "qv")
    val wFinal = Window.partitionBy("query_id")
      .orderBy(col("d2"), col("vec_id"))
    short.join(cq, "vec_id").join(broadcast(qdf), "query_id")
      .withColumn("d2", aggregate(
        zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x))
      .withColumn("rank", row_number().over(wFinal).cast(LongType))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("d2"))
  }

  /** Bucketed ANN: join on LSH signature, rank within bucket. Recall
    * grows with fewer bits / multiple tables; this single-table variant
    * is the scale skeleton (bucket join instead of cross product). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, nBits: Int, k: Int): DataFrame = {
    val sig = (df: DataFrame) =>
      df.withColumn("bucket", lshSignature(col(vecCol), dim, nBits))
    val scored = sig(corpus).as("c").join(
        broadcast(sig(queries).select(col(idCol).as("query_id"),
          col(vecCol).as("qvec"), col("bucket"))),
        Seq("bucket"))
      .filter(col("query_id") =!= col(s"c.$idCol"))
      .withColumn("score",
        VectorFunctions.cosineSim(col("qvec"), col(s"c.$vecCol")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col(s"c.$idCol"))
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(s"c.$idCol").as("neighbor_id"), col("rank"))
  }

  /** Portable-LSH bucketed top-k — the oracle twin of [[lshTopK]]'s
    * WHOLE pipeline (bucket → bucket-join → rank), in the s06 pattern:
    * buckets from [[portableLshBucket]] (integer hyperplanes), ranking
    * by exact integer squared L2 over the floor(x·10⁶)-quantized
    * vectors — every bucket, rank and distance reproducible
    * bit-for-bit in an external engine. Same plan shape as the
    * production path: corpus never shuffled, queries broadcast,
    * candidates only from the query's bucket. */
  def portableLshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, nBits: Int, k: Int): DataFrame = {
    def prep(df: DataFrame) = df.select(col(idCol),
      quantized(col(vecCol)).as("q"),
      portableLshBucket(col(vecCol), nBits, dim).as("bucket"))
    integerTopK(prep(corpus),
      prep(queries).select(col(idCol).as("query_id"), col("q").as("qv"),
        col("bucket")),
      idCol, "bucket", k)
  }

  /** Recall@k evaluation: per-query overlap between an approximate
    * top-k result and the exact one — the standard quality gate for
    * any ANN index before it serves. Both inputs are
    * (query_id, neighbor_id, …) result frames (e.g. [[bruteForceTopK]]
    * vs [[ivfTopK]]/[[lshTopK]]); `recall_ppm` is the integer-exact
    * parts-per-million hit rate (hash-portable — no float division).
    *
    * Scale: evaluation runs over a query SAMPLE by construction (the
    * query side of every ANN operator is broadcast-sized), so both
    * inputs are small; the hit join is on (query_id, neighbor_id).
    * Queries the approximate index missed entirely still report
    * (n_hit = 0) via the left join on the exact side. */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val hits = e.join(a, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    e.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("recall_ppm", expr("n_hit * 1000000 DIV n_exact"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        col("recall_ppm"))
  }
}
