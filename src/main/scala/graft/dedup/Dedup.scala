package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{TextOps, VectorFunctions}

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every variant is a shuffle-on-key relational plan —
  * nothing ever materializes the O(N²) pair space.
  *  - exact: hash aggregation on the dedup key;
  *  - n-gram Jaccard: inverted-index self-join on shingles (pairs only
  *    exist where documents actually share a shingle);
  *  - MinHash LSH: band-bucket self-join (pairs only where a band
  *    collides), then exact Jaccard verification of the candidates;
  *  - SimHash: 64-bit signature, near-dup candidates via 16-bit
  *    chunk-collision join (Hamming ≤ 3 ⇒ some 16-bit chunk equal);
  *  - embedding: cosine over pairs blocked on a coarse key.
  *
  * Caching contract: the BATCH pair producers (which compute their
  * shingle/signature intermediates from corpus text) cache those
  * intermediates — each is referenced by several plan branches, and
  * because the returned DataFrame is lazy the operator cannot know
  * when to release them. Long-lived applications that sweep many
  * corpora should `spark.catalog.clearCache()` between corpora (the
  * Bench/Verify harnesses do). The `…FromIndexes` INCREMENTAL
  * producers cache NOTHING: their inputs are precomputed signature
  * frames the caller owns, so the caller caches (and releases) them —
  * which is what lets a streamed ingest ([[graft.streaming.DedupStream]])
  * run indefinitely without accumulating pinned storage.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id representative per identical key. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** C4-style span dedup: the corpus is cut into fixed-width
    * non-overlapping token windows (`span` tokens); every window that
    * occurs more than once corpus-wide survives only at its first
    * occurrence (lowest `(id, position)`), and each document is
    * reassembled from its surviving windows in order. Result:
    * `(idCol, dedup_text, n_kept)` — one row per input document,
    * `dedup_text` empty when every window was a repeat.
    *
    * Scale shape: explode to |tokens|/span rows, ONE shuffle on the
    * window text (first-occurrence ranking), ONE shuffle on the doc id
    * (reassembly) — linear in corpus size, no pair space. Repeated
    * windows are skew by definition (that is what makes them worth
    * removing): the rank window computes row_number only, so AQE's
    * skew handling and the small per-row state keep hot windows cheap.
    */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
      span: Int = 10): DataFrame = {
    require(span > 0, "span must be positive")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol), TextOps.tokens(col(textCol)).as("_sd_toks"))
    val chunks = toks
      .withColumn("_sd_n",
        ceil(size(col("_sd_toks")) / lit(span.toDouble)).cast(IntegerType))
      // guard: sequence(0, -1) would COUNT DOWN; a null array explodes
      // to no rows, which is what a token-less document should do
      .withColumn("_sd_pos",
        explode(when(col("_sd_n") > 0, sequence(lit(0), col("_sd_n") - 1))))
      .select(col(idCol), col("_sd_pos"),
        array_join(
          slice(col("_sd_toks"), col("_sd_pos") * lit(span) + lit(1), lit(span)),
          " ").as("_sd_chunk"))
    val kept = chunks
      .withColumn("_sd_rn", row_number().over(
        Window.partitionBy("_sd_chunk").orderBy(col(idCol), col("_sd_pos"))))
      .filter(col("_sd_rn") === 1)
    val rebuilt = kept.groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("_sd_pos"), col("_sd_chunk")))),
            s => s.getField("_sd_chunk")),
          " ").as("dedup_text"),
        count(lit(1)).as("n_kept"))
    docs.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Overlapping duplicated-n-gram SPAN removal (the boilerplate scrub
    * of the RefinedWeb/CCNet family): every length-`width` token
    * window whose exact text occurs in ≥ 2 DISTINCT documents is
    * removed from ALL of them; the removed region per document is the
    * UNION of its duplicated windows, so maximal shared spans
    * (headers, footers, license blocks, navigation chrome) disappear
    * wholesale at any alignment while unique text — even text sitting
    * between two duplicated spans — survives. Differs from
    * [[spanDedup]] on both axes: windows overlap (stride 1, so
    * duplication is caught at every alignment, not just chunk
    * boundaries) and removal is symmetric (boilerplate policy) rather
    * than keep-first (canonical-copy policy).
    *
    * Returns (idCol, clean_text, n_removed) for EVERY input document;
    * `n_removed` counts removed token positions.
    *
    * Scale shape, stage by stage — the pair space never materializes:
    *  - window build is per-row zip-of-shifted-slices (same
    *    quadratic-eval avoidance as [[TextOps.shingles]]), then ONE
    *    posexplode to |tokens| rows per document;
    *  - "duplicated" is a single hash agg on the window text with a
    *    min≠max distinct-document test (no two-phase countDistinct);
    *  - hit starts re-join the window table on the window text (AQE
    *    skew-join absorbs hot boilerplate grams) and explode `width`
    *    ways into covered positions, dedup'd by (doc, position);
    *  - survivors are a left-anti join of token positions against the
    *    covered set, rebuilt per document with one sort-free agg
    *    (array_sort over collected (pos, token) structs).
    * Every stage is a keyed shuffle bounded by |tokens| + width·|hits|.
    */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
      width: Int = 5): DataFrame = {
    require(width > 0, "width must be positive")
    val w = TextOps.tokens(col(textCol))
    // joined(i) = tokens i..i+width-1 joined by ' '; entries past
    // size-width null out (concat null-propagates through the ragged
    // zip tail) and are filtered after the explode
    val emptyArr = array().cast(ArrayType(StringType))
    val joined = (1 until width).foldLeft(w) { (acc, k) =>
      val shifted = when(size(w) > k, slice(w, lit(k + 1), size(w) - k))
        .otherwise(emptyArr)
      zip_with(acc, shifted, (a, b) => concat(a, lit(" "), b))
    }
    val toks = docs.select(col(idCol), w.as("_ss_toks"),
      joined.as("_ss_grams"))
    val grams = toks
      .select(col(idCol),
        posexplode(col("_ss_grams")).as(Seq("_ss_pos", "_ss_gram")))
      .filter(col("_ss_gram").isNotNull)
    val dup = grams.groupBy("_ss_gram")
      .agg(min(col(idCol)).as("_ss_min"), max(col(idCol)).as("_ss_max"))
      .filter(col("_ss_min") =!= col("_ss_max"))
      .select("_ss_gram")
    val cover = grams.join(dup, "_ss_gram")
      .select(col(idCol),
        explode(sequence(col("_ss_pos"), col("_ss_pos") + lit(width - 1)))
          .as("_ss_p"))
      .distinct()
    val positions = toks.select(col(idCol),
      posexplode(col("_ss_toks")).as(Seq("_ss_p", "_ss_tok")))
    val surv = positions.join(cover, Seq(idCol, "_ss_p"), "left_anti")
    val removed = cover.groupBy(col(idCol)).agg(count(lit(1)).as("_ss_nrem"))
    val rebuilt = surv.groupBy(col(idCol))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("_ss_p"), col("_ss_tok")))),
          s => s.getField("_ss_tok")),
        " ").as("clean_text"))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .join(removed, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("_ss_nrem"), lit(0L)).as("n_removed"))
  }

  /** Edit-distance fuzzy near-dup pairs — the classic fuzzy-record
    * family (names, titles, short fields) the token/shingle paths
    * don't cover. Candidates are blocked TWICE: on the caller's
    * `blockCol`, and on a string-length band (levenshtein ≤ maxDist
    * implies |len(a)−len(b)| ≤ maxDist, so side b explodes to the
    * bands covering len±maxDist while side a owns exactly one band —
    * each pair meets exactly once, the RangeJoin cover argument).
    * Survivors are scored with Spark's threshold levenshtein (early
    * termination above maxDist). Work scales with block × band
    * populations, never the corpus pair space. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      blockCols: Seq[String], maxDist: Int, lenBand: Int = 8): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    require(lenBand > 0, "lenBand must be positive")
    require(blockCols.nonEmpty, "at least one blocking column required " +
      "(unblocked edit distance is the corpus pair space)")
    def band(len: Column, shift: Int): Column =
      floor((len + lit(shift)) / lit(lenBand.toDouble)).cast(LongType)
    val blockKey = struct(blockCols.map(col): _*)
    val a = df.select(col(idCol).as("a_id"), blockKey.as("_ed_block"),
        col(strCol).as("_ed_a"))
      .withColumn("_ed_band", band(length(col("_ed_a")), 0))
    val b = df.select(col(idCol).as("b_id"), blockKey.as("_ed_block"),
        col(strCol).as("_ed_b"))
      .withColumn("_ed_band", explode(sequence(
        band(length(col("_ed_b")), -maxDist),
        band(length(col("_ed_b")), maxDist))))
    a.join(b, Seq("_ed_block", "_ed_band"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        levenshtein(col("_ed_a"), col("_ed_b"), maxDist).cast(LongType)
          .as("dist"))
      // the threshold form returns -1 past maxDist — cheaper than
      // computing the exact large distance just to filter it
      .filter(col("dist") >= 0)
  }

  /** Documents with distinct word-shingle sets attached.
    *
    * Repartitioned to the session's parallelism ONLY when the input
    * is a file scan over fewer files than the session has cores (the
    * corpus often arrives as few large files — here one — and
    * shingling/hashing is CPU-bound, so without the spread the whole
    * compute runs on the scan's partition count). At real scale file
    * counts dwarf core counts and the repartition would be a
    * pointless full shuffle of (id, text) — skipped. The check uses
    * `inputFiles` (catalog metadata, no job, streaming-safe via the
    * fallback): non-file inputs (in-memory test data, streams)
    * conservatively spread, preserving the old behavior. */
  def withShingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val p = docs.sparkSession.sparkContext.defaultParallelism
    val nFiles =
      try docs.inputFiles.length
      catch { case scala.util.control.NonFatal(_) => 0 }
    val spread =
      if (nFiles >= p) docs
      else docs.repartition(p, col(idCol))
    spread.select(col(idCol), TextOps.shingles(col(textCol), n).as("sh"))
  }

  /** Drop shingles present in more than `cap` documents from an
    * inverted index `(id, s)` — the shared `maxDocFreq` escape hatch
    * of [[ngramJaccardPairs]] and [[ngramContainmentPairs]]. The hot
    * set is tiny by construction (high-df shingles are few), so the
    * broadcast stays bounded. */
  private def dropHotShingles(inv: DataFrame, cap: Int): DataFrame = {
    val hot = inv.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select("s")
    inv.join(broadcast(hot), Seq("s"), "left_anti")
  }

  /** Exact n-gram Jaccard near-dup pairs via inverted index:
    * explode shingles → self-join on shingle → per-pair intersection
    * count → Jaccard from per-doc set sizes. Output: (a_id, b_id,
    * jaccard) for pairs ≥ threshold, a_id < b_id. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5,
      maxDocFreq: Option[Int] = None): DataFrame = {
    val tok = withShingles(docs, idCol, textCol, n).cache()
    val sizes = tok.select(col(idCol), size(col("sh")).as("n_sh"))
    val invAll = tok.select(col(idCol), explode(col("sh")).as("s"))
    // Optional stop-shingle cut: the join blows up quadratically in
    // per-shingle document frequency (measured 68.6s vs 6.4s for LSH
    // under 10x duplication), and shingles present in a large fraction
    // of the corpus carry no dedup signal. Dropping df > cap shingles
    // bounds the join at the cost of exactness for pairs whose overlap
    // is exclusively stop-shingles — default OFF to stay oracle-exact.
    // The cap helps ONLY when signal df and noise df are separable:
    // sized above the corpus's background df and below the hot-clique
    // df it is meant to cut (round-9 skew probe, in git history:
    // cap 500 vs background 148
    // vs clique 5000 drops exactly the clique). A cap below background
    // silently prunes every pair (the retracted round-8 "df50 flat"
    // cell); against high-df BACKGROUND the exact path stays Σdf² and
    // the scale answer is minhashLshPairs, not a cap.
    val inv = maxDocFreq.fold(invAll)(dropHotShingles(invAll, _))
    val pairs = inv.as("a").join(inv.as("b"),
        col("a.s") === col("b.s") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed(idCol, "a_id")
        .withColumnRenamed("n_sh", "na"), "a_id")
      .join(sizes.withColumnRenamed(idCol, "b_id")
        .withColumnRenamed("n_sh", "nb"), "b_id")
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Directed n-gram containment pairs: C(src→dst) = |sh(src) ∩
    * sh(dst)| / |sh(src)| ≥ threshold — the ASYMMETRIC near-dup
    * relation Jaccard misses: a short document quoted verbatim inside
    * a long one scores containment ≈ 1 in that direction but low
    * Jaccard (the union is dominated by the long side). The standard
    * quote/inclusion detector for training corpora.
    *
    * Same inverted-index shape as [[ngramJaccardPairs]] (shuffle on
    * shingle, never N²); each undirected candidate yields both
    * directions, threshold-filtered.
    *
    * Caching contract (as the other pair producers): the shingle
    * frame backs the size and index branches and is cached; callers
    * run `spark.catalog.clearCache()` between corpora. (The directed
    * rows come from one inline pass — the pair frame itself is never
    * re-scanned, so it is not cached.)
    *
    * `maxDocFreq` is the same bounded-join escape hatch as
    * [[ngramJaccardPairs]]' (the 10× scale probe, in git history: this
    * family's Σdf² term is
    * the one super-linear cost in the shipped operator set): shingles
    * present in more than `cap` documents are dropped from the INDEX
    * while denominators keep full set sizes, so reported containment
    * is a lower bound that loses only boilerplate-shingle overlap.
    * Default OFF to stay oracle-exact. */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxDocFreq: Option[Int] = None): DataFrame = {
    val tok = withShingles(docs, idCol, textCol, n)
      .filter(size(col("sh")) > 0)
      .cache()
    val sizes = tok.select(col(idCol), size(col("sh")).as("n_sh"))
    val invAll = tok.select(col(idCol), explode(col("sh")).as("s"))
    val inv = maxDocFreq.fold(invAll)(dropHotShingles(invAll, _))
    val pairs = inv.as("a").join(inv.as("b"),
        col("a.s") === col("b.s") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed(idCol, "a_id")
        .withColumnRenamed("n_sh", "na"), "a_id")
      .join(sizes.withColumnRenamed(idCol, "b_id")
        .withColumnRenamed("n_sh", "nb"), "b_id")
    // both directions inline from one pass over the undirected pairs
    // — the pair frame is NOT cached (nothing re-scans it)
    pairs.select(inline(array(
        struct(col("a_id").as("src_id"), col("b_id").as("dst_id"),
          (col("inter") / col("na")).as("containment")),
        struct(col("b_id").as("src_id"), col("a_id").as("dst_id"),
          (col("inter") / col("nb")).as("containment")))))
      .filter(col("containment") >= threshold)
  }

  /** MinHash signature: k independent 64-bit hashes (xxhash64 seeded by
    * slot index), each the min over the document's shingles.
    * `sh` must be the shingles' 64-bit hashes (`array<long>`) — hashing
    * each shingle to a long ONCE and re-hashing longs per slot cuts the
    * string-hash work k-fold. Computed by the native one-pass
    * [[graft.functions.MinHashSignature]] kernel; value-identical to
    * [[minhashSignatureDeclarative]] (spec-pinned). */
  def minhashSignature(sh: Column, k: Int = 64): Column =
    graft.functions.MinHashFunctions.minhashSig(sh, k)

  /** The declarative formulation the kernel replaces — k array
    * traversals with k intermediate arrays per row. Kept as the
    * executable specification of the signature's values. */
  private[graft] def minhashSignatureDeclarative(sh: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)), i =>
      array_min(transform(sh, s => xxhash64(i, s))))

  /** The ONE rendering of the LSH banding: explode a signature frame
    * into `(…, band, bhash)` rows, band hash = xxhash64 over the
    * band's slice of the signature. Shared by [[minhashLshPairs]] and
    * [[minhashLshPairsFromIndexes]] (the round-5 LSH bucket probe, in
    * git history, measured this same banding). `carryCols` ride
    * through unchanged. */
  private def bandedOf(sigs: DataFrame, idCol: String,
      bands: Int, rows: Int, carryCols: Seq[String] = Nil): DataFrame = {
    val cols = col(idCol) +: carryCols.map(col)
    sigs.select(cols :+ posexplode(array(
        (0 until bands).map(b =>
          xxhash64(slice(col("sig"), b * rows + 1, rows))): _*)): _*)
      .toDF((idCol +: carryCols) ++ Seq("band", "bhash"): _*)
  }

  /** Drop band-buckets holding more than `cap` documents from a
    * banded frame `(id, band, bhash)` — the LSH analog of
    * [[dropHotShingles]]. The candidate self-join emits Σ b² pairs
    * over bucket sizes b, so ONE boilerplate-heavy bucket of B docs
    * costs B² regardless of corpus size; capping bounds the join.
    * Recall cost is small by LSH's own construction: a pair dropped
    * here is lost only if the hot band was its ONLY colliding band,
    * and near-dups above the S-curve threshold collide in several
    * bands with high probability. The hot set is tiny (high-count
    * buckets are few), so the broadcast stays bounded. */
  private def dropHotBuckets(banded: DataFrame, cap: Int): DataFrame = {
    val hot = banded.groupBy("band", "bhash").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > cap).select("band", "bhash")
    banded.join(broadcast(hot), Seq("band", "bhash"), "left_anti")
  }

  /** MinHash+LSH near-dup detection: signatures → band hashes →
    * bucket self-join for candidates → exact Jaccard verify.
    * bands*rowsPerBand must equal k; with 16 bands × 4 rows the LSH
    * S-curve puts ~0.5 collision probability at J≈0.5.
    *
    * `maxBucketSize` is the bounded-join escape hatch (the same
    * contract as [[ngramJaccardPairs]]' `maxDocFreq`): band-buckets
    * with more than `cap` members — mass-duplicated boilerplate, the
    * one input shape whose candidate count grows quadratically — are
    * dropped before the self-join ([[dropHotBuckets]]). Verified
    * pairs remain exact-Jaccard; only candidate RECALL is affected,
    * and only for pairs whose sole collision was a hot band. Default
    * OFF so d03/d07's declared output is unchanged. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.5,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val rows = k / bands
    val tok = withShingles(docs, idCol, textCol, n)
      .filter(size(col("sh")) > 0)
      // hash shingles to longs once; signatures and the verification
      // intersection run on longs (64-bit collisions are ~1e-11 at this
      // vocabulary size — no oracle depends on these values)
      .withColumn("shh", transform(col("sh"), s => xxhash64(s)))
      .drop("sh")
      .withColumn("sig", minhashSignature(col("shh"), k))
      .cache()
    val bandedAll = bandedOf(tok, idCol, bands, rows)
    val banded = maxBucketSize.fold(bandedAll)(dropHotBuckets(bandedAll, _))
    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .distinct()
    // exact verification of the candidate set only
    val withSets = candidates
      .join(tok.select(col(idCol).as("a_id"), col("shh").as("sha")), "a_id")
      .join(tok.select(col(idCol).as("b_id"), col("shh").as("shb")), "b_id")
    withSets
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        col("inter") / (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** MinHash+LSH DIRECTED containment pairs — the linear-scale path
    * for [[ngramContainmentPairs]] (which pays Σ df² over the shingle
    * postings — corpus-frequency-quadratic by construction, the same
    * cost family as [[ngramJaccardPairs]] whose scale path is
    * [[minhashLshPairs]]). Same LSH band-bucket candidate generation
    * as [[minhashLshPairs]]; each candidate is then scored with the
    * EXACT hashed-shingle containment in both directions
    * (inter/|src|), threshold-filtered — precision is structural,
    * like every verified-LSH path here.
    *
    * Declared approximate semantics (recall): band collisions are
    * governed by the pair's JACCARD, not its containment, and a
    * highly asymmetric pair (tiny doc quoted inside a huge one) has
    * J ≈ |A|/|B| however high its containment. The default
    * recall-hardened 32×2 banding catches J=0.3 pairs w.p. ~0.95 and
    * J=0.15 pairs w.p. ~0.5, so containment hits hiding below that
    * are the declared loss — the d15 gate counts them against the
    * exact twin on the fixture corpus. At 100 TB this trade is the
    * standard one: the exact inverted index is the oracle
    * construction, this is what ships. */
  def minhashContainmentPairs(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 3, k: Int = 64, bands: Int = 32,
      threshold: Double = 0.8,
      maxBucketSize: Option[Int] = None,
      withSizes: Boolean = false): DataFrame = {
    val rows = k / bands
    // ONE signature construction ([[minhashIndex]]) serves the batch
    // and incremental paths — d16's bit-identity claim depends on it
    val tok = minhashIndex(docs, idCol, textCol, n, k).cache()
    val bandedAll = bandedOf(tok, idCol, bands, rows)
    val banded = maxBucketSize.fold(bandedAll)(dropHotBuckets(bandedAll, _))
    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .distinct()
    val scored = candidates
      .join(tok.select(col(idCol).as("a_id"), col("shh").as("sha")), "a_id")
      .join(tok.select(col(idCol).as("b_id"), col("shh").as("shb")), "b_id")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .select(col("a_id"), col("b_id"), col("inter"),
        size(col("sha")).as("na"), size(col("shb")).as("nb"))
    // both directions come from ONE pass over the scored pairs
    // (inline of a two-struct array) — no cached frame backing two
    // union branches, so nothing here pins storage. withSizes: append
    // the directed pair's shingle-set sizes (n_src, n_dst) —
    // consumers implementing a survivor rule (drop the
    // contained-smaller side, c24's quote-removal stage) need them.
    val directed = scored.select(inline(array(
        struct(col("a_id").as("src_id"), col("b_id").as("dst_id"),
          (col("inter") / col("na")).as("containment"),
          col("na").as("n_src"), col("nb").as("n_dst")),
        struct(col("b_id").as("src_id"), col("a_id").as("dst_id"),
          (col("inter") / col("nb")).as("containment"),
          col("nb").as("n_src"), col("na").as("n_dst")))))
      .filter(col("containment") >= threshold)
    if (withSizes) directed else directed.drop("n_src", "n_dst")
  }

  /** Quote/inclusion removal — the containment relation applied as a
    * dedup SURVIVOR RULE: a document whose shingle set is ≥ `threshold`
    * contained in ANY larger document is dropped; ties on size break
    * by id (larger id drops), so mutual containment keeps exactly one
    * side and the rule is deterministic and order-free. The rule is
    * NON-RECURSIVE — the container itself may also be dropped (by its
    * own larger container), and since thresholded containment is not
    * transitive a dropped doc's content is not guaranteed to survive
    * in some kept container. That single-pass semantics is the
    * intended one (one blocking join, no fixpoint iteration at 100 TB)
    * and is exactly what the c13/c24 oracle SQL implements; callers
    * needing a survivor-closed set would iterate to fixpoint.
    * Candidates come from the shipped LSH containment path
    * ([[minhashContainmentPairs]] — band-bucket blocking + exact
    * directed verify, declared recall semantics). */
  def containmentDedup(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64, bands: Int = 32,
      threshold: Double = 0.8,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val pairs = minhashContainmentPairs(docs, idCol, textCol, n, k,
      bands, threshold, maxBucketSize, withSizes = true)
    val drops = pairs.filter(col("n_src") < col("n_dst") ||
        (col("n_src") === col("n_dst") && col("src_id") > col("dst_id")))
      .select(col("src_id").as(idCol)).distinct()
    docs.join(drops, Seq(idCol), "left_anti")
  }

  /** Incremental CONTAINMENT on two precomputed signature indexes
    * (both shaped as [[minhashIndex]] output): directed containment
    * pairs TOUCHING the new batch — (old, new) and (new, new), never
    * (old, old) — with [[minhashLshPairsFromIndexes]]' candidate
    * discipline (band-bucket join whose right side is the batch, so
    * candidate generation scales with the batch) and
    * [[minhashContainmentPairs]]' exact directed scoring and declared
    * recall semantics. At 100 TB this is the ingest-time quote/
    * inclusion check: does anything in today's batch contain, or sit
    * inside, something already in the corpus — answered against
    * stored signatures, without re-shingling the corpus.
    * New-batch ids must be disjoint from index ids (the same contract
    * as [[minhashLshPairsFromIndexes]]): a doc_id present on both
    * sides joins its stale and fresh shingle sets interchangeably —
    * re-ingest by retiring the old index row first
    * ([[graft.streaming.DedupStream.retireIds]] — the crash-safe
    * retire for the committed per-batch trees). */
  def minhashContainmentPairsFromIndexes(index: DataFrame,
      newIdx: DataFrame, idCol: String, k: Int = 64, bands: Int = 32,
      threshold: Double = 0.8,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val rows = k / bands
    // NO internal caching: the combined frame backs three plan
    // branches (band join + two verify joins), so callers that pass
    // computed (non-parquet-backed) indexes should cache THEIR frames
    // — caller-owned caches are releasable per batch, which is what
    // lets the streamed ingests (DedupStream) run for months without
    // accumulating pinned storage.
    val all = index.select(col(idCol), col("shh"), col("sig"))
      .withColumn("is_new", lit(false))
      .unionByName(newIdx.select(col(idCol), col("shh"), col("sig"))
        .withColumn("is_new", lit(true)))
    val bandedAll = bandedOf(all, idCol, bands, rows,
      carryCols = Seq("is_new"))
    val banded = maxBucketSize.fold(bandedAll)(dropHotBuckets(bandedAll, _))
    val candidates = banded.as("a").join(
        banded.filter(col("is_new")).as("b"),
        col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
          (!col("a.is_new") || col(s"a.$idCol") < col(s"b.$idCol")) &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("a_id"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("b_id"))
      .distinct()
    val scored = candidates
      .join(all.select(col(idCol).as("a_id"), col("shh").as("sha")), "a_id")
      .join(all.select(col(idCol).as("b_id"), col("shh").as("shb")), "b_id")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .select(col("a_id"), col("b_id"), col("inter"),
        size(col("sha")).as("na"), size(col("shb")).as("nb"))
    // one pass: both directed rows inline per scored pair (the
    // minhashContainmentPairs shape) — no cache, nothing pinned
    scored.select(inline(array(
        struct(col("a_id").as("src_id"), col("b_id").as("dst_id"),
          (col("inter") / col("na")).as("containment")),
        struct(col("b_id").as("src_id"), col("a_id").as("dst_id"),
          (col("inter") / col("nb")).as("containment")))))
      .filter(col("containment") >= threshold)
  }

  /** Per-document signature index for INCREMENTAL dedup: hashed
    * shingle set + MinHash signature, materialized once and stored
    * (parquet) so later batches dedup against signatures instead of
    * re-reading corpus text. At 100 TB this is the difference between
    * O(batch) work per ingest round and re-shingling the corpus. */
  def minhashIndex(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64): DataFrame =
    withShingles(docs, idCol, textCol, n)
      .filter(size(col("sh")) > 0)
      .withColumn("shh", transform(col("sh"), s => xxhash64(s)))
      .drop("sh")
      .withColumn("sig", minhashSignature(col("shh"), k))

  /** Incremental MinHash+LSH: near-dup pairs TOUCHING a new batch —
    * (old, new) and (new, new), never (old, old), which the index was
    * already deduped for. The band-bucket join's right side is the new
    * batch only, so candidate generation and exact verification scale
    * with the batch, not the corpus; the stored index contributes one
    * scan of precomputed signatures. New-batch ids must be disjoint
    * from index ids. Pairs come back normalized (a_id < b_id) with
    * the exact hashed-shingle Jaccard, `threshold`-filtered — the
    * same verify contract as [[minhashLshPairs]].
    *
    * Caching contract: NOTHING is cached internally (the
    * [[minhashLshPairsFromIndexes]] rationale — caller-owned caches
    * are the releasable kind). The new batch's signatures are
    * computed here and scanned three times downstream; callers on a
    * hot path should build the index with [[minhashIndex]], cache
    * both sides, and call [[minhashLshPairsFromIndexes]] directly. */
  def minhashLshPairsIncremental(index: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, n: Int = 3, k: Int = 64,
      bands: Int = 16, threshold: Double = 0.5): DataFrame =
    minhashLshPairsFromIndexes(index,
      minhashIndex(newDocs, idCol, textCol, n, k), idCol, k, bands, threshold)

  /** [[minhashLshPairsIncremental]] on two PRECOMPUTED signature
    * indexes (both shaped as [[minhashIndex]] output) — the entry
    * point when the new batch's index is already materialized, e.g.
    * by a streaming ingest that also appends it to the store. */
  def minhashLshPairsFromIndexes(index: DataFrame, newIdx: DataFrame,
      idCol: String, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.5,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val rows = k / bands
    // NO internal caching (minhashContainmentPairsFromIndexes'
    // rationale): the combined frame is scanned by three branches, and
    // callers with computed inputs own — and can therefore RELEASE —
    // the caches backing them.
    val all = index.select(col(idCol), col("shh"), col("sig"))
      .withColumn("is_new", lit(false))
      .unionByName(newIdx.select(col(idCol), col("shh"), col("sig"))
        .withColumn("is_new", lit(true)))
    val bandedAll = bandedOf(all, idCol, bands, rows,
      carryCols = Seq("is_new"))
    // a hot bucket costs |bucket ∩ index| × |bucket ∩ batch| here —
    // still unbounded in the index side; same escape hatch
    val banded = maxBucketSize.fold(bandedAll)(dropHotBuckets(bandedAll, _))
    val candidates = banded.as("a").join(
        banded.filter(col("is_new")).as("b"),
        col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
          // both-new pairs once; old side always qualifies (the right
          // side being new-only already excludes old-old)
          (!col("a.is_new") || col(s"a.$idCol") < col(s"b.$idCol")) &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("a_id"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("b_id"))
      .distinct()
    val withSets = candidates
      .join(all.select(col(idCol).as("a_id"), col("shh").as("sha")), "a_id")
      .join(all.select(col(idCol).as("b_id"), col("shh").as("shb")), "b_id")
    withSets
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        col("inter") / (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** 64-bit SimHash of the token stream: per bit, sign of the sum of
    * ±1 contributions from each token hash. */
  def simhash64(text: Column): Column =
    simhash64FromHashes(transform(TextOps.tokens(text), w => xxhash64(w)))

  /** SimHash over a precomputed token-hash array — the native
    * [[graft.functions.SimHash64]] kernel: one walk of the array per
    * row inside whole-stage codegen. Value-identical to
    * [[simhash64Declarative]] (spec-pinned). */
  def simhash64FromHashes(hashes: Column): Column =
    graft.functions.SimHashFunctions.simhash64(hashes)

  /** The 64-fold declarative formulation the kernel must match; kept
    * as the spec's independent witness. Bit positions are unrolled at
    * plan-build time (shift amounts must be literals). */
  private[graft] def simhash64Declarative(hashes: Column): Column =
    (0 until 64).map { j =>
      when(aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
        > 0L, shiftleft(lit(1L), j)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))

  /** 64-bit SimHash signatures from a pluggable per-token hash — a
    * map-only projection through the native kernel (tokenize → hash
    * array → [[graft.functions.SimHash64]]); no per-token row
    * expansion, no shuffle (the previous explode → 64-conditional-sum
    * aggregate shuffled |corpus tokens| rows to compute the same
    * signatures). Documents with no tokens emit no row, as before.
    * Repartitioned for CPU spread only when the scan has fewer
    * partitions than the session has cores (single-file corpora). */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      tokenHash: Column => Column): DataFrame = {
    val p = docs.sparkSession.sparkContext.defaultParallelism
    val nFiles =
      try docs.inputFiles.length
      catch { case scala.util.control.NonFatal(_) => 0 }
    val spread = if (nFiles >= p) docs else docs.repartition(p, col(idCol))
    spread
      .select(col(idCol),
        transform(graft.functions.TextOps.tokens(col(textCol)), tokenHash)
          .as("_sh_h"))
      .filter(size(col("_sh_h")) > 0)
      .select(col(idCol), simhash64FromHashes(col("_sh_h")).as("sig"))
  }

  /** Engine-portable per-token 64-bit hash: two seeded 31-bit
    * polynomial folds over the token's character codepoints, packed
    * into one non-negative long. Every step is exact BIGINT arithmetic
    * (products stay < 2^39) that external SQL engines reproduce
    * bit-for-bit — unlike xxhash64 — so SimHash built on it carries a
    * real DuckDB oracle. The production path ([[simhashPairs]]) keeps
    * xxhash64 (better-mixed bits, one codegen'd call per token); this
    * hash exists to give the signature MACHINERY an exact external
    * check. */
  def portableTokenHash(tok: Column): Column =
    // ONE char extraction + ONE fold carrying both accumulators in a
    // struct (the naive two-fold form re-ran the per-char regex and
    // the array walk twice per token for the same values)
    aggregate(
      transform(regexp_extract_all(tok, lit("."), lit(0)),
        c => ascii(c).cast(LongType)),
      struct(lit(13L).as("a"), lit(7L).as("b")),
      (acc, c) => struct(
        ((acc.getField("a") * 137 + c) % 2147483629L).as("a"),
        ((acc.getField("b") * 131 + c) % 2147483647L).as("b")),
      acc => shiftleft(acc.getField("a"), 32) + acc.getField("b"))

  /** SimHash near-dup candidates: Hamming(a,b) ≤ maxHamming. Blocked by
    * the pigeonhole principle on four 16-bit chunks (≤3 differing bits
    * ⇒ at least one chunk identical) — a bucket join, never N².
    * Hamming distance via bit_count(xor). `tokenHash` defaults to
    * xxhash64 (production); pass [[portableTokenHash]] to make the
    * full pair set engine-portable (the d04 oracle gate). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3,
      tokenHash: Column => Column = w => xxhash64(w)): DataFrame =
    hammingPairsFromSignatures(
      simhashSignatures(docs, idCol, textCol, tokenHash).cache(),
      idCol, "sig", maxHamming)

  /** The chunk-collision hamming join over ANY 64-bit signature column
    * — the one rendering shared by text SimHash ([[simhashPairs]]) and
    * perceptual image hashes
    * ([[graft.multimodal.Multimodal.imageAHash]], m12): explode four
    * 16-bit chunks, bucket-join on (chunk, value) — pigeonhole: ≤3
    * differing bits guarantee a shared chunk; beyond that collision is
    * probabilistic and DECLARED (an oracle models the same rule) —
    * then exact `bit_count(xor)` verify. Never N². */
  def hammingPairsFromSignatures(sigs: DataFrame, idCol: String,
      sigCol: String, maxHamming: Int = 3,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val chunked = chunkedSigs(
      sigs.select(col(idCol), col(sigCol).as("sig")), idCol, Nil,
      maxBucketSize)
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.chash") === col("b.chash") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** 16-bit chunk explosion of a 64-bit signature frame (column "sig")
    * with the hot-bucket escape hatch — the ONE rendering shared by
    * the self-join ([[hammingPairsFromSignatures]]) and the
    * index-vs-batch join ([[hammingPairsFromIndexes]]).
    *
    * maxBucketSize: the same bounded-join escape hatch as the LSH
    * paths' — a (chunk, value) bucket larger than the cap is a
    * mass-duplicate clique (thousands of byte-identical images hash
    * to ONE signature and meet in every chunk bucket); its Σ b²
    * candidates carry no per-pair information, so the hot bucket is
    * dropped before the join. Recall loss is confined to pairs whose
    * every shared chunk is hot — for an exact-duplicate clique, the
    * clique's own pairs, which exact dedup (d01 on the payload
    * digest) owns anyway. */
  private def chunkedSigs(sigs: DataFrame, idCol: String,
      carryCols: Seq[String], maxBucketSize: Option[Int]): DataFrame = {
    val chunkedAll = sigs.select(
        (Seq(col(idCol), col("sig")) ++ carryCols.map(col) :+
          posexplode(array((0 until 4).map(c =>
            shiftright(col("sig"), c * 16).bitwiseAND(0xFFFFL)): _*))): _*)
      .toDF((Seq(idCol, "sig") ++ carryCols ++ Seq("chunk", "chash")): _*)
    maxBucketSize.fold(chunkedAll) { cap =>
      val hot = chunkedAll.groupBy("chunk", "chash")
        .agg(count(lit(1)).as("bn"))
        .filter(col("bn") > cap).select("chunk", "chash")
      chunkedAll.join(broadcast(hot), Seq("chunk", "chash"), "left_anti")
    }
  }

  /** [[hammingPairsFromSignatures]] against a STORED signature index:
    * pairs touching the NEW batch only — old-old pairs were emitted in
    * their own batches, both-new pairs emit once (a < b), old-new
    * pairs normalize to (least, greatest). Chunk values are per-row
    * functions of the signature, so with `maxBucketSize = None` the
    * union over ANY micro-batch split of a corpus equals the one-shot
    * self-join pair set — the batch-split invariance that lets the
    * streamed image/SimHash ingest (m13) verify against the batch
    * oracle. With a cap set the invariance does NOT hold: the
    * hot-bucket test sees committed-prefix + batch, so a bucket under
    * the cap at batch k but over it in the final corpus emits pairs
    * the one-shot capped run suppresses — capped recall is
    * prefix-dependent under streaming (strictly ≥ the one-shot capped
    * run's, still ≤ the uncapped exact set, and every emitted pair is
    * Hamming-verified, so precision is unaffected). */
  def hammingPairsFromIndexes(index: DataFrame, newSigs: DataFrame,
      idCol: String, sigCol: String, maxHamming: Int = 3,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val all = index.select(col(idCol), col(sigCol).as("sig"))
      .withColumn("is_new", lit(false))
      .unionByName(newSigs.select(col(idCol), col(sigCol).as("sig"))
        .withColumn("is_new", lit(true)))
    // the cap sees index + batch together, as the LSH ingest does
    val chunked = chunkedSigs(all, idCol, Seq("is_new"), maxBucketSize)
    chunked.as("a").join(chunked.filter(col("is_new")).as("b"),
        col("a.chunk") === col("b.chunk") && col("a.chash") === col("b.chash") &&
          // both-new pairs once; old side always qualifies (the right
          // side being new-only already excludes old-old)
          (!col("a.is_new") || col(s"a.$idCol") < col(s"b.$idCol")) &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("a_id"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("b_id"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Resolve near-dup pairs into duplicate clusters: every document
    * gets the minimum doc-id reachable through the pair graph as its
    * cluster root. Output: (id, root) for every input document;
    * singletons are their own root. A dedup pipeline keeps
    * `id == root` representatives.
    *
    * Strategy: the dup-pair graph is a tiny fraction of the corpus
    * (that's what makes it a dup graph) — when it fits the driver
    * (`driverPairLimit`, integral ids only), union-find + a broadcast
    * mapping join resolve components in one job and `maxIter` is
    * unused. Past the limit, or for non-integral id types,
    * distributed iterative label propagation runs instead (converges
    * in graph-diameter rounds; `maxIter` bounds pathological chains).
    */
  def duplicateClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 10, driverPairLimit: Int = 2000000): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val integralIds = docs.schema(idCol).dataType match {
      case LongType | IntegerType => true
      case _ => false
    }
    // size probe + resolution reuse one computation; if the CALLER already
    // cached this plan, leave its cache alone — unpersisting here would
    // silently evict the shared entry and force the caller's later actions
    // to recompute the whole pair pipeline
    val callerCached =
      pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val p = if (callerCached) pairs else pairs.cache()
    try {
      if (integralIds) {
        // ONE driver action probes the size AND fetches the edges: the
        // old separate limit-count + collect ran the same bounded scan
        // twice, and this resolver sits inside every streamed-ingest
        // batch (d18/d20), where per-batch cost is fixed job count.
        // Past the limit the (bounded, ≤ limit+1 rows) fetch is
        // discarded and label propagation runs distributed.
        val probe = p
          .select(col("a_id").cast("long"), col("b_id").cast("long"))
          .limit(driverPairLimit + 1).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        if (probe.length <= driverPairLimit)
          duplicateClustersUnionFind(docs, idCol, probe)
        else duplicateClustersIterative(docs, idCol, p, maxIter)
      } else duplicateClustersIterative(docs, idCol, p, maxIter)
    } finally if (!callerCached) p.unpersist()
  }

  /** Mutable driver-side union-find with path-compressing find and
    * union by MINIMUM id — the root is always a cluster's smallest
    * member, matching the oracle's least() rule. ONE implementation
    * shared by [[duplicateClustersUnionFind]] and the streamed
    * survivor resolver's driver fast path
    * ([[graft.streaming.DedupStream]]); a divergence between the two
    * would silently split the cluster semantics the oracles pin. */
  private[graft] final class MinRootUnionFind {
    private val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra)
        parent(hi) = lo // min-id root, matching the oracle's least()
      }
    }
  }

  /** Driver union-find over the collected pair list; only non-singleton
    * membership is broadcast — every other doc is its own root. */
  private def duplicateClustersUnionFind(docs: DataFrame, idCol: String,
      edges: Array[(Long, Long)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val uf = new MinRootUnionFind
    edges.foreach { case (a, b) => uf.union(a, b) }
    val mapping = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      .map(x => (x, uf.find(x))).toSeq.toDF("id", "__root")
    docs.select(col(idCol).as("id"))
      .join(broadcast(mapping), Seq("id"), "left")
      .select(col("id"), coalesce(col("__root"), col("id")).as("root"))
  }

  private def duplicateClustersIterative(docs: DataFrame, idCol: String,
      pairs: DataFrame, maxIter: Int): DataFrame = {
    val spark = docs.sparkSession
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .cache()
    var labels = docs.select(col(idCol).as("id"), col(idCol).as("root"))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // each node adopts the min root among itself and its neighbors
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("root", "nroot"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("nroot")).as("nmin"))
      val next = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("root"), coalesce(col("nmin"), col("root"))).as("root"))
        .cache()
      // the changed-probe also materializes next's cache, so the old
      // generation can be dropped immediately
      val changed = next.join(labels.withColumnRenamed("root", "old"), "id")
        .filter(col("root") =!= col("old")).limit(1).count()
      if (i > 0) labels.unpersist()
      labels = next
      converged = changed == 0
      i += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"duplicate-cluster label propagation did not converge in $maxIter " +
          "rounds (graph diameter exceeds maxIter); raise maxIter — " +
          "returning partial labels would silently split clusters")
    labels
  }

  /** Embedding-cosine near-dup pairs, blocked on `blockCol` (e.g. a
    * cluster/label id, an LSH bucket, or an IVF cell): only intra-block
    * pairs are scored. */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame =
    emb.as("a").join(emb.as("b"),
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .withColumn("cos",
        VectorFunctions.cosineSim(col(s"a.$vecCol"), col(s"b.$vecCol")))
      .filter(col("cos") >= threshold)
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))

  /** Incremental [[embeddingNearDupPairs]] on a stored index — the
    * embedding family's `…FromIndexes` entry point: cosine near-dup
    * pairs TOUCHING the new batch — (old, new) and (new, new), never
    * (old, old) — with the block join's right side restricted to the
    * batch, so candidate generation scales with the batch, not the
    * corpus. Both frames are `(idCol, vecCol, blockCol)` rows (the
    * block key must be a PURE per-row function of the vector — an LSH
    * bucket, a frozen-quantizer cell — so the accumulated pair set is
    * batch-split-invariant: a row lives in exactly ONE block, a pair
    * is emitted exactly once, in the batch where its later member
    * arrives, and the union over any arrival split equals the
    * one-shot self-join). No internal caching (the
    * [[minhashLshPairsFromIndexes]] contract): callers own — and can
    * release — the caches backing the three plan branches.
    * New-batch ids must be disjoint from index ids. */
  def embeddingNearDupPairsFromIndexes(index: DataFrame, newRows: DataFrame,
      idCol: String, vecCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    val all = index.select(col(idCol), col(vecCol), col(blockCol))
      .withColumn("is_new", lit(false))
      .unionByName(newRows.select(col(idCol), col(vecCol), col(blockCol))
        .withColumn("is_new", lit(true)))
    // one block per row ⇒ no duplicate candidates ⇒ no distinct()
    all.as("a").join(all.filter(col("is_new")).as("b"),
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
          (!col("a.is_new") || col(s"a.$idCol") < col(s"b.$idCol")) &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .withColumn("cos",
        VectorFunctions.cosineSim(col(s"a.$vecCol"), col(s"b.$vecCol")))
      .filter(col("cos") >= threshold)
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("a_id"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("b_id"))
  }

  /** SemDeDup-shaped semantic dedup: cluster first (`clusterCol` — an
    * LSH bucket, k-means cell, or domain label), score ONLY
    * intra-cluster pairs, keep the smallest-id representative of each
    * near-dup relation (a row survives iff no smaller-id cluster-mate
    * sits within `threshold` cosine). Returns the surviving rows of
    * `emb` with all its columns.
    *
    * Scale: the pair stage is [[embeddingNearDupPairs]]'s
    * shuffle-on-cluster equi-join, so candidate volume is bounded by
    * the cluster-size distribution (Σ|cluster|²), never corpus² — the
    * clustering step is what makes semantic dedup feasible at corpus
    * scale; the final step is one anti-join on id. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      clusterCol: String, threshold: Double): DataFrame = {
    val dropped = embeddingNearDupPairs(emb, idCol, vecCol, clusterCol, threshold)
      .select(col("b_id").as(idCol)).distinct()
    emb.join(dropped, Seq(idCol), "left_anti")
  }
}
