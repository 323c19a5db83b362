package graft.dedup

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("minhash-LSH recovers the exact jaccard>=0.5 pair set (full recall on planted dups)") {
    val exact = Dedup.ngramJaccardPairs(Tables.documents(spark, sf),
      "doc_id", "text", 3, 0.5).select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(Tables.documents(spark, sf),
      "doc_id", "text", 3, 64, 16, 0.5).select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)        // data has planted near-dups
    assert(lsh == exact)          // verified candidates = exact answer
  }

  test("LSH maxBucketSize cap: boilerplate mega-bucket pruned, distinct near-dups keep full recall; cap above max changes nothing") {
    val boiler = "terms of service boilerplate repeated verbatim on every page of this site"
    val docs = (
      // 30 identical boilerplate docs: every band maps them to one
      // 30-doc bucket (435 candidate pairs from boilerplate alone)
      (0 until 30).map(i => (i.toLong, boiler)) ++ Seq(
        (100L, "the quick brown fox jumps over the lazy dog again and again today"),
        (101L, "the quick brown fox jumps over the lazy dog again and again tonight"),
        (102L, "completely unrelated text about spark catalyst optimizer internals"))
      ).toDF("doc_id", "text")
    val uncapped = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // boilerplate pairs found, plus the planted distinct near-dup pair
    assert(uncapped.contains((100L, 101L)))
    assert(uncapped.count(p => p._1 < 30L && p._2 < 30L) == 30 * 29 / 2)
    val capped = Dedup.minhashLshPairs(docs, "doc_id", "text",
        maxBucketSize = Some(10))
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the mega-bucket's quadratic pair set is gone; the near-dup pair
    // sits in its own size-2 buckets and keeps full recall
    assert(capped.contains((100L, 101L)))
    assert(!capped.exists(p => p._1 < 30L && p._2 < 30L))
    // a cap above the largest bucket is a no-op
    val loose = Dedup.minhashLshPairs(docs, "doc_id", "text",
        maxBucketSize = Some(1000))
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == uncapped)
  }

  test("simhash: identical text -> identical signature; near-dups cluster at low hamming") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox leaps over the lazy dog again and again"),
      (4L, "completely different words about spark query engines and shuffles")
    ).toDF("doc_id", "text")
    val sigs = docs.select($"doc_id", Dedup.simhash64($"text").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(3L)) < hamming(sigs(1L), sigs(4L)))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("simhash pairs with portable hash equal the brute-force pair set of portable signatures") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val sigs = Dedup.simhashSignatures(docs, "doc_id", "text",
        Dedup.portableTokenHash)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    val expected = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3,
        tokenHash = Dedup.portableTokenHash)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    assert(pairs == expected,
      "chunk-collision blocking must lose no pair vs the N^2 recompute")
  }

  test("duplicate clusters: chains collapse to one root, singletons self-root") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a_id", "b_id")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L)
    val unionFind = Dedup.duplicateClusters(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unionFind == expected)
    // driverPairLimit=0 forces the distributed iterative fallback
    val iterative = Dedup.duplicateClusters(docs, "doc_id", pairs,
        driverPairLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(iterative == expected)
  }

  test("duplicate clusters: non-integral ids take the iterative path correctly") {
    val docs = Seq("a", "b", "c", "d").toDF("doc_id")
    val pairs = Seq(("a", "b"), ("b", "c")).toDF("a_id", "b_id")
    val out = Dedup.duplicateClusters(docs, "doc_id", pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d"))
  }

  test("stop-shingle cap above the max df changes nothing; a tight cap only prunes") {
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5,
        maxDocFreq = Some(1000000))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == exact)
    val tight = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5,
        maxDocFreq = Some(2))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight.subsetOf(exact)) // pruning can only lose pairs
  }

  test("incremental dedup from a STORED index equals the full recompute restricted to batch-touching pairs") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val old = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    // materialize the index to parquet and read it back — the stored-
    // signature path a real ingest round takes
    val idxPath = java.nio.file.Files.createTempDirectory("graft_mh_idx")
      .resolve("index").toString
    Dedup.minhashIndex(old, "doc_id", "text", n = 3).write.parquet(idxPath)
    val incr = Dedup.minhashLshPairsIncremental(
        spark.read.parquet(idxPath), batch, "doc_id", "text", n = 3)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter(p => p._1 % 10 == 0 || p._2 % 10 == 0)
    assert(incr == expected)
    assert(expected.nonEmpty) // data exercised real old-new duplicates
    // old-old pairs (the index's prior dedup) are correctly absent
    assert(incr.forall(p => p._1 % 10 == 0 || p._2 % 10 == 0))
  }

  test("exact dedup groups identical keys and keeps min id") {
    val df = Seq((5L, "x"), (2L, "x"), (9L, "y")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", Seq("text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_copies")).toMap
    assert(out == Map(2L -> 2L, 9L -> 1L))
  }

  test("span dedup: first corpus-wide occurrence survives, docs reassemble in order") {
    val ten = "a b c d e f g h i j"       // one full window
    val other = "k l m n o p q r s t"
    val df = Seq(
        (1L, s"$ten $other"),             // owns both windows
        (2L, s"$other zz"),               // window 'other' repeats -> keeps only tail
        (3L, ten),                        // fully deduplicated
        (4L, "short tail")                // sub-window doc, unique
      ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(df, "doc_id", "text", span = 10)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == (s"$ten $other", 2L))
    assert(out(2L) == ("zz", 1L))         // surviving windows keep position order
    assert(out(3L) == ("", 0L))           // every window was a repeat
    assert(out(4L) == ("short tail", 1L))
  }

  test("substring dedup: shared windows scrubbed at any alignment, overlaps union, unique text survives") {
    val df = Seq(
        (1L, "COPY RIGHT HEADER u1 u2"),      // boilerplate at offset 0
        (2L, "pre COPY RIGHT HEADER post"),   // same boilerplate, offset 1
        (3L, "COPY RIGHT"),                   // sub-width: shares words, no full window
        (4L, "totally different text here"),  // unique doc untouched
        (5L, "a1 w x y z mid COPY RIGHT HEADER b1"), // two separated dup spans
        (6L, "a2 w x y z b2")                 // 4-token span: windows overlap
      ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(df, "doc_id", "text", width = 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == ("u1 u2", 3L))          // symmetric removal, both copies
    assert(out(2L) == ("pre post", 3L))       // caught at a different alignment
    assert(out(3L) == ("COPY RIGHT", 0L))     // no full window -> untouched
    assert(out(4L) == ("totally different text here", 0L))
    // doc5: "w x y"+"x y z" union to 4 positions, header adds 3; "a1",
    // "mid", "b1" sit between/around duplicated spans and survive
    assert(out(5L) == ("a1 mid b1", 7L))
    assert(out(6L) == ("a2 b2", 4L))
  }

  test("edit-distance band cover: pairs straddling a band boundary are found") {
    // lengths 7 vs 10 with lenBand=8: a=7 owns band 0, b=10 owns band 1 —
    // only the ±maxDist cover explode lets them meet. dist("abcdefg",
    // "abcdefgxyz") = 3 (appends), within maxDist.
    val df = Seq(
        (1L, "blk", "abcdefg"),        // len 7, band 0
        (2L, "blk", "abcdefgxyz"),     // len 10, band 1, dist 3 from #1
        (3L, "blk", "abcdefq"),        // len 7, dist 1 from #1 (4 from #2)
        (4L, "other", "abcdefg"),      // same string, different block
        (5L, "blk", "zzzzzzzzzzzzzzz") // len 15, far from everything
      ).toDF("id", "block", "s")
    val pairs = Dedup.editDistancePairs(df, "id", "s", Seq("block"),
        maxDist = 3, lenBand = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, 3L), (1L, 3L, 1L)))
    // each pair appears exactly once (the cover argument), incl. the
    // boundary-straddling (1,2)
  }

  test("containment: a quoted short doc scores 1.0 toward its host, jaccard stays low") {
    val short_ = "alpha beta gamma delta epsilon"              // 3 shingles
    val long_ = short_ + " " + (1 to 40).map(i => s"f$i").mkString(" ")
    val docs = Seq((1L, short_), (2L, long_), (3L, "zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramContainmentPairs(docs, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // short ⊂ long: containment 1.0 in exactly that direction
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
    // the symmetric measure misses this pair entirely at the same bar
    assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8).count() == 0)
  }

  test("LSH containment: full recall vs the exact twin on the fixture corpus; asymmetric quote found when J reaches the bands") {
    spark.catalog.clearCache()
    // real corpus: the scale path must find exactly the exact twin's
    // directed pairs (the d15 gate's invariant, here at spec level)
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val exact = Dedup.ngramContainmentPairs(docs, "doc_id", "text", 3, 0.8)
      .collect().map(key).toSet
    spark.catalog.clearCache()
    val lsh = Dedup.minhashContainmentPairs(docs, "doc_id", "text", 3,
      k = 64, bands = 32, threshold = 0.8).collect().map(key).toSet
    assert(lsh == exact && exact.nonEmpty)
    spark.catalog.clearCache()
    // planted asymmetric pair: quote 1.0-contained, J = 3/43 ≈ 0.07 —
    // BELOW any practical band reach with 32×2 (per-band collision
    // J²≈0.005). The miss is the DECLARED approximate semantics:
    // assert the directional scores the exact twin reports, and that
    // a moderately asymmetric pair (J≈0.43) IS recovered.
    val short_ = "alpha beta gamma delta epsilon"
    val host = short_ + " " + (1 to 4).map(i => s"f$i").mkString(" ") // J≈0.43
    val planted = Seq((1L, short_), (2L, host),
      (3L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    val got = Dedup.minhashContainmentPairs(planted, "doc_id", "text", 3,
      k = 64, bands = 32, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
    spark.catalog.clearCache()
  }

  test("containmentDedup survivor rule: quoted-smaller drops, container survives, mutual pair keeps exactly one, tie breaks by id") {
    spark.catalog.clearCache()
    val quote = "alpha beta gamma delta epsilon"                 // 3 shingles
    val host = quote + " " + (1 to 4).map(i => s"f$i").mkString(" ")
    // mutual containment, equal shingle counts: two orderings of the
    // same 7 tokens sharing all shingles is impossible — use identical
    // shingle SETS via duplicated text with one extra repeated shingle
    val twinA = "uno dos tres quattro cinco uno dos tres"
    val twinB = "uno dos tres quattro cinco uno dos tres"
    val docs = Seq((1L, quote), (2L, host),
      (5L, twinA), (6L, twinB),
      (9L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    val out = Dedup.containmentDedup(docs, "doc_id", "text",
        n = 3, k = 64, bands = 32, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 1 (the quote) drops into 2 (the container); of the identical
    // twins 5/6 the LARGER id drops; the unrelated 9 survives
    assert(out == Set(2L, 5L, 9L), out.toString)
    spark.catalog.clearCache()
  }

  test("hamming-join maxBucketSize: drops a planted identical-signature clique and ONLY it") {
    spark.catalog.clearCache()
    // 40 byte-identical signatures (the mass-dup image clique) + one
    // genuine near-dup pair (hamming 2) + spread singletons
    val clique = (1L to 40L).map(id => (id, 0x0123456789ABCDEFL))
    val nearDup = Seq((100L, 0x00FF00FF00FF00FFL),
      (101L, 0x00FF00FF00FF00FCL)) // differs in 2 low bits
    val singles = (200L to 210L).map(id => (id, id * 0x9E3779B97F4A7C15L))
    val sigs = (clique ++ nearDup ++ singles).toDF("media_id", "sig")
    def pairs(cap: Option[Int]) =
      Dedup.hammingPairsFromSignatures(sigs, "media_id", "sig",
        maxHamming = 3, maxBucketSize = cap)
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val un = pairs(None)
    assert(un.size == 40 * 39 / 2 + 1, s"${un.size}") // clique + near-dup
    assert(un.contains((100L, 101L)))
    val capped = pairs(Some(8))
    // the guard drops exactly the clique's pairs: the near-dup pair's
    // buckets have 2 members and survive
    assert(capped == Set((100L, 101L)), capped.toString)
    // a loose cap is a no-op
    assert(pairs(Some(1000)) == un)
  }

  test("containment maxDocFreq cap: lower bound that loses only hot-shingle overlap") {
    spark.catalog.clearCache()
    // "x y z" appears in all four docs (df=4, the boilerplate shingle);
    // docs 1/2 share their real content besides it
    val core = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, s"x y z $core"),
      (2L, s"x y z $core zeta"),
      (3L, "x y z uno dos tres quattro cinco"),
      (4L, "x y z un deux trois quatre cinq")
    ).toDF("doc_id", "text")
    // threshold low enough that the single boilerplate shingle alone
    // (1 of 6 shingles ~= 0.17) clears it in the exact run
    def pairs(cap: Option[Int]) =
      Dedup.ngramContainmentPairs(docs, "doc_id", "text", 3, 0.15, cap)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
        .toMap
    val exact = pairs(None)
    spark.catalog.clearCache()
    val capped = pairs(Some(3))
    spark.catalog.clearCache()
    val loose = pairs(Some(1000))
    // a generous cap changes nothing
    assert(loose == exact)
    // capped scores never exceed exact (denominators keep full sizes)
    assert(capped.keySet.subsetOf(exact.keySet))
    assert(capped.forall { case (k, v) => v <= exact(k) + 1e-15 })
    // the real near-dup pair survives the cap; the pairs that existed
    // ONLY through the boilerplate shingles are gone
    assert(capped.contains((1L, 2L)))
    assert(exact.keySet.exists(k => !capped.contains(k)))
  }

  test("semanticDedup: smallest-id representative survives per cluster, cross-cluster dups untouched") {
    // cluster 1: vectors 1,2 identical (cos=1), 3 orthogonal;
    // cluster 2: vector 4 identical to 1 but in another cluster — kept
    // (semantic dedup only prunes within a cluster, by design).
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 1),
      (2L, Array(2.0f, 0.0f), 1),
      (3L, Array(0.0f, 1.0f), 1),
      (4L, Array(1.0f, 0.0f), 2)
    ).toDF("vec_id", "embedding", "cluster")
    val out = Dedup.semanticDedup(emb, "vec_id", "embedding", "cluster", 0.9)
    assert(out.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L, 4L))
    // all original columns survive
    assert(out.columns.toSeq == Seq("vec_id", "embedding", "cluster"))
    // threshold above every similarity keeps everything
    assert(Dedup.semanticDedup(emb, "vec_id", "embedding", "cluster", 1.1)
      .count() == 4)
  }

  test("simhash candidate blocking never produces an N^2 plan (bucket join)") {
    val plan = Dedup.simhashPairs(Tables.documents(spark, sf), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }
}
