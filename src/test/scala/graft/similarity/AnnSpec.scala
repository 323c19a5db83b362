package graft.similarity

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

class AnnSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("lsh top-k results are a subset of brute-force rankings' candidate space") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 5)
    val brute = Ann.bruteForceTopK(emb, q, "vec_id", "embedding", k = 50)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.lshTopK(emb, q, "vec_id", "embedding", 64, 8, k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty)
    // every LSH hit is a genuine corpus pair for its query (sanity) and
    // bucketing keeps only same-signature rows, so hits are a strict
    // candidate-subset of the brute-force universe
    assert(lsh.forall { case (qid, n) => qid != n })
    val topOverlap = lsh.intersect(brute)
    assert(topOverlap.nonEmpty) // buckets retain some true near neighbors
  }

  test("ivf within-cell ranking matches brute force restricted to the cell") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0)
    val cell = q.select("label").collect().head.getInt(0)
    val bruteInCell = Ann.bruteForceTopK(
      emb.filter(col("label") === cell), q, "vec_id", "embedding", k = 3)
      .select("neighbor_id").collect().map(_.getLong(0)).toSeq
    val ivf = Ann.ivfTopK(emb, q, "vec_id", "embedding", "label", k = 3)
      .select("neighbor_id").collect().map(_.getLong(0)).toSeq
    assert(ivf == bruteInCell)
  }

  test("multi-probe IVF: recall grows with nprobe; nprobe=|cells| IS brute force") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 5)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val nCells = emb.select("label").distinct().count().toInt
    val p1 = ids(Ann.ivfTrainedTopK(emb, q, "vec_id", "embedding", "label",
      k = 3, nprobe = 1))
    val p2 = Ann.ivfTrainedTopK(emb, q, "vec_id", "embedding", "label",
      k = 3, nprobe = 2)
    // per query, the probed candidate pool only grows — every nprobe=1
    // neighbor remains a candidate at nprobe=2 (ranks may shift)
    val p2Neighbors = p2.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = ids(Ann.ivfTrainedTopK(emb, q, "vec_id", "embedding", "label",
      k = 3, nprobe = nCells))
    val brute = ids(Ann.bruteForceTopK(emb, q, "vec_id", "embedding", k = 3))
    assert(all == brute, "probing every cell must equal exact brute force")
    assert(p1.nonEmpty && p2Neighbors.nonEmpty)
  }

  test("brute force never cartesian-products the corpus (broadcast queries)") {
    val emb = Tables.embeddings(spark, sf)
    val plan = Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", 5).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("kmeans recovers planted clusters; assignment plan is a shuffle-free narrow map") {
    import spark.implicits._
    // 3 well-separated centers in 4-d, 8 points each, small jitter
    val centers = Seq(
      Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f), Array(0f, 0f, 10f, 0f))
    val pts = for {
      (c, g) <- centers.zipWithIndex
      i <- 0 until 8
    } yield (g * 8L + i, g,
      c.zipWithIndex.map { case (x, j) => x + 0.01f * ((i + j) % 5) })
    val df = pts.toDF("vec_id", "true_group", "embedding")
    val assigned = Ann.kmeansAssign(df, "vec_id", "embedding",
        k = 3, iters = 5)
      .select("true_group", "cell")
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    // every planted group maps to exactly one learned cell, and the
    // three groups land in three distinct cells
    val byGroup = assigned.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byGroup.values.forall(_.size == 1), s"split cluster: $byGroup")
    assert(byGroup.values.flatten.toSet.size == 3, s"merged clusters: $byGroup")
    // deterministic across re-runs (hash-drawn seeds, no rand())
    val again = Ann.kmeansAssign(df, "vec_id", "embedding", k = 3, iters = 5)
      .select("true_group", "cell").collect().map(r => r.getInt(0) -> r.getLong(1))
    assert(assigned.sortBy(_._1).sameElements(again.sortBy(_._1)))
    // the assignment stage is a pure map: no join/exchange below the scan
    val cents = Ann.kmeansCentroids(df, "vec_id", "embedding", 3, 2)
    val plan = df.withColumn("cell", Ann.nearestCell(col("embedding"), cents))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }

  test("PQ: planted duplicate attains the ADC minimum and ranks first; codes stay in range") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val query = emb.filter(col("vec_id") === 7L)
    val qvec = query.select("embedding").collect()(0).getSeq[Float](0).toArray
    // plant an exact copy of the query under id -1: ADC distance to it
    // equals the query's own reconstruction error, the provable lower
    // bound over all code words — it must rank 1 (ties break to low id)
    val corpus = emb.unionByName(
      Seq((-1L, qvec, 0)).toDF("vec_id", "embedding", "label"))
    val cb = Ann.pqTrainCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 8, k = 16, iters = 1)
    assert(cb.size == 8 && cb.forall(_.size == 16))
    val top = Ann.pqTopK(corpus, query, "vec_id", "embedding", 64, cb, k = 3)
      .orderBy("rank").collect()
    assert(top.head.getLong(1) == -1L,
      s"duplicate did not rank first: ${top.mkString(", ")}")
    // codes are well-formed: m entries, each in [0, k)
    val codes = emb.select(
        Ann.pqEncode(col("embedding"), 64, cb).as("codes"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.size == 8 && c.forall(x => x >= 0 && x < 16)))
    // encode is deterministic (literal codebook, no rand())
    val again = emb.select(Ann.pqEncode(col("embedding"), 64, cb).as("codes"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.zip(again).forall { case (a, b) => a == b })
  }

  test("portable PQ: recon_err equals the recomputed integer minimum on a hand case") {
    import spark.implicits._
    // dim=8, m=2, sub=4, k=3 — small enough to recompute by hand here
    val v = Array(0.5f, -0.25f, 0f, 1f, -1f, 0.125f, 0.75f, -0.5f)
    val df = Seq((1L, v)).toDF("vec_id", "embedding")
    val got = df.select(
        Ann.portablePqEncode(col("embedding"), dim = 8, m = 2, k = 3).as("pq"))
      .select("pq.codes", "pq.recon_err").collect()(0)
    val cb = Ann.portablePqCodebook(2, 3, 4)
    val q = v.map(x => math.floor(x.toDouble * 1000000d).toLong)
    val expected = (0 until 2).map { j =>
      val dists = (0 until 3).map { c =>
        (0 until 4).map { i =>
          val d = q(j * 4 + i) - cb(j)(c)(i); d * d
        }.sum
      }
      val min = dists.min
      (dists.indexOf(min), min) // first-min = lowest code on ties
    }
    assert(got.getSeq[Int](0) == expected.map(_._1))
    assert(got.getLong(1) == expected.map(_._2).sum)
  }

  test("portable kmeans: planted clusters recovered; iters=0 equals seed assignment; runs are deterministic") {
    import spark.implicits._
    // two tight planted clusters far apart, dim=4
    val rows = (0 until 10).map { i =>
      val base = if (i < 5) 1.0f else -1.0f
      (i.toLong, Array.tabulate(4)(j => base + i * 1e-4f + j * 1e-5f))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val out = Ann.portableKmeansAssign(emb, "vec_id", "embedding",
        dim = 4, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each planted cluster lands wholly in one cell, and the cells differ
    val c1 = (0L until 5L).map(out).toSet
    val c2 = (5L until 10L).map(out).toSet
    assert(c1.size == 1 && c2.size == 1 && c1 != c2)
    // deterministic: a re-run produces identical assignments
    val again = Ann.portableKmeansAssign(emb, "vec_id", "embedding",
        dim = 4, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == out)
    // iters=0 assigns against the RAW seeds: recompute the expected
    // assignment by hand — same md5-hash seed order, same integer
    // quantization, exact L2 argmin with lower-cell tie-break
    val zero = Ann.portableKmeansAssign(emb, "vec_id", "embedding",
        dim = 4, k = 2, iters = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quant = rows.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1000000.0).toLong)
    }.toMap
    val seedIds = emb.select(col("vec_id"),
        graft.corpus.Selection.hashValue(
          graft.corpus.Selection.saltedKey(col("vec_id"), "pkmeans")).as("h"))
      .orderBy("h", "vec_id").limit(2)
      .collect().map(_.getLong(0))
    val seedVecs = seedIds.map(quant)
    val expected = quant.map { case (id, q) =>
      val dists = seedVecs.map(c =>
        q.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
      id -> dists.zipWithIndex.minBy { case (d, j) => (d, j) }._2.toLong
    }
    assert(zero == expected)
  }

  test("two-stage PQ rerank: planted duplicate ranks first with exact distance 0") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    // plant an exact duplicate of query vector 3 under the SMALLEST id
    // in the corpus, so the deterministic (d2, id) tie-break must put
    // it at rank 1 (the fixture already contains duplicates of vector
    // 3 — a high-id plant can be crowded out of top-5 by them)
    val dupOf3 = emb.filter(col("vec_id") === 3)
      .withColumn("vec_id", lit(-1L))
    val corpus = emb.unionByName(dupOf3)
    val out = Ann.portablePqRerankTopK(corpus,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        dim = 64, m = 8, k = 8, shortlist = 20, topK = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the duplicate is query 3's rank-1 neighbor at exact distance 0
    val top3 = out.filter(r => r._1 == 3L && r._2 == 1L).head
    assert(top3._3 == -1L && top3._4 == 0L)
    // every query returns exactly topK rows with strictly ranked rows
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to 5L))
    }
  }

  test("kmeans degeneracy guard: k > distinct points still yields k centroids") {
    import spark.implicits._
    val df = Seq((1L, Array(1f, 1f)), (2L, Array(1f, 1f)), (3L, Array(9f, 9f)))
      .toDF("vec_id", "embedding")
    val cents = Ann.kmeansCentroids(df, "vec_id", "embedding", k = 3, iters = 4)
    assert(cents.size == 3)
    assert(cents.map(_._1).toSet == Set(0L, 1L, 2L))
    // all three points still assignable
    val n = df.withColumn("cell", Ann.nearestCell(col("embedding"), cents)).count()
    assert(n == 3)
  }

  test("IVF-PQ: planted duplicate ranks first probing only its own cell (nprobe=1)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    // an exact duplicate of query 3 quantizes identically, so it lands
    // in the query's own (first-probed) cell with the query's own
    // residual — its codes attain the per-subspace ADC minimum, and the
    // (adc, vec_id) tie-break puts the smallest id first
    val dupOf3 = emb.filter(col("vec_id") === 3)
      .withColumn("vec_id", lit(-1L))
    val corpus = emb.unionByName(dupOf3)
    val out = Ann.portableIvfPqTopK(corpus, emb.filter(col("vec_id") === 3),
        "vec_id", "embedding", dim = 64, kCells = 4, coarseIters = 2,
        m = 8, k = 8, nprobe = 1, topK = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val top = out.filter(r => r._1 == 3L && r._2 == 1L).head
    assert(top._3 == -1L)
    // minimal ADC over everything the probe surfaced
    assert(out.filter(_._1 == 3L).map(_._4).min == top._4)
    assert(out.filter(_._1 == 3L).map(_._2).sorted.toSeq == (1L to 5L))
  }

  test("IVF-PQ: nprobe=kCells degenerates to exhaustive ADC ranking (independent recompute)") {
    import spark.implicits._
    // small synthetic corpus; the whole index — cells, residual codes,
    // distance tables, ranking — recomputed in plain Scala and compared
    // pairwise. nprobe=kCells probes every cell, so candidates are the
    // full corpus and the expected ranking is total.
    val dim = 4; val kCells = 2; val m = 2; val k = 4; val iters = 2
    val topK = 3; val sub = dim / m
    val rows = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(dim)(j => math.sin(i * 7 + j).toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val out = Ann.portableIvfPqTopK(emb, emb.filter(col("vec_id") < 3),
        "vec_id", "embedding", dim, kCells, iters, m, k,
        nprobe = kCells, topK = topK)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    val cents = Ann.portableKmeansCentroids(emb, "vec_id", "embedding",
      dim, kCells, iters)
    val cb = Ann.portablePqCodebook(m, k, sub)
    val quant = rows.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1000000.0).toLong)
    }
    def l2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def cellOf(q: Array[Long]): Int =
      cents.zipWithIndex.map { case (c, j) => (l2(q, c.toSeq), j) }.min._2
    val corpusInfo = quant.map { case (id, q) =>
      val cell = cellOf(q)
      val r = q.zip(cents(cell)).map { case (a, b) => a - b }
      val codes = Array.tabulate(m) { j =>
        val rs = r.slice(j * sub, j * sub + sub).toSeq
        (0 until k).map(c => (l2(rs, cb(j)(c)), c)).min._2
      }
      (id, cell, codes)
    }
    val qmap = quant.toMap
    for (qid <- 0L until 3L) {
      val qv = qmap(qid)
      val expected = corpusInfo.filter(_._1 != qid)
        .map { case (id, cell, codes) =>
          val qr = qv.zip(cents(cell)).map { case (a, b) => a - b }
          val adc = (0 until m).map { j =>
            l2(qr.slice(j * sub, j * sub + sub).toSeq, cb(j)(codes(j)))
          }.sum
          (adc, id)
        }.sorted.take(topK)
      expected.zipWithIndex.foreach { case ((adc, id), i) =>
        assert(out((qid, i + 1L)) == ((id, adc)),
          s"query $qid rank ${i + 1}")
      }
    }
  }

  test("portable LSH top-k: neighbors share the query's portable bucket; d2 is the exact integer L2") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 10)
    val out = Ann.portableLshTopK(emb, q, "vec_id", "embedding",
      dim = 64, nBits = 8, k = 5).collect()
    assert(out.nonEmpty)
    val buckets = emb.select(col("vec_id"),
        Ann.portableLshBucket(col("embedding"), nBits = 8, dim = 64))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quant = emb.select(col("vec_id"),
        transform(col("embedding").cast(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)),
          x => floor(x * 1000000d).cast(
            org.apache.spark.sql.types.LongType)))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    out.foreach { r =>
      val (qid, nid, d2) = (r.getLong(0), r.getLong(1), r.getLong(3))
      assert(qid != nid)
      assert(buckets(qid) == buckets(nid), s"$qid/$nid cross-bucket")
      val expect = quant(qid).zip(quant(nid))
        .map { case (a, b) => (a - b) * (a - b) }.sum
      assert(d2 == expect, s"$qid->$nid integer L2 mismatch")
    }
  }

  test("portable IVF exact top-k: neighbors share the query's trained cell, ranks follow integer L2") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 10)
    val out = Ann.portableIvfExactTopK(emb, q, "vec_id", "embedding",
      dim = 64, cells = 8, iters = 2, topK = 3).collect()
    assert(out.nonEmpty)
    val cells = Ann.portableKmeansAssign(emb, "vec_id", "embedding",
        dim = 64, k = 8, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byQuery = out.groupBy(_.getLong(0))
    byQuery.foreach { case (qid, rows) =>
      rows.foreach { r =>
        assert(cells(qid) == cells(r.getLong(1)), "cross-cell neighbor")
      }
      // ranks are 1..n and d2 non-decreasing along them
      val ranked = rows.sortBy(_.getLong(2))
      assert(ranked.map(_.getLong(2)).toSeq == (1L to rows.length).toSeq)
      val d2s = ranked.map(_.getLong(3)).toSeq
      assert(d2s == d2s.sorted, s"query $qid d2 not ordered by rank")
    }
  }

  test("kmeansSse: Lloyd's objective descends from seed to trained centroids") {
    val emb = Tables.embeddings(spark, sf)
    val sse0 = Ann.kmeansSse(emb, "embedding",
      Ann.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iters = 0))
    val sse3 = Ann.kmeansSse(emb, "embedding",
      Ann.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iters = 3))
    assert(sse0 > 0.0 && sse3 > 0.0)
    assert(sse3 <= sse0, s"training must not increase the objective " +
      s"($sse0 -> $sse3)")
  }

  test("recallAtK: planted overlap counts, zero-hit queries kept, ppm is exact integer division") {
    import spark.implicits._
    val exact = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L), // query 1: 3 exact neighbors
      (2L, 20L), (2L, 21L)             // query 2: 2 exact neighbors
    ).toDF("query_id", "neighbor_id")
    val approx = Seq(
      (1L, 10L), (1L, 12L), (1L, 99L), // 2 of 3 hit (99 is a miss)
      (2L, 98L), (2L, 97L)             // 0 of 2 hit
    ).toDF("query_id", "neighbor_id")
    val r = Ann.recallAtK(exact, approx)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(1L) == ((3L, 2L, 666666L))) // 2*1e6 div 3, floor
    assert(r(2L) == ((2L, 0L, 0L)))      // missed entirely, still reported
    // identical inputs → perfect recall
    val perfect = Ann.recallAtK(exact, exact)
      .collect().map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(perfect == Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("nprobeForRecall: cheapest committed point per target; None past the curve; default is the 1/4 point") {
    // the rule's own boundaries first (the s21/s22 oracles re-derive
    // these from COUNT(*); this pins the Scala side at the edges)
    assert(Ann.ivfCapacityForCorpus(1L) == Ann.IvfCapacity(8, 2))
    assert(Ann.ivfCapacityForCorpus(1024L) == Ann.IvfCapacity(8, 2))
    assert(Ann.ivfCapacityForCorpus(1025L) == Ann.IvfCapacity(16, 4))
    assert(Ann.ivfCapacityForCorpus(16384L) == Ann.IvfCapacity(32, 8))
    assert(Ann.ivfCapacityForCorpus(Long.MaxValue).cells == (1 << 20))
    // targets walk the committed curve (CAPACITY_r16 sf0.1: 0.312 at
    // 1/8, 0.468 at 1/4, 0.588 at 1/2); cells stay capacity-ruled
    val n = 2000L // rule: cells = 16
    assert(Ann.nprobeForRecall(n, 0.30).contains(Ann.IvfCapacity(16, 2)))
    assert(Ann.nprobeForRecall(n, 0.45).contains(Ann.IvfCapacity(16, 4)))
    // the capacity rule's default IS the 1/4 point on the curve
    assert(Ann.nprobeForRecall(n, 0.45).get
      == Ann.ivfCapacityForCorpus(n))
    assert(Ann.nprobeForRecall(n, 0.55).contains(Ann.IvfCapacity(16, 8)))
    // past the committed curve: refuse, never extrapolate (coding
    // loss binds past the top point — more probing is not evidence)
    assert(Ann.nprobeForRecall(n, 0.60).isEmpty)
    // the nprobe floor holds at the smallest capacity
    assert(Ann.nprobeForRecall(500L, 0.30).contains(Ann.IvfCapacity(8, 2)))
  }

  test("recallByProbedFraction provenance: the committed CAPACITY_r16 artifact IS the curve") {
    // r18 #4: the curve behind nprobeForRecall is a hard-coded
    // constants table transcribed from CAPACITY_r16.json — nothing
    // failed if the capacity family and the table drifted apart. This
    // spec re-reads the COMMITTED artifact and asserts the table
    // equals its sf0.1 rule-point slice (n=2000 → rule cells=16, the
    // k=16 PQ lifecycle the curve's scope documents), fraction by
    // fraction, with no swept point missing and none invented: either
    // side changing alone goes red.
    import org.apache.spark.sql.functions.explode
    val path = Seq("CAPACITY_r16.json", "/root/repo/CAPACITY_r16.json")
      .map(new java.io.File(_)).find(_.exists())
      .getOrElse(fail("CAPACITY_r16.json artifact not found"))
    val art = spark.read.option("multiLine", true)
      .json(path.getAbsolutePath)
    val run = art.select(explode(col("runs")).as("r"))
      .filter(col("r.sf") === "sf0.1" && col("r.rule.cells") === 16)
    assert(run.count() == 1, "exactly one sf0.1 rule-cells=16 sweep run")
    val swept = run.select(explode(col("r.pq")).as("p"))
      .filter(col("p.k") === 16 && col("p.cells") === 16)
      .select(col("p.nprobe").cast("double"), col("p.recall"))
      .collect().map(r => (r.getDouble(0) / 16.0) -> r.getDouble(1))
      .toMap
    val curve = Ann.recallByProbedFraction.toMap
    assert(swept == curve,
      s"curve/artifact drift: artifact=$swept table=$curve")
  }

  /** The per-(cell, component) grouped aggregate the one-pass Lloyd's
    * replaced, as the reference it must match bit for bit. */
  private def groupedLloyds(q: org.apache.spark.sql.DataFrame, dim: Int,
      k: Int, iters: Int, salt: String): Seq[Array[Long]] = {
    import graft.corpus.Selection
    var cents: Seq[Array[Long]] = q
      .orderBy(Selection.hashValue(Selection.saltedKey(col("vec_id"), salt)),
        col("vec_id"))
      .limit(k).select("q").collect().map(_.getSeq[Long](0).toArray).toSeq
    for (_ <- 0 until iters) {
      val sums = q.withColumn("cell", Ann.portableCellOfDeclarative(col("q"), cents))
        .select(col("cell"), posexplode(col("q"))).toDF("cell", "pos", "v")
        .groupBy("cell", "pos").agg(sum("v"), count(lit(1))).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      cents = cents.zipWithIndex.map { case (old, j) =>
        if (!sums.contains((j.toLong, 0))) old
        else Array.tabulate(dim) { i =>
          val (s, n) = sums((j.toLong, i)); Math.floorDiv(s, n)
        }
      }
    }
    cents
  }

  test("one-pass Lloyd's: bit-identical to the grouped aggregate; empty cells keep; overflow throws") {
    import spark.implicits._
    def check(q: org.apache.spark.sql.DataFrame, dim: Int, k: Int,
        iters: Int): Seq[Seq[Long]] = {
      val got = Ann.portableKmeansCentroidsQuantized(q, "vec_id", "q", dim,
        k, iters, "pkmeans").map(_.toSeq)
      assert(got == groupedLloyds(q, dim, k, iters, "pkmeans").map(_.toSeq))
      got
    }
    val emb = Ann.portableAssignWithCentroids(
        Tables.embeddings(spark, sf).select("vec_id", "embedding"),
        "vec_id", "embedding", Seq(Array.fill(64)(0L)))
      .select("vec_id", "q").repartition(3)
    check(emb, 64, 8, 3)
    // two distinct vectors for four cells: the seeds repeat, ties go to
    // the lower cell, so at least two cells stay empty and keep their seed
    val two = (0L until 40L).map(i => (i, Seq(i % 2 * 1000L, -7L, 3L)))
      .toDF("vec_id", "q")
    val cents = check(two, 3, 4, 2)
    assert(cents.size == 4 && cents.distinct.size <= 2, cents)
    // overflow fails loudly, inside a partition and across partials
    val big = Seq((1L, Seq(Long.MaxValue - 1L)), (2L, Seq(Long.MaxValue - 1L)))
      .toDF("vec_id", "q")
    Seq(big.coalesce(1), big.repartition(2)).foreach { df =>
      val e = intercept[Exception](
        Ann.portableKmeansCentroidsQuantized(df, "vec_id", "q", 1, 1, 1))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), e)
      intercept[Exception](groupedLloyds(df, 1, 1, 1, "pkmeans"))
    }
  }
}
