package graft.streaming

import graft.{FaultFs, SparkSpec}
import graft.core.Tables
import graft.dedup.Dedup
import graft.operators.Sinks
import org.apache.spark.sql.functions._

class DedupStreamSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$name").toString

  test("streaming ingest dedups each batch against the persistent index") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").cache()
    val docsDir = tmp("ds_docs"); val indexPath = tmp("ds_idx") + "/index"
    val pairsPath = tmp("ds_pairs"); val survivorsPath = tmp("ds_surv")
    val checkpoint = tmp("ds_ckpt")
    val schema = docs.schema

    // three ingest rounds, landed and processed one file per batch
    val q = DedupStream.dedupIngest(spark, docsDir, schema, indexPath,
      pairsPath, survivorsPath, checkpoint, maxFilesPerTrigger = 1)
    try {
      for (r <- 0 until 3) {
        // land one flat file per round (the file source does not recurse)
        val stage = tmp(s"ds_stage$r") + "/out"
        docs.filter($"doc_id" % 3 === r).coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(docsDir, f"round_$r%03d.parquet"))
        q.processAllAvailable()
      }
    } finally q.stop()

    val survivors = spark.read.parquet(s"$survivorsPath/batch_id=*")
    val pairs = spark.read.parquet(s"$pairsPath/batch_id=*")
    val index = spark.read.parquet(indexPath)

    // index holds exactly the survivors' signatures
    val survIds = survivors.select("doc_id").as[Long].collect().toSet
    assert(index.select("doc_id").as[Long].collect().toSet == survIds)
    // the data has planted near-dups, and some cross batches
    assert(pairs.count() > 0)
    val crossBatch = pairs.filter($"a_id" % 3 =!= $"b_id" % 3)
    assert(crossBatch.count() > 0)
    // every non-survivor is linked by a recorded pair to some doc
    val dropped = docs.select("doc_id").as[Long].collect().toSet -- survIds
    val paired = pairs.select($"a_id".as("id"))
      .unionByName(pairs.select($"b_id".as("id")))
      .as[Long].collect().toSet
    assert(dropped.subsetOf(paired))
    // survivors are pairwise LSH-clean: a full recompute over them
    // finds no pair at the ingest threshold
    val residual = Dedup.minhashLshPairs(
      docs.join(survivors.select("doc_id"), Seq("doc_id"), "left_semi"),
      "doc_id", "text", 3, 64, 16, 0.5)
    assert(residual.isEmpty)
  }

  test("containment ingest: accumulated pairs equal the batch answer for any split") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").cache()
    // the whole-corpus batch answer the streamed ingest must reproduce
    val expected = Dedup.minhashContainmentPairs(docs, "doc_id", "text",
        n = 3, k = 64, bands = 32, threshold = 0.8)
      .select("src_id", "dst_id", "containment")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(expected.nonEmpty) // the corpus plants containment pairs

    val docsDir = tmp("dsc_docs"); val indexPath = tmp("dsc_idx") + "/index"
    val pairsPath = tmp("dsc_pairs"); val checkpoint = tmp("dsc_ckpt")
    val q = DedupStream.containmentIngest(spark, docsDir, docs.schema,
      indexPath, pairsPath, checkpoint, maxFilesPerTrigger = 1)
    try {
      for (r <- 0 until 3) {
        val stage = tmp(s"dsc_stage$r") + "/out"
        docs.filter($"doc_id" % 3 === r).coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(docsDir, f"round_$r%03d.parquet"))
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.read.parquet(s"$pairsPath/batch_id=*")
      .select("src_id", "dst_id", "containment")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // batch-split invariance: exactly the batch pair set, each pair once
    assert(streamed.length == streamed.toSet.size, "duplicate pairs")
    assert(streamed.toSet == expected)
    // the index kept EVERY document (containment is a report, not a
    // survivor rule), so later arrivals probe the full corpus
    val indexed = spark.read.parquet(indexPath)
      .select("doc_id").as[Long].collect().toSet
    val withShingles = Dedup.minhashIndex(docs, "doc_id", "text", 3)
      .select("doc_id").as[Long].collect().toSet
    assert(indexed == withShingles)
    // and some recorded pair crosses batches (the index actually served)
    assert(streamed.exists { case (s_, d_, _) => s_ % 3 != d_ % 3 })
  }

  test("signature ingest: accumulated hamming pairs equal the one-shot self-join") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").cache()
    val sigs = docs.select($"doc_id",
      Dedup.simhash64($"text").as("sig")).cache()
    val expected = Dedup
      .hammingPairsFromSignatures(sigs, "doc_id", "sig", maxHamming = 3)
      .select("a_id", "b_id", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(expected.nonEmpty)

    val indexPath = tmp("dss_idx") + "/index"
    val pairsPath = tmp("dss_pairs")
    // drive the batch API directly over a 3-way split of the corpus
    (0 until 3).foreach { r =>
      DedupStream.processSignatureBatch(
        sigs.filter($"doc_id" % 3 === r), r.toLong,
        indexPath, pairsPath, "doc_id", "sig", maxHamming = 3)
    }
    val streamed = spark.read.parquet(s"$pairsPath/batch_id=*")
      .select("a_id", "b_id", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(streamed.length == streamed.toSet.size, "duplicate pairs")
    assert(streamed.toSet == expected)
    // cross-batch pairs exist (the index actually served)
    assert(streamed.exists { case (a, b, _) => a % 3 != b % 3 })
    // the index keeps every signature (near-dup monitoring is a
    // report here; survivor rules are the LSH ingest's job)
    assert(spark.read.parquet(indexPath).count() == docs.count())
  }

  test("embedding ingest: accumulated cosine pairs equal the one-shot self-join") {
    import graft.similarity.Ann
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .cache()
    def bucketOf(v: org.apache.spark.sql.Column) =
      Ann.portableLshBucket(v, nBits = 6, dim = 64)
    val expected = Dedup.embeddingNearDupPairs(
        emb.withColumn("block", bucketOf($"embedding")),
        "vec_id", "embedding", "block", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty)

    val indexPath = tmp("dse_idx") + "/index"
    val pairsPath = tmp("dse_pairs")
    // crash debris: index tree created, nothing committed — the replay
    // must read it as empty, not throw on schema inference
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(indexPath, "batch_id=0", "_temporary"))
    // 3-way arrival split, with batch 0 re-sending its own rows
    // (within-batch duplicate ids must index once)
    (0 until 3).foreach { r =>
      val slice = emb.filter($"vec_id" % 3 === r)
      DedupStream.processEmbeddingBatch(
        if (r == 0) slice.unionAll(slice) else slice, r.toLong,
        indexPath, pairsPath, "vec_id", "embedding", bucketOf,
        threshold = 0.4)
    }
    val streamed = spark.read.parquet(s"$pairsPath/batch_id=*")
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(streamed.length == streamed.toSet.size, "duplicate pairs")
    assert(streamed.toSet == expected)
    // cross-batch pairs exist (the index actually served)
    assert(streamed.exists { case (a, b) => a % 3 != b % 3 })
    // the index keeps every vector exactly once (a report, like the
    // containment/signature monitors)
    val ids = spark.read.parquet(indexPath).select("vec_id").as[Long]
      .collect().toSeq
    assert(ids.length == ids.distinct.length && ids.length == emb.count())
  }

  test("in-stream compaction cadence: answers unchanged, prefix folded under the running query") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").cache()
    val expected = Dedup.minhashContainmentPairs(docs, "doc_id", "text",
        n = 3, k = 64, bands = 32, threshold = 0.8)
      .select("src_id", "dst_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val docsDir = tmp("dscc_docs"); val indexPath = tmp("dscc_idx") + "/index"
    val pairsPath = tmp("dscc_pairs"); val checkpoint = tmp("dscc_ckpt")
    val q = DedupStream.containmentIngest(spark, docsDir, docs.schema,
      indexPath, pairsPath, checkpoint, maxFilesPerTrigger = 1,
      compactEvery = Some(2))
    try {
      for (r <- 0 until 4) {
        val stage = tmp(s"dscc_stage$r") + "/out"
        docs.filter($"doc_id" % 4 === r).coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(docsDir, f"round_$r%03d.parquet"))
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.read.parquet(s"$pairsPath/batch_id=*")
      .select("src_id", "dst_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(streamed.length == streamed.toSet.size, "duplicate pairs")
    assert(streamed.toSet == expected)
    // batch 2 folded 0-1, batch 3's dir is live, batch 2's own dir was
    // NOT folded by its own trigger (the N-1 bound)
    val dirs = new java.io.File(indexPath).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq
    assert(dirs == Seq("batch_id=1", "batch_id=2", "batch_id=3"), dirs)
    assert(spark.read.parquet(indexPath).count() ==
      Dedup.minhashIndex(docs, "doc_id", "text", 3).count())
  }

  test("index compaction folds the committed prefix; ingest continues identically") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").cache()
    def run(compactAfter: Option[Long]): (Seq[(Long, Long)], String) = {
      val indexPath = tmp("dsc_idx") + "/index"
      val pairsPath = tmp("dsc_pairs")
      (0 until 4).foreach { r =>
        DedupStream.processContainmentBatch(
          docs.filter($"doc_id" % 4 === r), r.toLong, indexPath, pairsPath,
          "doc_id", "text")
        compactAfter.filter(_ == r.toLong).foreach(w =>
          DedupStream.compactIndex(spark, indexPath, w))
      }
      val pairs = spark.read.parquet(s"$pairsPath/batch_id=*")
        .select("src_id", "dst_id").as[(Long, Long)].collect().sorted.toSeq
      (pairs, indexPath)
    }
    val (plain, _) = run(None)
    val (compacted, indexPath) = run(Some(1L))
    // identical accumulated pair sets — compaction is a pure relayout
    assert(compacted == plain && plain.nonEmpty)
    // the tree now holds ONE folded dir for batches 0-1 plus 2 and 3
    val dirs = new java.io.File(indexPath).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq
    assert(dirs == Seq("batch_id=1", "batch_id=2", "batch_id=3"))
    // row set intact
    assert(spark.read.parquet(indexPath).count() == docs.count())

    // crash repair, roll BACK: a compaction that crashed before its
    // commit record landed leaves a stage, which the next entry drops
    val next = new java.io.File(Sinks.partitionStage(indexPath))
    FaultFs.installed(spark) {
      assert(FaultFs.crashing(FaultFs.PartitionCommit)(_.op == "rename")(
        DedupStream.compactIndex(spark, indexPath, 2L)))
    }
    assert(next.exists())
    DedupStream.compactIndex(spark, indexPath, 2L)
    assert(!next.exists())
    assert(new java.io.File(indexPath).listFiles()
      .count(_.getName.startsWith("batch_id=")) == 2) // 0-2 folded, 3 live

    // crash repair, roll FORWARD: committed, and every source dir
    // already dropped — the stage is the only full copy and must
    // promote (here exercised via compactIndex's entry repair)
    val rows = spark.read.parquet(indexPath).count()
    val stage = new java.io.File(Sinks.partitionStage(indexPath))
    val victim = new java.io.File(indexPath, "batch_id=2")
    assert(victim.exists())
    FaultFs.installed(spark) {
      assert(FaultFs.crashing(FaultFs.PartitionCommit)(c => c.op == "rename" &&
          c.path.endsWith("_pstage/batch_id=3"))(
        DedupStream.compactIndex(spark, indexPath, 3L)))
    }
    assert(!victim.exists()) // the crashed call dropped the sources
    DedupStream.compactIndex(spark, indexPath, 3L) // entry repair promotes
    assert(!stage.exists())
    assert(new java.io.File(indexPath).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).toSeq
      == Seq("batch_id=3"))
    assert(spark.read.parquet(indexPath).count() == rows)
  }

  test("retireIds: affected partitions rewritten, untouched partitions not; re-sent id re-scores") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text").cache()
    val indexPath = tmp("dsrt_idx") + "/index"
    val pairsPath = tmp("dsrt_pairs")
    (0 until 2).foreach { r =>
      DedupStream.processContainmentBatch(docs.filter($"doc_id" % 2 === r),
        r.toLong, indexPath, pairsPath, "doc_id", "text")
    }
    val all = spark.read.parquet(indexPath).select("doc_id").as[Long]
      .collect().toSet
    // retire ids living in batch 0 ONLY (doc_id % 2 == 0): batch 1's
    // partition must not be rewritten
    val retired = all.filter(id => id % 2 == 0 && id % 10 == 0)
    assert(retired.nonEmpty)
    val b1Files = new java.io.File(indexPath, "batch_id=1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified)).sorted.toSeq
    DedupStream.retireIds(spark, indexPath,
      retired.toSeq.toDF("doc_id"), "doc_id")
    assert(spark.read.parquet(indexPath).select("doc_id").as[Long]
      .collect().toSet == all -- retired)
    assert(new java.io.File(indexPath, "batch_id=1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified)).sorted.toSeq == b1Files,
      "unaffected partition was rewritten")
    // retiring ids that are not in the tree is a no-op
    DedupStream.retireIds(spark, indexPath,
      Seq(-1L, -2L).toDF("doc_id"), "doc_id")
    assert(spark.read.parquet(indexPath).select("doc_id").as[Long]
      .collect().toSet == all -- retired)
    // re-sent retired ids pass the fresh-id guard and re-index
    DedupStream.processContainmentBatch(
      docs.filter($"doc_id".isin(retired.toSeq: _*)), 2L,
      indexPath, pairsPath, "doc_id", "text")
    val after = spark.read.parquet(indexPath).select("doc_id").as[Long]
      .collect().toSeq
    assert(after.toSet == all && after.length == after.distinct.length)
  }

  test("retire repair: no marker rolls back, marker rolls forward (live dir already dropped)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter($"doc_id" < 200)
    val indexPath = tmp("dsrr_idx") + "/index"
    val pairsPath = tmp("dsrr_pairs")
    (0 until 2).foreach { r =>
      DedupStream.processContainmentBatch(docs.filter($"doc_id" % 2 === r),
        r.toLong, indexPath, pairsPath, "doc_id", "text")
    }
    val before = spark.read.parquet(indexPath).select("doc_id").as[Long]
      .collect().toSet

    // roll BACK: a retire that crashed before its commit record landed
    // leaves a stage, which the next entry drops; live intact
    val next = new java.io.File(Sinks.partitionStage(indexPath))
    val retired = before.filter(id => id % 2 == 0 && id < 50).toSeq
      .toDF("doc_id")
    FaultFs.installed(spark) {
      assert(FaultFs.crashing(FaultFs.PartitionCommit)(_.op == "rename")(
        DedupStream.retireIds(spark, indexPath, retired, "doc_id")))
    }
    assert(next.exists())
    DedupStream.retireIds(spark, indexPath, Seq(-1L).toDF("doc_id"),
      "doc_id") // entry repair
    assert(!next.exists())
    assert(spark.read.parquet(indexPath).select("doc_id").as[Long]
      .collect().toSet == before)

    // roll FORWARD: committed, and batch 0's live partition already
    // dropped by the crashed promote — the stage is the only full copy
    // (drop doc_id < 50 from batch 0; batch 1 is untouched)
    FaultFs.installed(spark) {
      assert(FaultFs.crashing(FaultFs.PartitionCommit)(c => c.op == "rename" &&
          c.path.endsWith("_pstage/batch_id=0"))(
        DedupStream.retireIds(spark, indexPath, retired, "doc_id")))
    }
    assert(!new java.io.File(indexPath, "batch_id=0").exists())
    // any index load repairs: drive one through a batch processor
    DedupStream.processContainmentBatch(
      docs.filter($"doc_id" === -1), 2L, indexPath, pairsPath,
      "doc_id", "text")
    assert(!next.exists())
    assert(spark.read.parquet(indexPath)
      .filter($"batch_id" < 2).select("doc_id").as[Long].collect().toSet
      == before.filter(id => !(id % 2 == 0 && id < 50)))
  }

  test("survivor-family retire + re-ingest: guard bypassed only after retire, rule re-runs") {
    import spark.implicits._
    val mk = (id: Long, t: String) => (id, t)
    val base = Seq(
      mk(1L, "alpha beta gamma delta epsilon zeta"),
      mk(2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      mk(3L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val indexPath = tmp("dsrv_idx") + "/index"
    val pairsPath = tmp("dsrv_pairs"); val survPath = tmp("dsrv_surv")
    DedupStream.processBatch(base.filter($"doc_id" <= 2), 0L, indexPath,
      pairsPath, survPath, "doc_id", "text")
    DedupStream.processBatch(base.filter($"doc_id" === 3), 1L, indexPath,
      pairsPath, survPath, "doc_id", "text")
    def survivors() = spark.read.parquet(s"$survPath/batch_id=*")
      .select("doc_id").as[Long].collect().toSet
    assert(survivors() == Set(1L, 3L)) // 2 dropped against 1

    // WITHOUT retire, a re-sent id is the same document: guard drops it
    DedupStream.processBatch(base.filter($"doc_id" === 1), 2L, indexPath,
      pairsPath, survPath, "doc_id", "text")
    assert(survivors() == Set(1L, 3L))
    assert(spark.read.parquet(indexPath).count() == 2)

    // retire id 1 from index AND survivor trees, then re-send it:
    // it re-enters as a fresh arrival, has no indexed near-dup left
    // (2 was never indexed), and survives again
    DedupStream.retireIds(spark, indexPath, Seq(1L).toDF("doc_id"), "doc_id")
    DedupStream.retireIds(spark, survPath, Seq(1L).toDF("doc_id"), "doc_id")
    assert(survivors() == Set(3L))
    DedupStream.processBatch(base.filter($"doc_id" === 1), 3L, indexPath,
      pairsPath, survPath, "doc_id", "text")
    assert(survivors() == Set(1L, 3L))
    // pairs are HISTORY: the batch-0 pair (1,2) is still on record
    assert(spark.read.parquet(s"$pairsPath/batch_id=0")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      == Set((1L, 2L)))
  }

  test("retire queue drains between micro-batches: deletion + re-crawl without stopping the stream") {
    import spark.implicits._
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (3L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val docsDir = tmp("dsq_docs"); val indexPath = tmp("dsq_idx") + "/index"
    val pairsPath = tmp("dsq_pairs"); val survPath = tmp("dsq_surv")
    val ckpt = tmp("dsq_ckpt"); val queue = tmp("dsq_queue") + "/queue"
    def land(df: org.apache.spark.sql.DataFrame, dir: String,
        name: String): Unit = {
      val stage = tmp(s"dsq_stage_$name") + "/out"
      df.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dir, s"$name.parquet"))
    }
    val q = DedupStream.dedupIngest(spark, docsDir, base.schema, indexPath,
      pairsPath, survPath, ckpt, maxFilesPerTrigger = 1,
      retireQueue = Some(queue))
    try {
      land(base, docsDir, "round_000")
      q.processAllAvailable()
      def survivors() = spark.read.parquet(s"$survPath/batch_id=*")
        .select("doc_id").as[Long].collect().toSet
      assert(survivors() == Set(1L, 3L))
      // deletion request lands, then the SAME id re-arrives (re-crawl):
      // the next trigger drains the queue before processing, so the
      // re-sent doc passes the fresh-id guard and re-scores
      land(Seq(1L).toDF("doc_id"), queue, "req_000")
      land(base.filter($"doc_id" === 1), docsDir, "round_001")
      q.processAllAvailable()
      assert(survivors() == Set(1L, 3L))
      // ...and the re-ingested copy lives in batch 1, not batch 0
      assert(spark.read.parquet(s"$survPath/batch_id=1")
        .select("doc_id").as[Long].collect().toSeq == Seq(1L))
      assert(spark.read.parquet(indexPath)
        .filter($"doc_id" === 1).select($"batch_id".cast("long")).as[Long]
        .head() == 1L)
      // the processed request is archived, not re-applied
      assert(new java.io.File(queue, "_done").listFiles()
        .exists(_.getName == "req_000.parquet"))
      assert(!new java.io.File(queue, "req_000.parquet").exists())
      // drains with an empty queue are no-ops (the steady state)
      land(base.filter($"doc_id" === 3), docsDir, "round_002") // re-sent id: guard drops it
      q.processAllAvailable()
      assert(survivors() == Set(1L, 3L))
    } finally q.stop()
  }

  test("livePairs filters the history report against the retired set (both endpoint sides)") {
    import spark.implicits._
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // dup of 1
      (3L, "one two three four five six seven"),
      (4L, "one two three four five six seven")    // dup of 3
    ).toDF("doc_id", "text")
    val indexPath = tmp("dslp_idx") + "/index"
    val pairsPath = tmp("dslp_pairs"); val survPath = tmp("dslp_surv")
    DedupStream.processBatch(base, 0L, indexPath, pairsPath, survPath,
      "doc_id", "text")
    val report = spark.read.parquet(pairsPath)
    assert(report.select("a_id", "b_id").as[(Long, Long)].collect().toSet
      == Set((1L, 2L), (3L, 4L)))
    // retiring 1 kills the (1,2) pair from the LIVE view whichever
    // side it sits on; the report itself is untouched history
    val live = DedupStream.livePairs(report, Seq(1L).toDF("doc_id"),
      "doc_id")
    assert(live.select("a_id", "b_id").as[(Long, Long)].collect().toSet
      == Set((3L, 4L)))
    val liveB = DedupStream.livePairs(report, Seq(4L).toDF("doc_id"),
      "doc_id")
    assert(liveB.select("a_id", "b_id").as[(Long, Long)].collect().toSet
      == Set((1L, 2L)))
    // queue-archive form: the _done files ARE the ledger
    val queue = tmp("dslp_queue") + "/queue"
    // nothing drained yet → whole report live
    assert(DedupStream.livePairs(spark, pairsPath, queue, "doc_id",
      "a_id", "b_id").count() == 2)
    val stage = tmp("dslp_stage") + "/out"
    Seq(3L).toDF("doc_id").coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(queue))
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(queue, "req.parquet"))
    DedupStream.drainRetireQueue(spark, queue,
      Seq(indexPath -> Nil, survPath -> Nil), "doc_id")
    assert(DedupStream.livePairs(spark, pairsPath, queue, "doc_id",
        "a_id", "b_id")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      == Set((1L, 2L)))
  }

  test("queue drain skips torn request files and overwrites same-named archive leftovers") {
    import spark.implicits._
    val indexPath = tmp("dsqt_idx") + "/index"
    val queue = tmp("dsqt_queue") + "/queue"
    DedupStream.processContainmentBatch(
      Tables.documents(spark, sf).select("doc_id", "text")
        .filter($"doc_id" < 100),
      0L, indexPath, tmp("dsqt_pairs"), "doc_id", "text")
    def land(ids: Seq[Long], name: String): Unit = {
      val stage = tmp(s"dsqt_stage_$name") + "/out"
      ids.toDF("doc_id").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(queue))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(queue, s"$name.parquet"))
    }
    // a torn in-place write (no parquet footer) sits beside a good
    // request: the drain must apply the good one and leave the torn
    // one pending instead of dying inside foreachBatch
    land(Seq(1L), "req_good")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(queue, "torn.parquet"),
      Array.fill[Byte](64)(0x42))
    assert(DedupStream.drainRetireQueue(spark, queue,
      Seq(indexPath -> Nil), "doc_id") == 1)
    assert(spark.read.parquet(indexPath).filter($"doc_id" === 1L).isEmpty)
    assert(new java.io.File(queue, "torn.parquet").exists(),
      "torn file should stay pending")
    assert(new java.io.File(queue, "_done/req_good.parquet").exists())
    // a requester reusing an archived name (replayed request): the
    // archive overwrites instead of throwing
    land(Seq(2L), "req_good")
    assert(DedupStream.drainRetireQueue(spark, queue,
      Seq(indexPath -> Nil), "doc_id") == 1)
    assert(spark.read.parquet(indexPath).filter($"doc_id" === 2L).isEmpty)
    assert(!new java.io.File(queue, "req_good.parquet").exists())
    // a READABLE request under the wrong column name can never
    // self-heal: it quarantines to _bad (visible to an operator)
    // instead of being silently re-skipped forever
    val stage2 = tmp("dsqt_stage_wrong") + "/out"
    Seq(7L).toDF("id").coalesce(1).write.parquet(stage2)
    val part2 = new java.io.File(stage2).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part2.toPath,
      java.nio.file.Paths.get(queue, "req_wrong.parquet"))
    assert(DedupStream.drainRetireQueue(spark, queue,
      Seq(indexPath -> Nil), "doc_id") == 0)
    assert(!new java.io.File(queue, "req_wrong.parquet").exists())
    assert(new java.io.File(queue, "_bad/req_wrong.parquet").exists())
    assert(spark.read.parquet(indexPath).filter($"doc_id" === 7L)
      .count() == 1, "wrong-schema request must not retire anything")
  }

  test("property: queue drains interleaved with in-stream compaction keep tree = ingested minus retired") {
    import spark.implicits._
    // BOTH maintenance ops fire between the same micro-batches of one
    // RUNNING stream: containmentIngest drains the retire queue before
    // each batch and folds the prefix after every 2nd (the shipped
    // cadence wiring, not a hand-driven simulation)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter($"doc_id" < 240).cache()
    val docsDir = tmp("dsqc_docs"); val indexPath = tmp("dsqc_idx") + "/index"
    val pairsPath = tmp("dsqc_pairs"); val ckpt = tmp("dsqc_ckpt")
    val queue = tmp("dsqc_queue") + "/queue"
    def land(df: org.apache.spark.sql.DataFrame, dir: String,
        name: String): Unit = {
      val stage = tmp(s"dsqc_stage_$name") + "/out"
      df.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dir, s"$name.parquet"))
    }
    val q = DedupStream.containmentIngest(spark, docsDir, docs.schema,
      indexPath, pairsPath, ckpt, maxFilesPerTrigger = 1,
      compactEvery = Some(2), retireQueue = Some(queue))
    val rng = new scala.util.Random(15L)
    var ingested = Set.empty[Long]
    var retired = Set.empty[Long]
    try {
      (0 until 6).foreach { round =>
        // a retire request for a seeded subset of what is already in
        // (plus a never-ingested id) lands BEFORE the round's docs —
        // the drain fires first, then the batch, then maybe the fold
        val subset = ingested.filter(_ => rng.nextDouble() < 0.2) ++
          Seq(900000L + round)
        land(subset.toSeq.toDF("doc_id"), queue, f"req_$round%03d")
        val arriving = docs.filter($"doc_id" % 6 === round)
        land(arriving, docsDir, f"round_$round%03d")
        retired ++= subset
        ingested ++= arriving.select("doc_id").as[Long].collect()
        q.processAllAvailable()
        val got = spark.read.parquet(indexPath).select("doc_id").as[Long]
          .collect().toSeq
        // arrivals are disjoint across rounds (doc_id % 6) and each
        // request only names earlier rounds' ids, so nothing ever
        // re-ingests a retired id: the invariant is exactly
        // tree = ingested − retired, at every round, through both
        // maintenance ops
        assert(got.toSet == ingested -- retired, s"round $round diverged")
        assert(got.length == got.distinct.length, s"round $round dup rows")
      }
    } finally q.stop()
  }

  test("retire probe: footer stats bound the candidate partitions; answers unchanged") {
    import spark.implicits._
    // range-sliced tree: each batch dir holds a contiguous id range, so
    // footer min/max genuinely discriminates
    val treeP = tmp("dsfs_tree") + "/tree"
    (0L until 300L).map(i => (i, s"sig$i")).toDF("doc_id", "payload")
      .withColumn("batch_id", floor($"doc_id" / 50))
      .repartition($"batch_id")
      .write.partitionBy("batch_id").parquet(treeP)
    // ids confined to batch dirs 1 and 4, plus a never-stored id far
    // outside every range
    val ids = Seq(55L, 57L, 230L, 900000L).toDF("doc_id")
    val cand = DedupStream.statsCandidateParts(spark, treeP, "batch_id=",
      ids, "doc_id")
    assert(cand.contains(Seq(1L, 4L)),
      s"stats candidates should be exactly dirs 1 and 4, got $cand")
    // the retire itself: answers identical to the unpruned contract
    DedupStream.retireIds(spark, treeP, ids, "doc_id")
    val left = spark.read.parquet(treeP).select("doc_id").as[Long]
      .collect().toSet
    assert(left == (0L until 300L).toSet -- Set(55L, 57L, 230L))
    // untouched dirs were not rewritten: still exactly one data file
    // in a dir the stats excluded
    assert(new java.io.File(treeP, "batch_id=2").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
    // ids with no overlap anywhere: probe proves no-op without a scan
    assert(DedupStream.statsCandidateParts(spark, treeP, "batch_id=",
      Seq(800000L).toDF("doc_id"), "doc_id").contains(Nil))
    // non-integral id type: stats path declines, caller falls back
    val strTree = tmp("dsfs_str") + "/tree"
    Seq(("a", 0L), ("b", 1L)).toDF("doc_id", "batch_id")
      .write.partitionBy("batch_id").parquet(strTree)
    assert(DedupStream.statsCandidateParts(spark, strTree, "batch_id=",
      Seq("a").toDF("doc_id"), "doc_id").isEmpty)
  }

  test("stats sidecar: blooms prune hashed layouts, travel with maintenance, answers unchanged") {
    import spark.implicits._
    // MOD-sliced tree: every dir spans the full id range, so footer
    // min/max prunes NOTHING (the documented worst case) — the sidecar
    // bloom must prune to ~the id-holding dirs
    val treeP = tmp("dssc_tree") + "/tree"
    (0L until 300L).map(i => (i, s"sig$i")).toDF("doc_id", "payload")
      .withColumn("batch_id", pmod($"doc_id", lit(6)))
      .repartition($"batch_id")
      .write.partitionBy("batch_id").parquet(treeP)
    val ids = Seq(55L, 57L).toDF("doc_id") // both live in dirs 1 and 3
    // without sidecars: stats can't discriminate — every dir a candidate
    assert(DedupStream.statsCandidateParts(spark, treeP, "batch_id=",
      ids, "doc_id").contains(0L to 5L))
    graft.streaming.StatsSidecar.writeForTree(spark, treeP,
      "batch_id=", "doc_id")
    // with sidecars: bloom membership bounds the candidates (a ~0.3%
    // fp could admit an extra dir; never fewer than the true holders)
    val cand = DedupStream.statsCandidateParts(spark, treeP, "batch_id=",
      ids, "doc_id").get
    assert(cand.contains(1L) && cand.contains(3L) && cand.length <= 3,
      s"bloom should prune the non-holding dirs, got $cand")
    // a provably-absent id set proves absence from sidecars alone
    assert(DedupStream.statsCandidateParts(spark, treeP, "batch_id=",
      Seq(900000L).toDF("doc_id"), "doc_id").contains(Nil))
    // row counts come from the sidecars too
    assert(DedupStream.footerRowCount(spark, treeP, "batch_id=") == 300L)
    // the retire REWRITES dirs 1 and 3, staging fresh min/max/rows
    // sidecars with the filtered copies and CARRYING the old blooms (a
    // retire only removes rows, so the carried filter is a sound
    // SUPERSET — re-probing the retired ids may still name the dirs
    // that held them, never any other dir, and the semi-join stays the
    // exact decision); row counts reflect the removal exactly
    DedupStream.retireIds(spark, treeP, ids, "doc_id")
    val left = spark.read.parquet(treeP).select("doc_id").as[Long]
      .collect().toSet
    assert(left == (0L until 300L).toSet -- Set(55L, 57L))
    val reprobe = DedupStream.statsCandidateParts(spark, treeP,
      "batch_id=", ids, "doc_id").get
    assert(reprobe.toSet.subsetOf(Set(1L, 3L)),
      s"carried blooms must never admit new dirs, got $reprobe")
    assert(DedupStream.footerRowCount(spark, treeP, "batch_id=") == 298L)
    // compaction writes the folded target's sidecar when given the id
    // column; the folded bulk then decides from one read
    DedupStream.compactIndex(spark, treeP, upToBatch = 5L,
      idCol = Some("doc_id"))
    assert(new java.io.File(treeP + "/batch_id=5",
      graft.streaming.StatsSidecar.FileName).exists())
    assert(DedupStream.footerRowCount(spark, treeP, "batch_id=") == 298L)
    val cand2 = DedupStream.statsCandidateParts(spark, treeP, "batch_id=",
      Seq(56L).toDF("doc_id"), "doc_id")
    assert(cand2.contains(Seq(5L)))
    // a sidecar written for ANOTHER id column is ignored (footer
    // fallback), never trusted
    val otherP = tmp("dssc_other") + "/tree"
    (0L until 10L).map(i => (i, i + 1000L)).toDF("doc_id", "other_id")
      .withColumn("batch_id", lit(0L)).repartition($"batch_id")
      .write.partitionBy("batch_id").parquet(otherP)
    graft.streaming.StatsSidecar.writeForTree(spark, otherP,
      "batch_id=", "other_id")
    assert(DedupStream.statsCandidateParts(spark, otherP, "batch_id=",
      Seq(5L).toDF("doc_id"), "doc_id").contains(Seq(0L)))
  }

  test("stats sidecar: rows counts null-id rows, id probes still prune them") {
    import spark.implicits._
    // r18 advice: the sidecar's rows field feeds footerRowCount, whose
    // consumer is the capacity-migration TRIGGER (committed corpus
    // size) — counting only non-null ids undercounted n on trees with
    // null ids. Null ids can never match a probed long, so the id
    // probes must still prune through the non-null min/max/bloom.
    val treeP = tmp("dsnn_tree") + "/tree"
    val rows = (0L until 100L).map(i => (Some(i), 0L)) ++
      (0 until 10).map(_ => (Option.empty[Long], 0L)) ++
      (0 until 5).map(_ => (Option.empty[Long], 1L)) // dir 1: ALL null
    rows.toDF("doc_id", "batch_id").repartition($"batch_id")
      .write.partitionBy("batch_id").parquet(treeP)
    graft.streaming.StatsSidecar.writeForTree(spark, treeP,
      "batch_id=", "doc_id")
    // committed corpus size counts EVERY row — null ids included
    assert(DedupStream.footerRowCount(spark, treeP, "batch_id=") == 115L)
    // a held id names only dir 0; the all-null dir prunes (its empty
    // id interval can hold no probed long)
    assert(DedupStream.statsCandidateParts(spark, treeP, "batch_id=",
      Seq(55L).toDF("doc_id"), "doc_id").contains(Seq(0L)))
    // absence still proves from sidecars alone
    assert(DedupStream.statsCandidateParts(spark, treeP, "batch_id=",
      Seq(900000L).toDF("doc_id"), "doc_id").contains(Nil))
    // writeForDir (the compaction path) agrees on the total-rows rule
    val dirP = treeP + "/batch_id=0"
    graft.streaming.StatsSidecar.writeForDir(spark,
      spark.read.parquet(dirP), dirP, "doc_id")
    assert(DedupStream.footerRowCount(spark, treeP, "batch_id=") == 115L)
    assert(DedupStream.statsCandidateParts(spark, treeP, "batch_id=",
      Seq(55L).toDF("doc_id"), "doc_id").contains(Seq(0L)))
  }

  test("property: interleaved retires and compactions always leave tree = ingested minus retired") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter($"doc_id" < 300).cache()
    val indexPath = tmp("dsrp_idx") + "/index"
    val pairsPath = tmp("dsrp_pairs")
    (0 until 4).foreach { r =>
      DedupStream.processContainmentBatch(docs.filter($"doc_id" % 4 === r),
        r.toLong, indexPath, pairsPath, "doc_id", "text")
    }
    val all = spark.read.parquet(indexPath).select("doc_id").as[Long]
      .collect().toSet
    val rng = new scala.util.Random(14L)
    var expected = all
    // 6 rounds: retire a seeded random subset (sometimes ids already
    // retired — idempotence; sometimes ids never ingested — no-op),
    // interleaved with compactions at varying bounds
    (0 until 6).foreach { round =>
      val subset = all.filter(_ => rng.nextDouble() < 0.15) ++
        Seq(900000L + round) // never-ingested id
      DedupStream.retireIds(spark, indexPath, subset.toSeq.toDF("doc_id"),
        "doc_id")
      expected = expected -- subset
      if (round % 2 == 1)
        DedupStream.compactIndex(spark, indexPath, upToBatch = 3L)
      val got = spark.read.parquet(indexPath).select("doc_id").as[Long]
        .collect().toSeq
      assert(got.toSet == expected && got.length == got.distinct.length,
        s"round $round: tree diverged")
    }
    // the tree stays ingest-able after the churn: a new batch against
    // the folded+retired prefix indexes exactly the fresh ids
    DedupStream.processContainmentBatch(
      docs.filter($"doc_id" % 4 === 0), 4L, indexPath, pairsPath,
      "doc_id", "text")
    val after = spark.read.parquet(indexPath).select("doc_id").as[Long]
      .collect().toSet
    assert(after == expected ++ all.filter(_ % 4 == 0))
  }

  test("containment batch: within-batch duplicate ids index once; empty crash debris readable") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter($"doc_id" < 150)
    val indexPath = tmp("dscw_idx") + "/index"
    val pairsPath = tmp("dscw_pairs")
    // crash debris: index tree created, nothing committed — the replay
    // must read it as empty, not throw on schema inference
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(indexPath, "batch_id=0", "_temporary"))
    DedupStream.processContainmentBatch(docs.unionAll(docs), 0L,
      indexPath, pairsPath, "doc_id", "text")
    val ids = spark.read.parquet(indexPath).select("doc_id").as[Long]
      .collect().toSeq
    assert(ids.length == ids.distinct.length && ids.length == docs.count())
  }

  test("replayed containment batch is a committed no-op") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter($"doc_id" < 150)
    val indexPath = tmp("dscr_idx") + "/index"
    val pairsPath = tmp("dscr_pairs")
    DedupStream.processContainmentBatch(docs, 0L, indexPath, pairsPath,
      "doc_id", "text")
    val pairsFirst = spark.read.parquet(s"$pairsPath/batch_id=0")
      .select("src_id", "dst_id").as[(Long, Long)].collect().sorted.toSeq
    val idxFirst = spark.read.parquet(indexPath)
      .select("doc_id").as[Long].collect().sorted.toSeq
    DedupStream.processContainmentBatch(docs, 0L, indexPath, pairsPath,
      "doc_id", "text")
    assert(spark.read.parquet(s"$pairsPath/batch_id=0")
      .select("src_id", "dst_id").as[(Long, Long)].collect().sorted.toSeq
      == pairsFirst)
    assert(spark.read.parquet(indexPath)
      .select("doc_id").as[Long].collect().sorted.toSeq == idxFirst)
  }

  test("foreachBatch bodies run ADAPTIVE plans (plain and cached)") {
    // ResolveWriteToStream disables AQE on the streaming session clone;
    // the ingestBody combinator (the ONE preamble every shipped wrapper
    // is built from — this spec pins the HELPER, so every wrapper
    // inherits it) must bring it back for the body's batch queries —
    // without it every per-batch shuffle runs at the full
    // shuffle-partition width (pure task-scheduling overhead at
    // micro-batch sizes). This pins the fix: a body aggregation and a
    // CACHED body aggregation both compile to adaptive plans inside an
    // ingestBody-built foreachBatch.
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter($"doc_id" < 30)
    val docsDir = tmp("aqe_docs"); val indexPath = tmp("aqe_idx") + "/index"
    val pairsPath = tmp("aqe_pairs"); val survivorsPath = tmp("aqe_surv")
    val checkpoint = tmp("aqe_ckpt")
    val stage = tmp("aqe_stage") + "/out"
    docs.coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(docsDir, "round_000.parquet"))
    @volatile var adaptivePlain = false
    @volatile var adaptiveCached = false
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(docsDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(DedupStream.ingestBody(spark) { (batch, batchId) =>
        def isAdaptive(df: org.apache.spark.sql.DataFrame): Boolean = {
          df.count()
          df.queryExecution.executedPlan.isInstanceOf[
            org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec]
        }
        adaptivePlain = isAdaptive(batch.groupBy($"doc_id" % 7).count())
        val pinned = batch.select($"doc_id").cache()
        try adaptiveCached =
          isAdaptive(pinned.groupBy($"doc_id" % 5).count())
        finally pinned.unpersist()
        // and the real processor still works under the restored confs
        DedupStream.processBatch(batch, batchId, indexPath, pairsPath,
          survivorsPath, "doc_id", "text")
      })
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(adaptivePlain, "plain body aggregation was not adaptive")
    assert(adaptiveCached, "cached body aggregation was not adaptive")
    assert(spark.read.parquet(s"$survivorsPath/batch_id=0").count() > 0)
  }

  test("ingestBody respects a parent session that deliberately disabled AQE") {
    // The restore exists to undo the STREAMING CLONE's forced disable,
    // never the user's choice (r15 advice): with AQE off on the parent
    // at stream-build time, the body must NOT force it back on — the
    // body's plans stay non-adaptive.
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter($"doc_id" < 20)
    val docsDir = tmp("aqeoff_docs"); val checkpoint = tmp("aqeoff_ckpt")
    val stage = tmp("aqeoff_stage") + "/out"
    docs.coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(docsDir, "round_000.parquet"))
    @volatile var cloneAdaptiveConf = "unset"
    @volatile var adaptivePlan = true
    val prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docsDir)
        .writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch(DedupStream.ingestBody(spark) { (batch, _) =>
          cloneAdaptiveConf =
            batch.sparkSession.conf.get("spark.sql.adaptive.enabled")
          val agg = batch.groupBy($"doc_id" % 3).count()
          agg.count()
          adaptivePlan = agg.queryExecution.executedPlan.isInstanceOf[
            org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec]
        })
        .start()
      try q.processAllAvailable() finally q.stop()
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
    assert(cloneAdaptiveConf == "false",
      s"body clone re-enabled AQE against the parent's deliberate " +
        s"disable (conf=$cloneAdaptiveConf)")
    assert(!adaptivePlan, "body plan compiled adaptive under a parent " +
      "that disabled AQE")
  }

  test("replayed batch is a committed no-op: outputs unchanged, index not double-appended") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter($"doc_id" < 100)
    val indexPath = tmp("dsr_idx") + "/index"
    val pairsPath = tmp("dsr_pairs"); val survivorsPath = tmp("dsr_surv")

    DedupStream.processBatch(docs, 0L, indexPath, pairsPath, survivorsPath,
      "doc_id", "text")
    val idxAfterFirst = spark.read.parquet(indexPath)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val survAfterFirst = spark.read.parquet(s"$survivorsPath/batch_id=0")
      .select("doc_id").as[Long].collect().sorted.toSeq

    // crash-replay of the same batch after its index partition committed:
    // the replay excludes its own batch_id=0 partition, recomputes the
    // identical result, and overwrites in place
    DedupStream.processBatch(docs, 0L, indexPath, pairsPath, survivorsPath,
      "doc_id", "text")
    assert(spark.read.parquet(indexPath)
      .select("doc_id").as[Long].collect().sorted.toSeq == idxAfterFirst)
    assert(spark.read.parquet(s"$survivorsPath/batch_id=0")
      .select("doc_id").as[Long].collect().sorted.toSeq == survAfterFirst)
  }
}
