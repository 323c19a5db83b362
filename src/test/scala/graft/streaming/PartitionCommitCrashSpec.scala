package graft.streaming

import graft.{FaultFs, SparkSpec}
import graft.operators.Sinks
import java.nio.file.{Files, Path => JPath}
import org.apache.spark.sql.functions._

/** The staged partition-replace commit ([[Sinks.commitPartitions]]),
  * checked at every crash point through each of its four callers, plus
  * the exact filesystem cost of each kind of commit (partitions, a
  * whole tree, a capacity migration) and of a clean-tree repair, and a
  * committed stage's fate when a full publish or a capacity migration
  * replaces or drops its tree.
  *
  * For each caller the op runs once uncrashed (the reference), then
  * once per mutating call of the commit on a fresh copy of the same
  * starting tree, crashing at that call. After each crash the next
  * entry (its repair) sees exactly the old state (crash before the
  * commit record landed) or the new one (after), by row set and
  * partition-dir set, and replaying the op converges to the
  * reference.
  *
  * The commit record's rename is always mutating call 2, so the crash
  * at call 2 leaves the fullest uncommitted stage (repair rolls back)
  * and the crash at call 3 the fullest committed one (repair replays
  * the whole promote). From those two states the repair is crashed in
  * turn at each of its own mutating calls — every call a repair can
  * make — and after each such crash a clean repair must again leave
  * the old or the new state. */
class PartitionCommitCrashSpec extends SparkSpec {
  import spark.implicits._

  type State = (Set[Seq[Any]], Set[String])

  private def tmp(name: String): JPath =
    Files.createTempDirectory(s"graft_$name")

  /** Rows and `<key>=<v>` dir names of the tree at `path`; an absent
    * tree reads as empty. */
  private def state(path: String): State = {
    val f = new java.io.File(path)
    val dirs = Option(f.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.contains("="))
      .map(_.getName).toSet
    def hasData(d: java.io.File): Boolean = Option(d.listFiles()).toSeq
      .flatten.exists(c => if (c.isDirectory) hasData(c)
        else c.getName.endsWith(".parquet"))
    val rows = if (dirs.isEmpty || !hasData(f)) Set.empty[Seq[Any]]
      else spark.read.parquet(path).collect().map(_.toSeq).toSet
    (rows, dirs)
  }

  /** Every crash point of one caller's commit and of the next entry's
    * repair; returns the number of commit crash points. */
  private def everyCrash(base: JPath, tree: String, op: JPath => Unit,
      entry: String => Unit): Int = FaultFs.installed(spark) {
    val at = (d: JPath) => d.resolve(tree).toString
    val old = state(at(base))
    val ref = FaultFs.copyTree(base)
    FaultFs.arm(FaultFs.PartitionCommit)(_ => false)
    try op(ref) finally FaultFs.disarm()
    val points = FaultFs.mutatingCalls
    val fresh = state(at(ref))
    assert(fresh != old, "the op must change the tree")
    def noStage(d: JPath) =
      assert(!new java.io.File(Sinks.partitionStage(at(d))).exists())
    noStage(ref)
    // the commit record's rename is mutating call 2
    def expect(d: JPath, n: Int, what: String): Unit =
      assert(state(at(d)) == (if (n <= 2) old else fresh),
        s"$what: not the ${if (n <= 2) "old" else "new"} state")
    (1 to points).foreach { n =>
      val d = FaultFs.copyTree(base)
      assert(FaultFs.crashing(FaultFs.PartitionCommit)(_.n == n)(op(d)),
        s"commit crash $n did not fire")
      var k = 1
      var repairCrashed = n == 2 || n == 3
      while (repairCrashed) {
        val r = FaultFs.copyTree(d)
        repairCrashed = FaultFs.crashing(FaultFs.Repair)(_.n == k)(
          entry(at(r)))
        if (repairCrashed) {
          entry(at(r))
          expect(r, n, s"commit crash $n, repair crash $k")
        }
        k += 1
      }
      entry(at(d))
      expect(d, n, s"commit crash $n")
      noStage(d)
      op(d)
      assert(state(at(d)) == fresh, s"commit crash $n: replay did not converge")
    }
    points
  }

  test("bucketedUpsert: every crash point of the commit and the repair") {
    val base = tmp("pc_upsert")
    val store = base.resolve("store").toString
    val rows = (1L to 40L).map(i => (i, s"v$i"))
    Sinks.bucketedUpsert(spark, rows.toDF("id", "v"), store, "id", buckets = 4)
    // one bucket rewritten (an update), one emptied (dropped)
    val bucketOf = rows.toDF("id", "v")
      .select($"id", pmod(xxhash64($"id"), lit(4L))).as[(Long, Long)]
      .collect().toMap
    val wiped = bucketOf.keys.toSeq.filter(bucketOf(_) != bucketOf(7L))
      .groupBy(bucketOf).minBy(_._1)._2
    val changes = ((7L, "V7", false) +: wiped.map(i => (i, "", true)))
      .toDF("id", "v", "removed")
    val points = everyCrash(base, "store",
      d => Sinks.bucketedUpsert(spark, changes, d.resolve("store").toString,
        "id", buckets = 4),
      Sinks.recoverSwap(spark, _))
    assert(points == 6) // record create + rename, 1 drop, 1 replace, stage
  }

  test("cell tree retire: every crash point of the commit and the repair") {
    val base = tmp("pc_cells")
    val serving = base.resolve("serving").toString
    (0L until 30L).map(i => (i, Seq(i, -i), i % 3)).toDF("vec_id", "q", "cell")
      .repartition($"cell").write.partitionBy("cell").parquet(serving)
    // cell 0 retires whole (dropped), cell 1 loses one row
    val ids = (Seq(1L) ++ (0L until 30L by 3)).toDF("vec_id")
    val points = everyCrash(base, "serving",
      d => AnnStream.retireIds(spark, d.resolve("serving").toString, ids,
        "vec_id"),
      Sinks.recoverSwap(spark, _))
    assert(points == 6)
  }

  test("index compaction: every crash point of the commit and the repair") {
    val base = tmp("pc_compact")
    val index = base.resolve("index").toString
    (0L until 30L).map(i => (i, s"d$i", i % 3)).toDF("doc_id", "t", "batch_id")
      .repartition($"batch_id").write.partitionBy("batch_id").parquet(index)
    val points = everyCrash(base, "index",
      d => DedupStream.compactIndex(spark, d.resolve("index").toString, 2L),
      Sinks.recoverSwap(spark, _))
    assert(points == 7) // record create + rename, 2 drops, 1 replace, stage
  }

  test("index retire: every crash point of the commit and the repair") {
    val base = tmp("pc_retire")
    val index = base.resolve("index").toString
    (0L until 30L).map(i => (i, s"d$i", i % 3)).toDF("doc_id", "t", "batch_id")
      .repartition($"batch_id").write.partitionBy("batch_id").parquet(index)
    // batch 0 retires whole (kept as an empty dir), batch 1 loses one row
    val ids = (Seq(1L) ++ (0L until 30L by 3)).toDF("doc_id")
    val points = everyCrash(base, "index",
      d => DedupStream.retireIds(spark, d.resolve("index").toString, ids,
        "doc_id"),
      Sinks.recoverSwap(spark, _))
    assert(points == 7) // record create + rename, 2 replaces, stage
    DedupStream.retireIds(spark, index, ids, "doc_id")
    assert(new java.io.File(index, "batch_id=0").list().toSeq
      .contains(StatsSidecar.FileName))
  }

  test("exact filesystem cost of one commit and of one clean-tree repair") {
    FaultFs.installed(spark) {
      def tree(live: Seq[Int], staged: Seq[Int]): String = {
        val root = tmp("pc_cost").resolve("t")
        live.foreach(p => Files.write(
          Files.createDirectories(root.resolve(s"p=$p")).resolve("f"),
          Array[Byte](1)))
        staged.foreach(p => Files.write(Files.createDirectories(
          root.resolveSibling("t_pstage").resolve(s"p=$p")).resolve("f"),
          Array[Byte](2)))
        root.toString
      }
      def commitCost(path: String, touched: Seq[Int]): Map[String, Int] = {
        FaultFs.arm(FaultFs.PartitionCommit)(_ => false)
        try Sinks.commitPartitions(spark, path, touched.map(p => s"p=$p"))
        finally FaultFs.disarm()
        FaultFs.snapshot()
      }
      // k staged partitions replacing live ones, j live ones dropped:
      // each replaced partition is set aside into the stage and dropped
      // with it
      for ((k, j) <- Seq((1, 0), (2, 1), (3, 2))) {
        val path = tree(0 until k + j, 0 until k)
        assert(commitCost(path, 0 until k + j) == Map("listStatus" -> 1,
          "create" -> 1, "rename" -> (2 * k + 1), "delete" -> (j + 1),
          "exists" -> k), s"k=$k j=$j")
        assert(state(path)._2 == (0 until k).map(p => s"p=$p").toSet)
      }
      // a staged partition new to the tree has nothing to set aside
      val path = tree(Seq(0), Seq(0, 1))
      assert(commitCost(path, Seq(0, 1)) == Map("listStatus" -> 1,
        "create" -> 1, "rename" -> 4, "delete" -> 1, "exists" -> 2))
      // clean-tree repair: one exists, nothing else
      FaultFs.arm(FaultFs.Repair)(_ => false)
      try Sinks.recoverSwap(spark, path) finally FaultFs.disarm()
      assert(FaultFs.snapshot() == Map("exists" -> 1))
    }
  }

  test("exact filesystem cost of each whole-tree and migration commit") {
    FaultFs.installed(spark) {
      def cost(scope: Seq[(String, String)])(op: => Unit): Map[String, Int] = {
        FaultFs.arm(scope)(_ => false)
        try op finally FaultFs.disarm()
        FaultFs.snapshot()
      }
      // a whole tree through overwriteViaSwap: its entry repair (one
      // exists) and one move, as a first write and as a replacement
      val snap = tmp("pc_swap").resolve("snap").toString
      val swap = cost(FaultFs.Commit ++ FaultFs.Repair)(_)
      def write(v: Long) = Sinks.overwriteViaSwap(spark,
        Seq((1L, v)).toDF("id", "v"), snap)
      assert(swap(write(1L)) == Map("exists" -> 2, "create" -> 1,
        "rename" -> 2, "delete" -> 1))
      assert(swap(write(2L)) == Map("exists" -> 2, "create" -> 1,
        "rename" -> 3, "delete" -> 1))
      assert(spark.read.parquet(snap).as[(Long, Long)].collect().toSeq ==
        Seq((1L, 2L)))
      // one migration commit per shape (AnnCrashSpec's fixture): each
      // move costs an exists and two renames (set-aside, promote), each
      // drop a delete (and an exists when there was nothing to delete),
      // plus the record and the stage delete
      val base = annBase
      for ((shape, want) <- Seq(
          AnnCrashSpec.DropOnly -> Map("create" -> 1, "rename" -> 5,
            "exists" -> 3, "delete" -> 5),
          AnnCrashSpec.Published -> Map("create" -> 1, "rename" -> 9,
            "exists" -> 4, "delete" -> 1),
          AnnCrashSpec.Coded -> Map("create" -> 1, "rename" -> 7,
            "exists" -> 3, "delete" -> 1))) {
        val d = FaultFs.copyTree(base)
        assert(cost(FaultFs.Commit)(
          assert(AnnCrashSpec.migrate(spark, d, shape).isDefined)) == want,
          shape)
      }
    }
  }

  /** AnnCrashSpec's fixture: a two-batch raw tree, published. */
  private lazy val annBase = AnnCrashSpec.fixture(spark, tmp("pc_ann"))

  test("a full and a delta publish repair each of their three trees once") {
    val d = FaultFs.copyTree(annBase)
    val (idx, pub) = (d.resolve("index").toString, d.resolve("serving").toString)
    def cost(method: String)(op: => Unit): Map[String, Int] = {
      FaultFs.arm(if (method == "repair") FaultFs.Repair
        else Seq(("graft.streaming.AnnStream$", method)))(_ => false)
      try op finally FaultFs.disarm()
      FaultFs.snapshot()
    }
    // the raw tree, the serving tree and its watermark: one clean repair
    // (one exists) each; the totals add the listings, the swap's or
    // partition commit's exists and Spark's own calls on this thread
    FaultFs.installed(spark) {
      // a watermark behind the raw tree, so the delta has a batch to fold
      def rewind() = AnnStream.publishIndex(spark, idx, pub, Some(0L))
      rewind()
      assert(cost("repair")(AnnStream.publishIndexDelta(spark, idx, pub)) ==
        Map("exists" -> 3))
      rewind()
      assert(cost("publishIndexDelta")(
        AnnStream.publishIndexDelta(spark, idx, pub))("exists") == 16)
      assert(cost("repair")(AnnStream.publishIndex(spark, idx, pub)) ==
        Map("exists" -> 3))
      assert(cost("publishIndex")(
        AnnStream.publishIndex(spark, idx, pub))("exists") == 7)
    }
  }

  test("a commit record in another format fails the repair and keeps the stage") {
    // an older engine's record: bare partition names, or none at all
    for (record <- Seq("p=1", "")) {
      val root = tmp("pc_foreign").resolve("t")
      Files.write(Files.createDirectories(root.resolve("p=0")).resolve("f"),
        Array[Byte](1))
      val stage = Files.createDirectories(root.resolveSibling("t_pstage"))
      Files.write(Files.createDirectories(stage.resolve("p=0")).resolve("f"),
        Array[Byte](2))
      Files.write(stage.resolve("_commit"), record.getBytes("UTF-8"))
      intercept[java.io.IOException](Sinks.recoverSwap(spark, root.toString))
      assert(Files.exists(stage.resolve("p=0/f")) &&
        Files.exists(root.resolve("p=0/f")), record)
    }
  }

  test("a committed, unpromoted cell commit never rolls over a republished or dropped serving tree") {
    val base = tmp("pc_mig")
    def paths(d: JPath) = (d.resolve("index").toString,
      d.resolve("centroids").toString, d.resolve("serving").toString)
    val (idx, cen, pub) = paths(base)
    val e = spark.range(1100L).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(concat_ws(":", $"id", j)), lit(2000)) - lit(1000))
          .cast("double") / 500.0).cast("float")).as("embedding")).cache()
    AnnStream.processIvfBatch(e.filter($"vec_id" < 600), 0L, idx, cen,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    AnnStream.publishIndex(spark, idx, pub)
    AnnStream.processIvfBatch(e.filter($"vec_id" >= 600), 1L, idx, cen,
      "vec_id", "embedding", dim = 64, cells = 8, iters = 2)
    // a serving-tree retire that committed, then crashed before its
    // first promote step: the stage holds old-geometry cells
    FaultFs.installed(spark) {
      assert(FaultFs.crashing(FaultFs.PartitionCommit)(_.n == 3)(
        AnnStream.retireIds(spark, pub, Seq(0L, 1L, 2L).toDF("vec_id"),
          "vec_id")))
    }
    assert(new java.io.File(pub + "_pstage", "_commit").exists())
    def cells(tree: String) = spark.read.parquet(tree)
      .select($"vec_id", $"cell".cast("long")).as[(Long, Long)]
      .collect().toSet

    // a full publish over it: the tree is exactly the raw tree after
    // any later entry's repair — the stale stage never rolls forward
    val p = FaultFs.copyTree(base)
    val (pIdx, _, pPub) = paths(p)
    AnnStream.publishIndex(spark, pIdx, pPub)
    Sinks.recoverSwap(spark, pPub)
    assert(cells(pPub) == cells(pIdx))

    // republished by a migration: the tree is exactly the re-sharded
    // raw tree — no old-geometry cell rolled forward
    val r = FaultFs.copyTree(base)
    val (rIdx, rCen, rPub) = paths(r)
    assert(AnnStream.migrateCapacityIfNeeded(spark, rIdx, rCen, "vec_id",
      dim = 64, iters = 2, republishPublished = Seq(rPub))
      .exists(_.cells == 16))
    Sinks.recoverSwap(spark, rPub)
    assert(cells(rPub) == cells(rIdx))
    assert(!new java.io.File(rPub + "_pstage").exists())

    // dropped: the tree stays absent after a later entry's repair
    val d = FaultFs.copyTree(base)
    val (dIdx, dCen, dPub) = paths(d)
    assert(AnnStream.migrateCapacityIfNeeded(spark, dIdx, dCen, "vec_id",
      dim = 64, iters = 2, servingTrees = Seq(dPub)).exists(_.cells == 16))
    Sinks.recoverSwap(spark, dPub)
    assert(!new java.io.File(dPub).exists())
    assert(!new java.io.File(dPub + "_pstage").exists())
  }
}
