package graft.streaming

import graft.{FaultFs, SparkSpec}
import graft.operators.Sinks
import graft.similarity.Ann
import java.nio.file.{Files, Path => JPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ANN index family's multi-tree commits, each crashed at every
  * mutating call of its commit ([[Sinks.commitStaged]]) on a fresh copy
  * of the same starting state ([[AnnCrashSpec.fixture]]):
  *  - a capacity migration in each of its three shapes: serving trees
  *    dropped, a published tree republished, a coded tree republished;
  *  - a retire-queue drain over the raw, published and coded trees;
  *  - a full publish, tree then watermark.
  * After each crash the next entry sees exactly the old or the new
  * state, and a replay converges to the uncrashed result. The state is
  * read straight from disk: raw rows, the model, and per serving tree
  * its rows, embedded model and codebook and its watermark. */
class AnnCrashSpec extends SparkSpec {
  import spark.implicits._
  import AnnCrashSpec._

  type State = Map[String, Option[Set[Seq[Any]]]]

  private def tmp(name: String): JPath =
    Files.createTempDirectory(s"graft_$name")

  private def at(d: JPath, tree: String) = d.resolve(tree).toString

  private def state(d: JPath): State = {
    def hasData(f: java.io.File): Boolean = Option(f.listFiles()).toSeq
      .flatten.filterNot(_.getName.startsWith("_")).exists(c =>
        if (c.isDirectory) hasData(c) else c.getName.endsWith(".parquet"))
    def read(tree: String, cols: String*): Option[Set[Seq[Any]]] = {
      val f = d.resolve(tree).toFile
      if (!f.exists()) None
      else if (!hasData(f)) Some(Set.empty)
      else Some(spark.read.parquet(f.toString).select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet)
    }
    Map(
      "raw" -> read("index", "vec_id", "cell"),
      "model" -> read("centroids", "cell", "c"),
      "pub" -> read("serving", "vec_id", "cell"),
      "pub model" -> read("serving/_model", "cell", "c"),
      "watermark" -> read("serving_pubmeta", "last_batch"),
      "coded" -> read("coded", "vec_id", "codes", "cell"),
      "coded model" -> read("coded/_model", "cell", "c"),
      "codebook" -> read("coded/_codebook", "j", "code", "c"))
  }

  /** `s` with [[Victim]] erased from the row sets named. */
  private def erased(s: State, trees: String*): State = s.map {
    case (k, v) if trees.contains(k) =>
      k -> v.map(_.filterNot(_.head == Victim))
    case kv => kv
  }

  private lazy val queries = vectors(spark).filter($"vec_id" < 5).cache()

  private def served(df: DataFrame): Set[(Long, Long, Long)] =
    df.select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)]
      .collect().toSet

  /** A serve of the raw tree, the published tree or the coded tree. */
  private def serve(d: JPath, tree: String): Set[(Long, Long, Long)] =
    if (tree == "coded")
      served(AnnStream.pqServeTopK(spark, at(d, "coded"), at(d, "centroids"),
        vectors(spark), queries, "vec_id", "embedding", m = 2, k = 4,
        nprobe = 2, shortlist = 20, topK = 3))
    else served(AnnStream.ivfServeTopK(spark, at(d, tree),
      at(d, "centroids"), queries, "vec_id", "embedding", topK = 3,
      nprobe = 2))

  private def drain(d: JPath): Int = AnnStream.drainRetireQueue(spark,
    at(d, "queue"), Seq(at(d, "index") -> Seq("cell")),
    Seq(at(d, "serving"), at(d, "coded")), "vec_id")

  /** The raw tree's entries other than a serve, each run on a crashed
    * copy: the row sets it erases [[Victim]] from. */
  private val entries: Seq[(String, JPath => Seq[String])] = Seq(
    "drain" -> { d => assert(drain(d) == 1); Seq("raw", "pub", "coded") },
    "retireIds" -> { d =>
      DedupStream.retireIds(spark, at(d, "index"), Seq(Victim).toDF("vec_id"),
        "vec_id", Seq("cell"))
      Seq("raw")
    },
    "compactIndex" -> { d =>
      DedupStream.compactIndex(spark, at(d, "index"), 1L, Seq("cell"),
        Some("vec_id"))
      Nil
    })

  private lazy val base = fixture(spark, tmp("ac_base"))

  for (shape <- Seq(DropOnly, Published, Coded))
    test(s"capacity migration ($shape): every crash point of the commit and the repair") {
      val old = state(base)
      val ref = FaultFs.copyTree(base)
      val (points, fresh) = FaultFs.installed(spark) {
        FaultFs.arm(FaultFs.Commit)(_ => false)
        try assert(migrate(spark, ref, shape).exists(_.cells == 16))
        finally FaultFs.disarm()
        (FaultFs.mutatingCalls, state(ref))
      }
      assert(fresh("model") != old("model") && fresh("raw") != old("raw"))
      // republished trees carry the 16-cell model (and codebook) inside
      val embedded = Map(DropOnly -> Map("pub model" -> 0),
        Published -> Map("pub model" -> 16),
        Coded -> Map("coded model" -> 16, "codebook" -> 2 * 4))(shape)
      embedded.foreach { case (k, rows) =>
        assert(fresh(k).getOrElse(Set.empty).size == rows, k)
      }
      // the serving tree a serve reads alone, and its answers
      val tree = if (shape == Coded) "coded" else "serving"
      val answers = Set(serve(FaultFs.copyTree(base), tree)) ++
        (if (shape == DropOnly) Nil else Seq(serve(ref, tree)))
      val rawAnswer = Map(true -> serve(FaultFs.copyTree(base), "index"),
        false -> serve(FaultFs.copyTree(ref), "index"))
      // the commit record's rename is mutating call 2
      def expected(n: Int) = if (n <= 2) old else fresh
      (1 to points).foreach { n =>
        val d = FaultFs.copyTree(base)
        FaultFs.installed(spark) {
          assert(FaultFs.crashing(FaultFs.Commit)(_.n == n)(
            migrate(spark, d, shape)), s"crash $n did not fire")
        }
        // a serve of the serving tree alone repairs only that tree: it
        // answers as before or as after, or fails loudly while the tree
        // is missing between its two renames (or dropped)
        scala.util.Try(serve(FaultFs.copyTree(d), tree)) match {
          case scala.util.Success(a) =>
            assert(answers(a), s"crash $n: a serve of $tree mixed states")
          case scala.util.Failure(e) =>
            assert(e.getMessage.contains("does not exist"), s"crash $n: $e")
        }
        // a serve of the raw tree, and one other raw-tree entry per
        // crash point in turn
        val r = FaultFs.copyTree(d)
        assert(serve(r, "index") == rawAnswer(n <= 2), s"crash $n: serve")
        assert(state(r) == expected(n), s"crash $n: serve")
        val (name, entry) = entries((n - 1) % entries.length)
        val e = FaultFs.copyTree(d)
        val gone = entry(e)
        assert(state(e) == erased(expected(n), gone: _*), s"crash $n: $name")
        // from the fullest uncommitted and committed states, crash the
        // repair at each of its calls
        var k = 1
        var repairCrashed = n == 2 || n == 3
        while (repairCrashed) {
          val c = FaultFs.copyTree(d)
          repairCrashed = FaultFs.installed(spark) {
            FaultFs.crashing(FaultFs.Repair)(_.n == k)(
              Sinks.recoverSwap(spark, at(c, "index")))
          }
          if (repairCrashed) {
            Sinks.recoverSwap(spark, at(c, "index"))
            assert(state(c) == expected(n), s"crash $n, repair crash $k")
          }
          k += 1
        }
        migrate(spark, d, shape)
        assert(state(d) == fresh, s"crash $n: replay did not converge")
        assert(!Files.exists(d.resolve("index_pstage")))
      }
      assert(points == Map(DropOnly -> 11, Published -> 11, Coded -> 9)(shape))
    }

  test("retire-queue drain over the raw, published and coded trees: every crash point") {
    val scope = FaultFs.Commit :+ (("graft.streaming.DedupStream$", "archive"))
    val old = state(base)
    val fresh = erased(old, "raw", "pub", "coded")
    val points = FaultFs.installed(spark) {
      val ref = FaultFs.copyTree(base)
      FaultFs.arm(scope)(_ => false)
      try assert(drain(ref) == 1) finally FaultFs.disarm()
      assert(state(ref) == fresh)
      FaultFs.mutatingCalls
    }
    val request = "queue/req_001.parquet"
    (1 to points).foreach { n =>
      val d = FaultFs.copyTree(base)
      FaultFs.installed(spark) {
        assert(FaultFs.crashing(scope)(_.n == n)(drain(d)),
          s"crash $n did not fire")
      }
      Seq("index", "serving", "coded").foreach(t =>
        Sinks.recoverSwap(spark, at(d, t)))
      val seen = state(d)
      seen.foreach { case (k, v) =>
        assert(v == old(k) || v == fresh(k), s"crash $n: $k")
      }
      // a request leaves the queue only after every tree applied it
      val pending = Files.exists(d.resolve(request))
      if (!pending) assert(seen == fresh, s"crash $n: archived early")
      assert(drain(d) == (if (pending) 1 else 0))
      assert(state(d) == fresh, s"crash $n: replay did not converge")
      assert(Files.exists(d.resolve("queue/_done/req_001.parquet")))
    }
    assert(points == 17) // 3 single-partition commits of 5, mkdirs + rename
  }

  test("full publish, tree then watermark: every crash point") {
    val b = FaultFs.copyTree(base)
    AnnStream.publishIndex(spark, at(b, "index"), at(b, "serving"),
      upToBatch = Some(0L))
    val old = state(b)
    def publish(d: JPath) =
      AnnStream.publishIndex(spark, at(d, "index"), at(d, "serving"))
    val (points, fresh) = FaultFs.installed(spark) {
      val ref = FaultFs.copyTree(b)
      FaultFs.arm(FaultFs.Commit)(_ => false)
      try publish(ref) finally FaultFs.disarm()
      (FaultFs.mutatingCalls, state(ref))
    }
    assert(fresh("pub") != old("pub") && fresh("watermark") != old("watermark"))
    (1 to points).foreach { n =>
      val d = FaultFs.copyTree(b)
      FaultFs.installed(spark) {
        assert(FaultFs.crashing(FaultFs.Commit)(_.n == n)(publish(d)),
          s"crash $n did not fire")
      }
      // a serve repairs the tree, a delta publish the watermark too
      serve(d, "serving")
      Sinks.recoverSwap(spark, at(d, "serving_pubmeta"))
      val seen = state(d)
      assert(seen("pub") == old("pub") || seen("pub") == fresh("pub"),
        s"crash $n: tree")
      assert(seen("watermark") == old("watermark") ||
        seen("watermark") == fresh("watermark"), s"crash $n: watermark")
      // the watermark never runs ahead of the tree it describes
      if (seen("watermark") == fresh("watermark"))
        assert(seen("pub") == fresh("pub"), s"crash $n: watermark ahead")
      AnnStream.publishIndexDelta(spark, at(d, "index"), at(d, "serving"))
      assert(state(d) == fresh, s"crash $n: replay did not converge")
    }
    assert(points == 10) // two whole-tree commits of 5
  }

  /** `body`'s result and the WARN messages Spark's data source resolver
    * logged meanwhile (the logger is set to WARN for the capture). */
  private def dataSourceWarnings[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-spec-warnings", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.datasources.DataSource").asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try {
      val out = body
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
  }

  test("a serve of a republished tree reads its embedded model without an ignored-path warning") {
    val d = FaultFs.copyTree(base)
    assert(migrate(spark, d, Published).exists(_.cells == 16))
    val (answer, warnings) = dataSourceWarnings(serve(d, "serving"))
    assert(!warnings.exists(_.contains("All paths were ignored")), warnings)
    assert(graft.core.SmallParquet.read(spark,
      at(d, s"serving/${AnnStream.ModelDir}")).map(_.size).contains(16))
    // without the external model, the serve ranks under the embedded one
    graft.core.TempDirs.deleteRecursively(d.resolve("centroids").toFile)
    assert(serve(d, "serving") == answer)
    // the capture sees the warning a read of the underscore dir logs
    assert(dataSourceWarnings(spark.read.parquet(at(d, "serving/_model")))
      ._2.exists(_.contains("All paths were ignored")))
  }
}

object AnnCrashSpec {
  val Dim = 8
  /** The id the retire request in the fixture's queue names. */
  val Victim = 7L

  sealed trait Shape
  case object DropOnly extends Shape
  case object Published extends Shape
  case object Coded extends Shape

  def vectors(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.range(1100L).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(Dim - 1)), j =>
        ((pmod(xxhash64(concat_ws(":", $"id", j)), lit(2000)) - lit(1000))
          .cast("double") / 500.0).cast("float")).as("embedding"))
  }

  /** Under `dir`: a two-batch raw tree (`index`) over 1,100 vectors with
    * an 8-cell model (`centroids`; the capacity rule wants 16) and its
    * retained training slice, the tree published (`serving`, with its
    * watermark) and PQ-coded (`coded`), and a retire queue (`queue`)
    * holding one request for [[Victim]]. */
  def fixture(spark: SparkSession, dir: JPath): JPath = {
    import spark.implicits._
    val e = vectors(spark).cache()
    val (idx, cen) = (dir.resolve("index").toString,
      dir.resolve("centroids").toString)
    (0 until 2).foreach { b =>
      AnnStream.processIvfBatch(e.filter(pmod($"vec_id", lit(2)) === b),
        b.toLong, idx, cen, "vec_id", "embedding", dim = Dim, cells = 8,
        iters = 2, trainSliceRows = 400)
    }
    AnnStream.publishIndex(spark, idx, dir.resolve("serving").toString)
    AnnStream.publishPqIndex(spark, idx, cen, dir.resolve("coded").toString,
      "vec_id", m = 2, k = 4)
    e.unpersist()
    // staged outside the queue and renamed in (the landing contract)
    val req = Files.createTempDirectory("graft_req").resolve("r")
    Seq(Victim).toDF("vec_id").coalesce(1).write.parquet(req.toString)
    val part = Files.list(req).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    Files.move(part, Files.createDirectories(dir.resolve("queue"))
      .resolve("req_001.parquet"))
    dir
  }

  /** The fixture's capacity migration in `shape`. */
  def migrate(spark: SparkSession, d: JPath,
      shape: Shape): Option[Ann.IvfCapacity] = {
    val (pub, coded) = (d.resolve("serving").toString,
      d.resolve("coded").toString)
    AnnStream.migrateCapacityIfNeeded(spark, d.resolve("index").toString,
      d.resolve("centroids").toString, "vec_id", dim = Dim, iters = 2,
      servingTrees = if (shape == DropOnly) Seq(pub, coded) else Nil,
      republishPublished = if (shape == Published) Seq(pub) else Nil,
      republishCoded = if (shape == Coded)
        Seq(AnnStream.CodedRepublish(coded, m = 2, k = 4, iters = 2))
      else Nil)
  }
}
