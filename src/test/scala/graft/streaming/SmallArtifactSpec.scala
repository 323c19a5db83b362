package graft.streaming

import graft.{FaultFs, JobLog, SparkSpec}
import graft.core.SmallParquet
import graft.operators.Sinks
import java.nio.file.{Files, Path => JPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The driver-side reads and writes of engine trees and small
  * artifacts: [[Sinks.openTree]] against Spark's schema inference on
  * every engine tree shape, and the [[SmallParquet]] codec against
  * Spark's own parquet writes and reads of the models, codebooks and
  * watermarks, in both directions. Neither starts a Spark job. */
class SmallArtifactSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): JPath =
    Files.createTempDirectory(s"graft_$name")

  /** AnnCrashSpec's fixture: a raw tree with its training slice, its
    * model, the tree published (with its watermark) and PQ-coded. */
  private lazy val base: JPath = AnnCrashSpec.fixture(spark, tmp("sa_base"))

  /** Each engine tree shape, by name: the fixture's trees, a compacted
    * copy of the raw tree and a MinHash dedup index. */
  private lazy val trees: Map[String, String] = {
    val compacted = FaultFs.copyTree(base.resolve("index")).toString
    DedupStream.compactIndex(spark, compacted, 1L, Seq("cell"), Some("vec_id"))
    assert(Files.exists(java.nio.file.Paths.get(compacted, "batch_id=1",
      StatsSidecar.FileName)))
    val dedup = tmp("sa_dedup")
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")).toDF("doc_id", "text")
    Seq(0L -> ($"doc_id" <= 2), 1L -> ($"doc_id" === 3)).foreach {
      case (b, slice) => DedupStream.processBatch(docs.filter(slice), b,
        dedup.resolve("index").toString, dedup.resolve("pairs").toString,
        dedup.resolve("survivors").toString, "doc_id", "text")
    }
    def at(t: String) = base.resolve(t).toString
    Map("raw batch_id=/cell= tree" -> at("index"),
      "compacted tree with its stats sidecar" -> compacted,
      "cell= serving tree" -> at("serving"),
      "PQ-coded tree" -> at("coded"),
      "dedup index tree" -> dedup.resolve("index").toString,
      "retained training slice" -> at("index_tslice"))
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("openTree reads every engine tree shape as schema inference does") {
    trees.foreach { case (shape, p) =>
      val opened = Sinks.openTree(spark, p)
      val inferred = spark.read.parquet(p)
      assert(opened.map(_.schema).contains(inferred.schema), shape)
      assert(rows(opened.get) == rows(inferred), shape)
    }
  }

  test("a tree with no data file opens as None") {
    val d = tmp("sa_empty")
    assert(Sinks.openTree(spark, d.resolve("absent").toString).isEmpty)
    // empty partition dirs, a marker and an embedded model are no data
    val t = d.resolve("t")
    Files.createDirectories(t.resolve("batch_id=0/cell=1"))
    Files.createDirectories(t.resolve("batch_id=1"))
    Files.write(t.resolve("_SUCCESS"), Array.emptyByteArray)
    AnnStream.writeCentroids(spark, Seq(Array(1L, 2L)),
      t.resolve(AnnStream.ModelDir).toString)
    assert(Sinks.openTree(spark, t.toString).isEmpty)
  }

  test("centroids, codebook and watermark round-trip between the codec and Spark") {
    val d = tmp("sa_models")
    def at(n: String) = d.resolve(n).toString
    val cents = Seq(Array(1L, -2L, 3L), Array(4L, 5L, -6L))
    val cb = Seq(Seq(Seq(1L, 2L), Seq(3L, 4L)), Seq(Seq(5L, 6L), Seq(7L, 8L)))
    // what a one-partition Spark write of each model leaves
    cents.zipWithIndex.map { case (c, j) => (j.toLong, c.toSeq) }
      .toDF("cell", "c").coalesce(1).write.parquet(at("spark_cents"))
    cb.zipWithIndex.flatMap { case (codes, j) =>
      codes.zipWithIndex.map { case (c, code) => (j, code, c) }
    }.toDF("j", "code", "c").coalesce(1).write.parquet(at("spark_cb"))
    Seq(7L).toDF("last_batch").coalesce(1).write.parquet(at("spark_wm"))
    // the codec reads Spark's files
    assert(AnnStream.readCentroids(spark, at("spark_cents")).map(_.toSeq) ==
      cents.map(_.toSeq))
    assert(AnnStream.readPqCodebook(spark, at("spark_cb")) == cb)
    assert(SmallParquet.read(spark, at("spark_wm"))
      .contains(Seq(Map("last_batch" -> 7L))))
    // Spark reads the codec's files with the same schema (and rows); the
    // fixture's watermark was written by publishIndex through the codec
    AnnStream.writeCentroids(spark, cents, at("cents"))
    AnnStream.writePqCodebook(spark, cb, at("cb"))
    val wm = base.resolve("serving_pubmeta").toString
    assert(SmallParquet.read(spark, wm).contains(Seq(Map("last_batch" -> 1L))))
    for ((mine, theirs) <- Seq(at("cents") -> "spark_cents",
        at("cb") -> "spark_cb", wm -> "spark_wm")) {
      val (a, b) = (spark.read.parquet(mine), spark.read.parquet(at(theirs)))
      assert(a.schema == b.schema, theirs)
      if (theirs != "spark_wm") assert(rows(a) == rows(b), theirs)
      // one visible part file, and no stage left behind
      assert(new java.io.File(mine).list().toSeq
        .filter(_.endsWith(".parquet")) == Seq(SmallParquet.FileName), theirs)
      assert(!new java.io.File(Sinks.partitionStage(mine)).exists(), theirs)
    }
  }

  test("openTree and every small-artifact read and write start no Spark job") {
    val d = FaultFs.copyTree(base)
    def at(n: String) = d.resolve(n).toString
    val opened = trees.values.toSeq :+ at("index")
    val (_, jobs) = JobLog.during(spark) {
      opened.foreach(p => assert(Sinks.openTree(spark, p).isDefined, p))
      val cents = AnnStream.readCentroids(spark, at("centroids"))
      AnnStream.writeCentroids(spark, cents, at("centroids"))
      AnnStream.writePqCodebook(spark, Seq(Seq(Seq(1L), Seq(2L))),
        at("codebook"))
      assert(AnnStream.readPqCodebook(spark, at("codebook")).length == 1)
      SmallParquet.write(spark, at("wm"), StructType(Seq(
        StructField("last_batch", LongType, nullable = false))), Seq(Seq(3L)))
      assert(SmallParquet.read(spark, at("wm")).isDefined)
    }
    assert(jobs.isEmpty, jobs)
  }
}
