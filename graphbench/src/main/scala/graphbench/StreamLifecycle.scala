package graphbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.streaming.{AnnStream, DedupStream}

/** `stream_lifecycle`: one ingest → compact → publish → retire → serve
  * lifecycle of a streamed IVF index, in fresh directories per operation:
  *
  *  1. a streamed ingest of two arrival files, one micro-batch each
  *     (`AnnStream.ivfIngest`; batch 0 trains and freezes the quantizer);
  *  2. `DedupStream.compactIndex` folds both batches into one partition;
  *  3. `AnnStream.publishIndex` lays the tree out by cell for serving;
  *  4. `AnnStream.retireIds` erases every `vec_id % 10 = 3` from it;
  *  5. `AnnStream.ivfServeTopK` serves the top 3 of nine queries.
  *
  * The check recomputes the answer from the generated vectors: each
  * row's quantized vector is `floor(x * 1e6)` of its embedding, its cell
  * is the nearest centroid by exact integer squared L2 (ties to the lower
  * cell), the published tree must hold exactly the ids not erased with
  * those vectors and cells, and each served top 3 must be the nearest
  * other surviving rows of the query's cell (ties to the lower id). Only
  * the trained centroids are taken from the engine's output. */
final class StreamLifecycle(spark: SparkSession, seed: Long, work: java.io.File,
    vectors: Int) extends Workload {
  import StreamLifecycle._
  val name = "stream_lifecycle"
  private val dim = 64

  private var embeddings: IndexedSeq[(Long, Array[Float])] = IndexedSeq.empty
  /** The generator's quantized vectors, by id. */
  private var quantized: Map[Long, IndexedSeq[Long]] = Map.empty
  private var reference: Option[Seq[Served]] = None
  private var lastServed: Seq[Served] = Nil
  private var lastTree: Seq[TreeRow] = Nil
  private var lastCentroids: IndexedSeq[IndexedSeq[Long]] = IndexedSeq.empty

  private def dir(name: String) = new java.io.File(work, s"stream/$name").getAbsolutePath
  private val arrivals = dir("arrivals")
  private def opDir(op: Int) = dir(f"op_$op%05d")
  private val schema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Vectors in eight equal groups around random centres, so the cells
    * are meaningful and every seed yields the same shape of index. */
  def prepare(): Unit = {
    val r = new java.util.SplittableRandom(seed * 0x9e3779b97f4a7c15L + 17)
    val centres = Array.fill(8, dim)((r.nextGaussian() * 0.15).toFloat)
    embeddings = (0 until vectors).map { i =>
      val c = centres((i / 4) % 8)
      (i.toLong, Array.tabulate(dim)(d => (c(d) + r.nextGaussian() * 0.05).toFloat))
    }
    quantized = embeddings.map { case (i, v) =>
      i -> v.map(x => math.floor(x.toDouble * 1000000.0).toLong).toIndexedSeq
    }.toMap
  }

  /** Two arrival files in modification-time order: the training slice
    * (`vec_id % 4 = 0`), then the rest. */
  def install(): Unit = {
    import spark.implicits._
    val all = embeddings.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val in = new java.io.File(arrivals)
    in.mkdirs()
    Seq(col("vec_id") % 4 === 0, col("vec_id") % 4 =!= 0).zipWithIndex.foreach {
      case (slice, i) =>
        val stage = dir(s"stage$i")
        all.filter(slice).coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dest = new java.io.File(in, f"round_$i%03d.parquet")
        java.nio.file.Files.move(part.toPath, dest.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dest.setLastModified(1700000000000L + i * 1000L)
        graft.core.TempDirs.deleteRecursively(new java.io.File(stage))
    }
  }

  def run(op: Int, tr: Tracer): Long = {
    val base = opDir(op)
    val index = s"$base/index"
    val centroids = s"$base/centroids"
    val serving = s"$base/serving"
    tr.span("streaming.ivfIngest") {
      val q = AnnStream.ivfIngest(spark, arrivals, schema, index, centroids,
        s"$base/checkpoint", "vec_id", "embedding", dim = dim, cells = 8, iters = 2,
        maxFilesPerTrigger = 1)
      try q.processAllAvailable() finally q.stop()
    }
    tr.span("streaming.compactIndex") {
      DedupStream.compactIndex(spark, index, upToBatch = 1L,
        partitionCols = Seq("cell"), idCol = Some("vec_id"))
    }
    tr.span("streaming.publishIndex")(AnnStream.publishIndex(spark, index, serving))
    val input = spark.read.schema(schema).parquet(arrivals)
    tr.span("streaming.retireIds") {
      AnnStream.retireIds(spark, serving,
        input.filter(col("vec_id") % 10 === 3).select("vec_id"), "vec_id")
    }
    lastServed = tr.span("streaming.ivfServeTopK") {
      AnnStream.ivfServeTopK(spark, serving, centroids,
          input.filter(col("vec_id") < 10 && col("vec_id") % 10 =!= 3),
          "vec_id", "embedding", topK = 3)
        .orderBy("query_id", "rank").collect().toSeq
        .map(r => Served(r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Long]("rank"), r.getAs[Long]("d2")))
    }
    vectors.toLong
  }

  def check(op: Int): Seq[String] = {
    val base = opDir(op)
    val batches = Option(new java.io.File(s"$base/index").list()).toSeq.flatten
      .filter(_.startsWith("batch_id=")).sorted
    lastTree = spark.read.parquet(s"$base/serving").select("vec_id", "cell", "q")
      .collect().toSeq.map(r => TreeRow(r.getLong(0), r.getAs[Number](1).longValue,
        r.getSeq[Long](2).toIndexedSeq))
    lastCentroids = spark.read.parquet(s"$base/centroids").orderBy("cell").select("c")
      .collect().toIndexedSeq.map(_.getSeq[Long](0).toIndexedSeq)
    val problems = (if (batches == Seq("batch_id=1")) Nil
      else Seq(s"compaction: raw tree holds $batches, expected one folded batch_id=1")) ++
      servedProblems(lastServed, lastTree, lastCentroids)
    if (problems.isEmpty && reference.isEmpty) reference = Some(lastServed)
    problems
  }

  private def servedProblems(served: Seq[Served], tree: Seq[TreeRow],
      centroids: IndexedSeq[IndexedSeq[Long]]): Seq[String] = {
    def d2(a: IndexedSeq[Long], b: IndexedSeq[Long]) =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    // first minimum wins, so ties go to the lower cell
    def cellOf(q: IndexedSeq[Long]) = centroids.indices.minBy(c => d2(q, centroids(c))).toLong
    val p = ArrayBuffer[String]()
    val survivors = embeddings.map(_._1).filter(_ % 10 != 3)
    val ids = tree.map(_.id)
    if (ids.size != ids.distinct.size || ids.toSet != survivors.toSet)
      p += s"serving tree: ${ids.size} rows, expected the ${survivors.size} " +
        "ids not erased, once each"
    if (centroids.size != 8 || centroids.exists(_.size != dim))
      p += s"centroids: ${centroids.size} rows, expected 8 of dimension $dim"
    else {
      val cell = survivors.map(i => i -> cellOf(quantized(i))).toMap
      val wrongQ = tree.count(t => quantized.get(t.id).exists(_ != t.q))
      if (wrongQ > 0) p += s"serving tree: $wrongQ rows hold another quantized vector"
      val wrongCell = tree.count(t => cell.get(t.id).exists(_ != t.cell))
      if (wrongCell > 0) p += s"serving tree: $wrongCell rows sit in another cell " +
        "than their nearest centroid"
      val expected = (0L until 10L).filter(_ % 10 != 3).flatMap { qid =>
        survivors.filter(i => cell(i) == cell(qid) && i != qid)
          .map(i => (i, d2(quantized(qid), quantized(i))))
          .sortBy(x => (x._2, x._1)).take(3).zipWithIndex
          .map { case ((nid, d), rank) => Served(qid, nid, rank + 1L, d) }
      }
      if (served != expected)
        p += s"top-k: served ${served.take(3)}..., exact search over the generated " +
          s"vectors gives ${expected.take(3)}..."
    }
    reference.foreach { ref =>
      if (ref != served) p += "top-k: differs from the first lifecycle's answer"
    }
    p.toSeq
  }

  override def afterOp(op: Int): Unit =
    graft.core.TempDirs.deleteRecursively(new java.io.File(opDir(op)))

  def corruptionDetected(): Boolean = {
    val wrongNeighbour = lastServed.map(s => if (s.rank == 1L) s.copy(neighbor = s.neighbor + 1) else s)
    val wrongDistance = lastServed.map(s => if (s.rank == 3L) s.copy(d2 = s.d2 - 1) else s)
    val erasedLeft = lastTree :+ TreeRow(3L, lastTree.head.cell, lastTree.head.q)
    val wrongCell = lastTree.updated(0, lastTree.head.copy(cell = (lastTree.head.cell + 1) % 8))
    val wrongQ = lastTree.updated(0, lastTree.head.copy(q = lastTree.head.q.map(_ + 1)))
    val oneCell = lastTree.map(_.copy(cell = 0L))
    Seq((wrongNeighbour, lastTree), (wrongDistance, lastTree), (lastServed, erasedLeft),
        (lastServed, wrongCell), (lastServed, wrongQ), (lastServed, oneCell))
      .forall { case (served, tree) => servedProblems(served, tree, lastCentroids).nonEmpty }
  }

  override def close(): Unit = ()
}

object StreamLifecycle {
  private final case class Served(query: Long, neighbor: Long, rank: Long, d2: Long)
  private final case class TreeRow(id: Long, cell: Long, q: IndexedSeq[Long])
}
