package graft.streaming

import graft.{JobLog, SparkSpec}
import java.nio.file.{Files, Path => JPath}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark jobs per streamed IVF lifecycle, as a ceiling: one ingest of
  * two arrival files (one micro-batch each), compaction, publish,
  * retire and serve, in the shape of graphbench's `stream_lifecycle`
  * operation at a small n, on the suite's `local[4]` session. Job
  * counts are deterministic where wall times are not, so a change that
  * adds a job to the lifecycle fails here.
  *
  * The ceiling is the count measured when it was set. Lower it when a
  * change lowers the count; never raise it to get green. */
class StreamLifecycleJobsSpec extends SparkSpec {
  import spark.implicits._

  private val JobCeiling = 37

  private val dim = 64
  private val schema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Two arrival files of `n` vectors in eight groups, in modification
    * time order: the training slice (`vec_id % 4 = 0`), then the rest. */
  private def arrivals(n: Int): String = {
    val r = new java.util.SplittableRandom(5L)
    val centres = Array.fill(8, dim)((r.nextGaussian() * 0.15).toFloat)
    val all = (0 until n).map { i =>
      val c = centres((i / 4) % 8)
      (i.toLong, Seq.tabulate(dim)(d => (c(d) + r.nextGaussian() * 0.05).toFloat))
    }.toDF("vec_id", "embedding")
    val in = Files.createTempDirectory("graft_lc_in")
    Seq($"vec_id" % 4 === 0, $"vec_id" % 4 =!= 0).zipWithIndex.foreach {
      case (slice, i) =>
        val stage = Files.createTempDirectory("graft_lc_stage").resolve("s")
        all.filter(slice).coalesce(1).write.parquet(stage.toString)
        val part = Files.list(stage).filter(_.toString.endsWith(".parquet"))
          .findFirst().get
        val dest = Files.move(part, in.resolve(f"round_$i%03d.parquet"))
        dest.toFile.setLastModified(1700000000000L + i * 1000L)
    }
    in.toString
  }

  test(s"one streamed lifecycle runs at most $JobCeiling jobs and infers no schema") {
    val in = arrivals(400)
    val input = spark.read.schema(schema).parquet(in)
    def lifecycle(base: JPath): Seq[org.apache.spark.sql.Row] = {
      def at(n: String) = base.resolve(n).toString
      val q = AnnStream.ivfIngest(spark, in, schema, at("index"),
        at("centroids"), at("checkpoint"), dim = dim, cells = 8, iters = 2)
      try q.processAllAvailable() finally q.stop()
      DedupStream.compactIndex(spark, at("index"), upToBatch = 1L,
        partitionCols = Seq("cell"), idCol = Some("vec_id"))
      AnnStream.publishIndex(spark, at("index"), at("serving"))
      AnnStream.retireIds(spark, at("serving"),
        input.filter($"vec_id" % 10 === 3).select("vec_id"), "vec_id")
      AnnStream.ivfServeTopK(spark, at("serving"), at("centroids"),
          input.filter($"vec_id" < 10 && $"vec_id" % 10 =!= 3),
          "vec_id", "embedding", topK = 3)
        .orderBy("query_id", "rank").collect().toSeq
    }
    // one untimed lifecycle first, as the benchmark warms up
    val warm = lifecycle(Files.createTempDirectory("graft_lc_warm"))
    val (served, jobs) = JobLog.during(spark)(
      lifecycle(Files.createTempDirectory("graft_lc")))
    info(s"${jobs.size} jobs")
    assert(served == warm && served.size == 27)
    assert(!jobs.exists(_.inference), jobs.filter(_.inference))
    assert(jobs.size <= JobCeiling, jobs.map(_.site).mkString("\n"))
  }
}
