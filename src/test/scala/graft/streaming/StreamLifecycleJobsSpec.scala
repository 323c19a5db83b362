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
  * Each phase has its own ceiling too, so a regression names its
  * phase. The ceilings are the counts measured when they were set.
  * Lower one when a change lowers its count; never raise one to get
  * green. */
class StreamLifecycleJobsSpec extends SparkSpec {
  import spark.implicits._

  private val JobCeiling = 24
  private val PhaseCeilings = Map("ingest" -> 9, "compact" -> 3,
    "publish" -> 2, "retire" -> 4, "serve" -> 6)

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

  test("one streamed lifecycle stays within its total and per-phase job ceilings and infers no schema") {
    val in = arrivals(400)
    val input = spark.read.schema(schema).parquet(in)
    // the served rows and each phase's jobs, in lifecycle order
    def lifecycle(base: JPath): (Seq[org.apache.spark.sql.Row],
        Seq[(String, Seq[JobLog.Job])]) = {
      def at(n: String) = base.resolve(n).toString
      def phase[T](name: String)(body: => T): (T, (String, Seq[JobLog.Job])) = {
        val (out, jobs) = JobLog.during(spark)(body)
        (out, name -> jobs)
      }
      val (_, ingest) = phase("ingest") {
        val q = AnnStream.ivfIngest(spark, in, schema, at("index"),
          at("centroids"), at("checkpoint"), dim = dim, cells = 8, iters = 2)
        try q.processAllAvailable() finally q.stop()
      }
      val (_, compact) = phase("compact")(DedupStream.compactIndex(spark,
        at("index"), upToBatch = 1L, partitionCols = Seq("cell"),
        idCol = Some("vec_id")))
      val (_, publish) = phase("publish")(
        AnnStream.publishIndex(spark, at("index"), at("serving")))
      val (_, retire) = phase("retire")(AnnStream.retireIds(spark,
        at("serving"), input.filter($"vec_id" % 10 === 3).select("vec_id"),
        "vec_id"))
      val (served, serve) = phase("serve")(
        AnnStream.ivfServeTopK(spark, at("serving"), at("centroids"),
            input.filter($"vec_id" < 10 && $"vec_id" % 10 =!= 3),
            "vec_id", "embedding", topK = 3)
          .orderBy("query_id", "rank").collect().toSeq)
      (served, Seq(ingest, compact, publish, retire, serve))
    }
    // one untimed lifecycle first, as the benchmark warms up
    val (warm, _) = lifecycle(Files.createTempDirectory("graft_lc_warm"))
    val (served, phases) = lifecycle(Files.createTempDirectory("graft_lc"))
    val jobs = phases.flatMap(_._2)
    info(s"${jobs.size} jobs: " +
      phases.map { case (p, js) => s"$p ${js.size}" }.mkString(", "))
    assert(served == warm && served.size == 27)
    assert(!jobs.exists(_.inference), jobs.filter(_.inference))
    phases.foreach { case (p, js) =>
      assert(js.size <= PhaseCeilings(p),
        s"$p: ${js.size} jobs\n" + js.map(_.site).mkString("\n"))
    }
    assert(jobs.size <= JobCeiling, jobs.map(_.site).mkString("\n"))
  }
}
