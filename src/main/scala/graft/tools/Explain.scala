package graft.tools

import graft.SparkEntry
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftbridge.ListenerBusBridge
import scala.collection.mutable
import scala.util.control.NonFatal

/** Plan inspector and per-job profiler for named SparkEntry queries.
  * Per query it prints the formatted physical plan, the row count, the
  * build and total wall time (measured as Bench measures them), one
  * line per Spark job — submit→complete wall, the driver gap since the
  * previous job ended, stage and task counts, call site — and the
  * summed job wall, so "which job is the 2 s" is measured instead of
  * guessed. It also counts the classes Janino compiled meanwhile and
  * their compile time. Usage:
  *   runMain graft.tools.Explain <sfDir> <query> [query...]
  */
object Explain {
  /** One Spark job of a profiled query; times are epoch millis. */
  final case class Job(id: Int, site: String, submitted: Long,
      completed: Long, stages: Int, tasks: Int) {
    def wallSec: Double = (completed - submitted) / 1e3
  }

  /** One profiled query. `drained` is false when listener delivery
    * timed out, so `jobs` may miss the tail. `compiles` and
    * `compileSec` are the generated classes compiled while it built
    * and counted (JVM-wide, so the driver's and the local executors')
    * and their summed compile time. */
  final case class Profile(name: String, plan: String, rows: Long,
      buildSec: Double, totalSec: Double, jobs: Seq[Job],
      drained: Boolean, compiles: Long, compileSec: Double) {
    def jobWallSec: Double = jobs.map(_.wallSec).sum
  }

  /** The warm-up directory for `sfDir`: its smallest sibling SF
    * directory (by `documents.parquet` size). Warming on the profiled
    * directory would pre-build its memoized shared fixtures (shared
    * IVF ingest, arrival slices, capacity ingest), and the profile
    * would silently omit the jobs the bench-timed query pays. */
  def siblingWarmDir(sfDir: String): Option[String] = {
    val dir = new java.io.File(sfDir)
    Option(dir.getAbsoluteFile.getParentFile)
      .flatMap(p => Option(p.listFiles())).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isDirectory && f.getAbsolutePath != dir.getAbsolutePath
        && new java.io.File(f, "documents.parquet").exists())
      .sortBy(f => new java.io.File(f, "documents.parquet").length())
      .headOption.map(_.getPath)
  }

  /** Runs each query once on the warm-up directory so the profile
    * measures the queries, not first-touch classloading and codegen.
    * Falls back to the profiled directory when it has no sibling.
    * Returns the caveats to print: a fallback and a failed warm-up
    * are both reported, never silent. */
  def warmUp(spark: SparkSession, sfDir: String,
      names: Seq[String]): Seq[String] = {
    val warm = siblingWarmDir(sfDir)
    val fallback = warm.fold(Seq("[explain] CAVEAT: warmed on the " +
      "profiled dir — per-dir shared fixtures are pre-built, so the " +
      "profile omits their jobs"))(_ => Nil)
    fallback ++ names.flatMap { name =>
      try { SparkEntry.queries(name)(spark, warm.getOrElse(sfDir)).count(); Nil }
      catch { case NonFatal(e) =>
        Seq(s"[explain] WARM-UP SKIPPED for $name " +
          s"(${e.getClass.getSimpleName}): its measured run includes " +
          "classloading/codegen")
      } finally spark.catalog.clearCache()
    }
  }

  /** Builds and counts one query with a job listener attached. Build
    * and total time cover construction + count exactly as Bench times
    * them (effectful queries — streaming twins, trained models — do
    * their real work during construction). The listener bus is drained
    * after the count, outside the timed region. */
  def profile(spark: SparkSession, sfDir: String, name: String): Profile = {
    val sc = spark.sparkContext
    val jobs = mutable.Map[Int, Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        jobs.synchronized {
          jobs(e.jobId) = Job(e.jobId, site, e.time, 0L,
            e.stageInfos.size, e.stageInfos.map(_.numTasks).sum)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(completed = e.time))
      }
    }
    spark.catalog.clearCache()
    sc.addSparkListener(listener)
    try {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val rows = df.count()
      val totalSec = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileSec = (CodeGenerator.compileTime - compileNs0) / 1e9
      val drained = ListenerBusBridge.drain(sc)
      val ran = jobs.synchronized(jobs.values.toSeq.sortBy(_.id))
      Profile(name, df.queryExecution.explainString(FormattedMode), rows,
        buildSec, totalSec, ran, drained, compiles, compileSec)
    } finally {
      sc.removeSparkListener(listener)
      spark.catalog.clearCache()
    }
  }

  def report(p: Profile): Seq[String] = {
    var prevEnd = 0L
    val gaps = p.jobs.map { j =>
      // time between the latest earlier job end and this job's submit =
      // driver-side work (plan build, fs ops, collect processing); a
      // job submitted while another still runs has no gap
      val gap = if (prevEnd == 0) 0.0 else math.max(0L, j.submitted - prevEnd) / 1e3
      prevEnd = math.max(prevEnd, j.completed)
      gap
    }
    val jobLines = p.jobs.zip(gaps).map { case (j, gap) =>
      f"[job] id=${j.id}%-4d wall=${j.wallSec}%6.3fs gap=$gap%6.3fs " +
        f"stages=${j.stages}%-2d tasks=${j.tasks}%-4d ${j.site.take(45)}"
    }
    Seq(s"===== ${p.name} =====", p.plan,
      f"[${p.name}] rows=${p.rows} build=${p.buildSec}%.2fs " +
        f"total=${p.totalSec}%.2fs jobs=${p.jobs.size} " +
        f"compiles=${p.compiles} compile=${p.compileSec}%.2fs") ++
      (if (p.drained) Nil
       else Seq("[explain] CAVEAT: listener bus did not drain; the job " +
         "table may miss the last jobs")) ++
      (if (p.compiles == 0) Nil
       else Seq(f"[explain] CAVEAT: ${p.compiles} classes compiled " +
         f"(${p.compileSec}%.2fs) after the warm-up; the times include " +
         "that codegen")) ++
      jobLines :+
      f"[${p.name}] sum(job walls)=${p.jobWallSec}%.2fs " +
        f"sum(gaps)=${gaps.sum}%.2fs of ${p.totalSec}%.2fs " +
        "(jobs may overlap)"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1).toSeq
    val spark = graft.core.GraftSession.local(32)
    warmUp(spark, sfDir, names).foreach(println)
    names.foreach(name => report(profile(spark, sfDir, name)).foreach(println))
    spark.stop()
  }
}
