package graphbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and prints its result as the last
  * line of standard output, prefixed with `RESULT `.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --results <file prefix> --cores <n> --launched-ms <epoch ms>`.
  * With `--trace 0` the result holds the end-to-end metrics; with
  * `--trace 1` it holds the per-layer metrics, and the spans go to
  * `<results>.trace.json`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: java.io.File, results: String, cores: Int, launchedMs: Long)

  /** Untimed warm-up operations before the timed window, and the fewest
    * operations the window may hold. Operation times still fall inside
    * the window, so a window that ends on a count rather than on
    * `--seconds` (the benchmark passes 1) times the same operations in a
    * fast run and a slow one. */
  final case class Plan(warmups: Int, minOps: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      new java.io.File(m("work")).getAbsoluteFile, m("results"), m("cores").toInt,
      m("launched-ms").toLong)
  }

  def session(a: Args): SparkSession = {
    val b = graft.core.GraftSession.builder(s"local[${a.cores}]", a.cores.toString)
      .config("spark.local.dir", new java.io.File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(a.work, "warehouse").getPath)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
    if (a.trace)
      b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
        .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(a: Args, spark: SparkSession): (Workload, Plan) = a.workload match {
    case "graph_full_refresh" =>
      (new GraphFullRefresh(spark, a.seed, a.work, devicePages = 5, cloudPcPages = 3,
        auditEventPages = 4), Plan(warmups = 5, minOps = 3))
    case "graph_delta_sync" =>
      (new GraphDeltaSync(spark, a.seed, a.work, devices = 10000),
        Plan(warmups = 3, minOps = 4))
    case "stream_lifecycle" =>
      (new StreamLifecycle(spark, a.seed, a.work, vectors = 2000),
        Plan(warmups = 2, minOps = 2))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Peak resident set size of this process (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** The machine's CPU time since boot as (steal, all states), in clock
    * ticks, from the first line of /proc/stat. */
  private def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = f.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
      (if (t.length > 7) t(7) else 0L, t.sum)
    } finally f.close()
  }

  /** CPU time this process has used, in seconds. */
  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    val spark = session(a)
    val sessionMs = System.currentTimeMillis()
    val tr = new Tracer(spark)
    val (wl, plan) = workload(a, spark)
    val problems = ArrayBuffer[String]()
    var op = 0
    /** One operation: untimed preparation, the timed run, the check. */
    def operation(traced: Boolean): (Double, Long, Boolean) = {
      wl.beforeOp(op)
      // start every operation from a collected heap, so garbage left by
      // the previous operation and its check does not land in this one
      System.gc()
      tr.beginOp(op, traced, wl.sampleTargets)
      val rows = try wl.run(op, tr) finally tr.endOp()
      val wall = tr.lastWall
      val found = wl.check(op)
      found.foreach(p => problems += s"op $op: $p")
      wl.afterOp(op)
      op += 1
      (wall, rows, found.isEmpty)
    }
    var attempted = 0
    var failed = 0
    val walls = ArrayBuffer[Double]()
    val untracedWalls = ArrayBuffer[Double]()
    var rows = 0L
    var setupS = 0.0
    var selfTest = false
    // where the timed window's time went: this JVM's CPU seconds and the
    // share of the machine's CPU time stolen by the hypervisor
    var window = Seq.empty[(String, Double)]
    try {
      val prepareStart = System.nanoTime()
      wl.prepare()
      val installStart = System.nanoTime()
      wl.install()
      System.err.println(f"[graphbench] session ${(sessionMs - a.launchedMs) / 1e3}%.2f s, " +
        f"prepare ${(installStart - prepareStart) / 1e9}%.2f s, " +
        f"install ${seconds(installStart)}%.2f s")
      val warm = (1 to plan.warmups).map(_ => operation(traced = false)._1)
      System.err.println(s"[graphbench] warm-up op times: ${warm.map(w => f"$w%.3f").mkString(" ")}")
      selfTest = wl.corruptionDetected()
      if (!selfTest) problems += "self-test: a corrupted output passed the check"
      setupS = (System.currentTimeMillis() - a.launchedMs) / 1e3
      val t0 = System.nanoTime()
      val (steal0, ticks0) = cpuTicks()
      val cpu0 = processCpuS()
      while (seconds(t0) < a.seconds || walls.size < plan.minOps) {
        attempted += 1
        val traced = a.trace && walls.size % 2 == 0
        val (wall, r, ok) = operation(traced)
        if (!ok) failed += 1
        walls += wall
        if (!traced) untracedWalls += wall
        rows += r
      }
      val (steal1, ticks1) = cpuTicks()
      window = Seq("wall_s" -> seconds(t0), "process_cpu_s" -> (processCpuS() - cpu0),
        "steal_share" -> (steal1 - steal0).toDouble / math.max(1L, ticks1 - ticks0))
      System.err.println("[graphbench] timed window: " +
        window.map { case (k, v) => f"$k $v%.3f" }.mkString(", "))
    } catch { case scala.util.control.NonFatal(e) =>
      // an operation that threw was attempted but never recorded
      failed += attempted - walls.size
      problems += s"op $op threw ${e.getClass.getName}: ${e.getMessage}"
      e.printStackTrace()
    }
    System.err.println(s"[graphbench] timed op times: ${walls.map(w => f"$w%.3f").mkString(" ")}")
    problems.take(20).foreach(p => System.err.println(s"[graphbench] $p"))
    try wl.close() finally spark.stop()

    val metrics: Seq[(String, Double, String)] =
      if (a.trace) tr.summary(untracedWalls.toSeq)
      else Seq(
        ("op_s_p50", Stats.median(walls.toSeq), "s"),
        ("rows_per_s", if (walls.isEmpty) 0.0 else rows / walls.sum, "rows/s"),
        ("setup_s", setupS, "s"),
        ("peak_rss_mb", peakRssMb(), "MiB"))
    val result = Json.Obj(Seq(
      "correct" -> (problems.isEmpty && selfTest && attempted > 0),
      "attempted" -> math.max(attempted, 1),
      "failed" -> (if (attempted == 0) 1 else failed),
      "metrics" -> Json.Obj(metrics.map { case (n, v, u) =>
        n -> Json.Obj(Seq("value" -> v, "unit" -> u)) })))
    val detail = Json.Obj(Seq("workload" -> a.workload, "seed" -> a.seed,
      "trace" -> a.trace, "op_walls_s" -> Json.Arr(walls.toSeq),
      "timed_window" -> Json.Obj(window), "result" -> result,
      "problems" -> Json.Arr(problems.toSeq)))
    def write(path: String, doc: Json.Obj): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        Json.render(doc).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    write(a.results + ".json", detail)
    if (a.trace) write(a.results + ".trace.json", tr.document())
    println("RESULT " + Json.render(result))
  }
}
