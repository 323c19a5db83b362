package graphbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sources.v2.{PageCursor, PageFetcher}

/** Spans and per-layer counters for traced operations.
  *
  * Outside a traced operation every hook is a pass-through. A traced
  * operation registers Spark's listeners (jobs, stages and tasks;
  * query executions; streaming progress), switches the counting
  * filesystem on and records a span around each call the benchmark
  * makes into an engine layer. Calls the engine makes internally can be
  * attributed by sampling the operation thread's stack
  * ([[SampleTarget]]). After the operation a marker job drains the
  * listener bus, the listeners are removed again and the operation's
  * metrics are computed, so an untraced operation runs with no listener
  * of this class attached. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val t0Ns = System.nanoTime()
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  @volatile private var active = false
  private var op = -1
  private var opStartMs = 0L
  private var opStartNs = 0L
  private val counters = mutable.Map[String, Double]()
  private var fsBefore = Map.empty[String, Long]
  private var recoverBefore = 0L
  private var sampler: Option[Sampler] = None
  private val perOp = ArrayBuffer[Map[String, Double]]()
  private val batchDurations = ArrayBuffer[Double]()
  private val tracedWalls = ArrayBuffer[Double]()
  private val layerSelf = ArrayBuffer[Map[String, Double]]()

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.size, op, name, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime(), 0L, sampled = false)
      spans += s
      stack = s :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  def add(name: String, v: Double): Unit =
    if (active) counters.synchronized {
      counters(name) = counters.getOrElse(name, 0.0) + v
    }

  /** The transport for one traced or untraced page walk: the engine's
    * retrying HTTP fetcher, wrapped (when traced) to time each page and
    * count attempts, pages and bytes. */
  def fetcher(maxRetries: Int): PageFetcher = {
    val http = new graft.sources.v2.HttpPageFetcher(None)
    if (!active) new graft.sources.v2.RetryingPageFetcher(http, maxRetries, 0L)
    else new TimedFetcher(new graft.sources.v2.RetryingPageFetcher(
      new CountingFetcher(http, this), maxRetries, 0L), this)
  }

  def beginOp(i: Int, traced: Boolean, targets: Seq[SampleTarget]): Unit = {
    op = i
    if (traced) {
      events.clear()
      executions.synchronized(executions.records.clear())
      streams.clear()
      spark.sparkContext.addSparkListener(events)
      spark.listenerManager.register(executions)
      spark.streams.addListener(streams)
      counters.clear()
      fsBefore = CountingFileSystem.snapshot()
      recoverBefore = CountingFileSystem.recoverNanos()
      CountingFileSystem.enabled = true
      if (targets.nonEmpty) {
        val s = new Sampler(Thread.currentThread(), targets)
        s.start()
        sampler = Some(s)
      }
      active = true
    }
    opStartMs = System.currentTimeMillis()
    opStartNs = System.nanoTime()
  }

  /** Wall time of the last ended operation, in seconds. */
  var lastWall = 0.0

  /** Ends the current operation and, when traced, computes its metrics. */
  def endOp(): Unit = {
    val endNs = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val wall = (endNs - opStartNs) / 1e9
    lastWall = wall
    if (!active) return
    active = false
    CountingFileSystem.enabled = false
    val fsAfter = CountingFileSystem.snapshot()
    val recoverS = (CountingFileSystem.recoverNanos() - recoverBefore) / 1e9
    sampler.foreach { s => s.halt(); addSampledSpans(s.result(), endNs) }
    sampler = None
    drain()
    spark.sparkContext.removeSparkListener(events)
    spark.listenerManager.unregister(executions)
    spark.streams.removeListener(streams)
    tracedWalls += wall
    perOp += opMetrics(wall, opStartMs, endMs, fsAfter) + ("sinks.recover_s" -> recoverS)
    layerSelf += selfTimes(spans.filter(_.op == op).toSeq)
  }

  private def drain(): Unit = {
    val issued = System.currentTimeMillis()
    val sc = spark.sparkContext
    sc.setJobDescription(markerDescription)
    try spark.range(0, 2, 1, 2).toDF("graphbench_marker").collect()
    finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    def drained: Boolean =
      events.synchronized(events.jobs.exists(j => j.marker && j.end >= 0)) &&
        executions.synchronized(executions.records.exists(_.startMs >= issued)) &&
        streams.synchronized(streams.started.subsetOf(streams.terminated))
    while (!drained && System.nanoTime() < deadline) Thread.sleep(2)
    if (!drained) System.err.println(s"[graphbench] listener drain timed out after op $op")
  }

  private def opMetrics(wall: Double, startMs: Long, endMs: Long,
      fsAfter: Map[String, Long]): Map[String, Double] = {
    def inWindow(t: Long) = t >= startMs && t <= endMs
    val m = mutable.LinkedHashMap[String, Double]()
    val opSpans = spans.filter(_.op == op)
    def spanSum(names: Set[String]) =
      opSpans.filter(s => names(s.name)).map(_.durS).sum
    spanMetrics.foreach { case (metric, names) => m(metric) = spanSum(names) }
    val c = counters.synchronized(counters.toMap)
    val pages = c.getOrElse("sources.pages", 0.0)
    val attempts = c.getOrElse("sources.attempts", 0.0)
    m("sources.pages") = pages
    m("sources.http_bytes") = c.getOrElse("sources.http_bytes", 0.0)
    m("sources.retries") = attempts - pages
    m("sources.pages_per_attempt") = if (attempts > 0) pages / attempts else 0.0

    val (jobs, stageTimes, tasks) = events.synchronized(
      (events.jobs.filter(j => !j.marker && inWindow(j.start)).toSeq,
        events.stageSubmissions.filter(inWindow).toSeq,
        events.tasks.filter(t => inWindow(t.launch)).toSeq))
    val execs = executions.synchronized(
      executions.records.filter(r => inWindow(r.startMs)).toSeq)
    m("catalyst.analysis_s") = execs.map(_.analysisS).sum
    m("catalyst.optimization_s") = execs.map(_.optimizationS).sum
    m("catalyst.planning_s") = execs.map(_.planningS).sum
    m("catalyst.executions") = execs.size
    m("scheduler.jobs") = jobs.size
    m("scheduler.stages") = stageTimes.size
    m("scheduler.tasks") = tasks.size
    val busy = unionMs(jobs.map(j => (j.start max startMs,
      (if (j.end >= 0) j.end else endMs) min endMs))) / 1e3
    m("scheduler.driver_gap_s") = math.max(0.0, wall - busy)
    val run = tasks.map(_.runMs).sum / 1e3
    m("executor.run_s") = run
    m("executor.busy_cores") = run / wall
    m("executor.gc_s") = tasks.map(_.gcMs).sum / 1e3
    m("io.input_bytes") = tasks.map(_.inBytes).sum.toDouble
    m("io.output_bytes") = tasks.map(_.outBytes).sum.toDouble
    m("io.shuffle_read_bytes") = tasks.map(_.shuffleRead).sum.toDouble
    m("io.shuffle_write_bytes") = tasks.map(_.shuffleWrite).sum.toDouble
    m("io.spill_bytes") = tasks.map(_.spill).sum.toDouble
    CountingFileSystem.names.foreach { n =>
      m(n) = (fsAfter(n) - fsBefore.getOrElse(n, 0L)).toDouble
    }
    val progress = streams.synchronized(streams.progress.toSeq)
    val batches = progress.filter(_._2 > 0)
    batchDurations ++= batches.map(_._1 / 1e3)
    m("streaming.microbatches") = batches.size
    val streamingCalls = opSpans.count(s => !s.sampled && s.name.startsWith("streaming."))
    m("streaming.jobs_per_call") =
      if (streamingCalls > 0) jobs.size.toDouble / streamingCalls else 0.0
    m.toMap
  }

  private def addSampledSpans(samples: Seq[(Long, String)], endNs: Long): Unit = {
    val direct = spans.filter(s => s.op == op && !s.sampled).toSeq
    var i = 0
    while (i < samples.length) {
      val label = samples(i)._2
      var j = i
      while (j < samples.length && samples(j)._2 == label) j += 1
      if (label != null) {
        val start = samples(i)._1
        val end = if (j < samples.length) samples(j)._1 else endNs
        val mid = (start + end) / 2
        val parent = direct.filter(d => d.startNs <= mid && d.endNs >= mid)
          .sortBy(d => d.endNs - d.startNs).headOption.map(_.id).getOrElse(-1)
        val s = Span(spans.size, op, label, parent, start, end, sampled = true)
        spans += s
        // a direct span the sampled call encloses becomes its child
        direct.filter(d => d.parent == parent && d.startNs >= start &&
            d.endNs <= end).foreach(_.parent = s.id)
      }
      i = j
    }
  }

  /** Per-layer self time: each span's duration minus the part of it its
    * children cover, summed by layer (the span name's first segment). */
  private def selfTimes(opSpans: Seq[Span]): Map[String, Double] = {
    val children = opSpans.groupBy(_.parent)
    opSpans.groupBy(s => s.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = unionMs(children.getOrElse(s.id, Nil).map(c =>
          ((c.startNs max s.startNs) / 1000L, (c.endNs min s.endNs) / 1000L))) / 1e6
        s.durS - covered
      }.sum
    }
  }

  /** Metrics of the traced run: each per-operation metric's mean over the
    * traced operations, the median micro-batch duration and the tracing
    * overhead (traced minus untraced median operation time, given the
    * untraced operations of the same timed window). */
  def summary(untracedWalls: Seq[Double]): Seq[(String, Double, String)] = {
    def mean(k: String) =
      if (perOp.isEmpty) 0.0 else perOp.map(_.getOrElse(k, 0.0)).sum / perOp.size
    val keys = perOp.headOption.map(_.keys.toSeq).getOrElse(Nil)
    keys.map(k => (k, mean(k), unitOf(k))) ++ Seq(
      ("streaming.batch_s_p50", Stats.median(batchDurations.toSeq), "s"),
      ("trace.op_s_p50", Stats.median(tracedWalls.toSeq), "s"),
      ("trace.overhead_s",
        Stats.median(tracedWalls.toSeq) - Stats.median(untracedWalls), "s"),
      ("trace.ops", tracedWalls.size.toDouble, "count"))
  }

  /** The trace document: spans, per-operation metrics and self times. */
  def document(): Json.Obj = {
    def rel(ns: Long) = (ns - t0Ns) / 1e9
    val layers = layerSelf.flatMap(_.keys).distinct.sorted
    Json.Obj(Seq(
      "spans" -> Json.Arr(spans.toSeq.map(s => Json.Obj(Seq(
        "id" -> s.id, "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> rel(s.startNs), "end_s" -> rel(s.endNs),
        "sampled" -> s.sampled)))),
      "layer_self_s_per_op" -> Json.Obj(layers.map(l =>
        l -> (layerSelf.map(_.getOrElse(l, 0.0)).sum / layerSelf.size.max(1))).toSeq),
      "per_op" -> Json.Arr(perOp.toSeq.map(m => Json.Obj(m.toSeq.sortBy(_._1)))),
      "traced_walls_s" -> Json.Arr(tracedWalls.toSeq)))
  }

  // ------------------------------------------------------------ listeners

  private object events extends SparkListener {
    val jobs = ArrayBuffer[JobRec]()
    val stageSubmissions = ArrayBuffer[Long]()
    val tasks = ArrayBuffer[TaskRec]()
    def clear(): Unit = synchronized {
      jobs.clear(); stageSubmissions.clear(); tasks.clear()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
      jobs += new JobRec(e.jobId, e.time, -1L, desc.contains(markerDescription))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stageSubmissions += e.stageInfo.submissionTime.getOrElse(-1L) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) synchronized {
        tasks += TaskRec(e.taskInfo.launchTime, m.executorRunTime, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private object executions extends QueryExecutionListener {
    val records = ArrayBuffer[ExecRec]()
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def dur(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      val start = if (ph.isEmpty) System.currentTimeMillis()
        else ph.values.map(_.startTimeMs).min
      synchronized {
        records += ExecRec(start, dur("analysis"), dur("optimization"),
          dur("planning"))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
  }

  private object streams extends StreamingQueryListener {
    val started = mutable.Set[java.util.UUID]()
    val terminated = mutable.Set[java.util.UUID]()
    /** (batch duration in ms, input rows) per reported micro-batch. */
    val progress = ArrayBuffer[(Long, Long)]()
    def clear(): Unit = synchronized {
      started.clear(); terminated.clear(); progress.clear()
    }
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      synchronized { started += e.id }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { progress += ((e.progress.batchDuration, e.progress.numInputRows)) }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      synchronized { terminated += e.id }
  }

}

object Tracer {
  val markerDescription = "graphbench-listener-drain"

  private final case class Span(id: Int, op: Int, name: String, var parent: Int,
      startNs: Long, var endNs: Long, sampled: Boolean) {
    def durS: Double = (endNs - startNs) / 1e9
  }
  private final class JobRec(val id: Int, val start: Long, var end: Long,
      val marker: Boolean)
  private final case class TaskRec(launch: Long, runMs: Long, gcMs: Long,
      inBytes: Long, outBytes: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long)
  private final case class ExecRec(startMs: Long, analysisS: Double,
      optimizationS: Double, planningS: Double)

  /** A method whose time is attributed by stack sampling: frames of
    * `cls.method` on the operation thread count toward span `span`. */
  final case class SampleTarget(cls: String, method: String, span: String)

  /** Per-layer metrics computed from spans: metric -> span names. */
  val spanMetrics: Seq[(String, Set[String])] = Seq(
    "sources.read_s" -> Set("sources.readPages", "sources.readDeltaPages"),
    "sources.fetch_s" -> Set("sources.fetch"),
    "conform.plan_s" -> Set("conform.transform", "conform.conform"),
    "sinks.commit_s" -> Set("sinks.overwriteViaSwap"),
    "pipeline.round_s" -> Set("pipeline.runRound"),
    "pipeline.cursor_s" -> Set("pipeline.loadCursor", "pipeline.saveCursor"),
    "streaming.ingest_s" -> Set("streaming.ivfIngest"),
    "streaming.compact_s" -> Set("streaming.compactIndex"),
    "streaming.retire_s" -> Set("streaming.retireIds"),
    "streaming.publish_s" -> Set("streaming.publishIndex"),
    "streaming.serve_s" -> Set("streaming.ivfServeTopK"))

  def unitOf(metric: String): String =
    if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_bytes")) "bytes"
    else if (metric == "executor.busy_cores") "cores"
    else if (metric == "sources.pages_per_attempt") "ratio"
    else "count"

  private def unionMs(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Samples one thread's stack every `intervalMs` and labels each
    * sample with the innermost matching target frame (or null). */
  private final class Sampler(target: Thread, targets: Seq[SampleTarget],
      intervalMs: Long = 3L) extends Thread("graphbench-sampler") {
    setDaemon(true)
    @volatile private var running = true
    private val samples = ArrayBuffer[(Long, String)]()
    override def run(): Unit = while (running) {
      val st = target.getStackTrace
      val label = st.iterator.flatMap(f => targets.find(t =>
        t.method == f.getMethodName && t.cls == f.getClassName)).nextOption()
        .map(_.span).orNull
      samples.synchronized(samples += ((System.nanoTime(), label)))
      Thread.sleep(intervalMs)
    }
    def halt(): Unit = { running = false; join() }
    def result(): Seq[(Long, String)] = samples.synchronized(samples.toSeq)
  }

  private final class CountingFetcher(inner: PageFetcher,
      @transient tr: Tracer) extends PageFetcher {
    override def fetch(path: String): String = {
      tr.add("sources.attempts", 1)
      inner.fetch(path)
    }
  }

  private final class TimedFetcher(inner: PageFetcher, @transient tr: Tracer)
      extends PageFetcher {
    override def fetch(path: String): String = tr.span("sources.fetch") {
      val body = inner.fetch(path)
      tr.add("sources.pages", 1)
      tr.add("sources.http_bytes", PageCursor.utf8Length(body).toDouble)
      body
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
