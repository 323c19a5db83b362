package graphbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, when}
import org.apache.spark.sql.types.StructType
import graft.core.{EntitySchemas, SchemaConform}
import graft.operators.{Sinks, Transforms}
import graft.pipeline.IncrementalSync
import graft.sources.ODataPageReader
import Canon.{Digest, Ts}

/** What the graph workloads share: the tenant, the stub server and the
  * digest check. */
abstract class GraphWorkload(spark: SparkSession, seed: Long, work: java.io.File)
    extends Workload {
  protected val server = new StubODataServer
  protected var tenant: GraphTenant = _
  /** The reference's 429 loop: up to five tries, here without sleeping. */
  protected val maxRetries = 5
  protected val loadTime: java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse("2026-01-01T06:00:00Z"))
  protected val loadTs: Ts = Ts(Canon.isoMicros("2026-01-01T06:00:00Z"))

  protected def dir(name: String): String = new java.io.File(work, name).getAbsolutePath

  protected def digestProblems(what: String, expected: Digest,
      actual: Digest): Seq[String] =
    if (expected == actual) Nil
    else Seq(s"$what: expected ${expected.rows} rows / digest ${expected.sum}, " +
      s"got ${actual.rows} rows / digest ${actual.sum}")

  /** Copies of `df` with one row's `column` altered and with one row
    * missing; the check must reject both. */
  protected def corruptions(df: DataFrame, column: String): Seq[DataFrame] = {
    val victim = df.select("id").orderBy("id").head().getString(0)
    Seq(
      df.withColumn(column, when(col("id") === victim,
        concat(col(column).cast("string"), lit("x"))).otherwise(col(column))),
      df.filter(col("id") =!= victim))
  }

  override def close(): Unit = server.close()
}

/** `graph_full_refresh`: the paper's runbook for one tenant. Every
  * operation walks each entity's pages over HTTP through the retrying
  * fetcher, applies the entity's transform, conforms to the sink schema,
  * stamps a batch-constant load time and swaps in the new snapshot. Each
  * entity fills the given number of pages, so every seed walks the same
  * chains. */
final class GraphFullRefresh(spark: SparkSession, seed: Long, work: java.io.File,
    devicePages: Int, cloudPcPages: Int, auditEventPages: Int)
    extends GraphWorkload(spark, seed, work) {
  val name = "graph_full_refresh"

  import GraphFullRefresh.Entity
  private var entities: Seq[Entity] = Nil

  def prepare(): Unit = {
    val t = new GraphTenant(seed)
    val (devices, cloudPcs, auditEvents) =
      (devicePages * t.pageSize, cloudPcPages * t.pageSize, auditEventPages * t.pageSize)
    def entity(name: String, path: String, rows: IndexedSeq[Json.Obj],
        sinkRow: Json.Obj => Seq[Any], source: StructType,
        transform: DataFrame => DataFrame, sink: StructType,
        sinkCols: Seq[String]) = {
      val url = s"${server.base}/beta/deviceManagement/$path"
      Entity(name, url, source, transform, sink, sinkCols, rows.size,
        Canon.of(rows.map(sinkRow)), dir(s"snapshot/$name"),
        t.pages(url, s"https://graph.microsoft.com/beta/$$metadata#$path", rows))
    }
    entities = Seq(
      entity("managedDevices", "managedDevices",
        (0 until devices).map(t.device(_, 0)), t.deviceSinkRow(_, loadTs),
        EntitySchemas.managedDeviceSource, Transforms.managedDevices,
        EntitySchemas.managedDeviceSink, t.deviceSinkCols),
      entity("cloudPCs", "virtualEndpoint/cloudPCs",
        (0 until cloudPcs).map(t.cloudPc), t.cloudPcSinkRow(_, loadTs),
        EntitySchemas.cloudPcSource, Transforms.cloudPcs,
        EntitySchemas.cloudPcSink, t.cloudPcSinkCols),
      entity("auditEvents", "virtualEndpoint/auditEvents",
        (0 until auditEvents).map(t.auditEvent), t.auditEventSinkRow(_, loadTs),
        EntitySchemas.auditEventSource, Transforms.auditEvents,
        EntitySchemas.auditEventSink, t.auditEventSinkCols))
    tenant = t
  }

  def install(): Unit = {
    val all = entities.flatMap(_.pages.map(_._1))
    // a fixed, seeded 2 % of the page requests answer 429 once per operation
    val r = tenant.rng(9)
    val throttled = new scala.util.Random(r.nextLong())
      .shuffle(all).take(math.max(1, math.round(all.size * 0.02).toInt)).toSet
    entities.foreach(_.pages.foreach { case (u, b) => server.put(u, b, throttled(u)) })
  }

  def run(op: Int, tr: Tracer): Long = {
    server.resetOperation()
    entities.foreach { e =>
      tr.span(s"entity.${e.name}") {
        val raw = tr.span("sources.readPages") {
          ODataPageReader.readPages(spark, e.firstUrl, e.source,
            fetcher = tr.fetcher(maxRetries))
        }
        val shaped = tr.span("conform.transform")(e.transform(raw))
        val conformed = tr.span("conform.conform") {
          SchemaConform.conform(shaped, e.sink)
            .withColumn("timeGenerated", lit(loadTime))
        }
        tr.span("sinks.overwriteViaSwap")(Sinks.overwriteViaSwap(spark, conformed, e.out))
      }
    }
    entities.map(_.rows).sum
  }

  def check(op: Int): Seq[String] = entities.flatMap { e =>
    digestProblems(e.name, e.expected,
      Canon.ofFrame(spark.read.parquet(e.out), e.sinkCols))
  }

  def corruptionDetected(): Boolean = {
    val e = entities.head
    corruptions(spark.read.parquet(e.out), "deviceName").forall(bad =>
      digestProblems(e.name, e.expected, Canon.ofFrame(bad, e.sinkCols)).nonEmpty)
  }
}

object GraphFullRefresh {
  private final case class Entity(name: String, firstUrl: String,
      source: StructType, transform: DataFrame => DataFrame, sink: StructType,
      sinkCols: Seq[String], rows: Long, expected: Digest, out: String,
      pages: Seq[(String, String)])
}

/** `graph_delta_sync`: one scheduled incremental round per operation.
  * The round follows the persisted cursor through a two-page delta
  * chain (about 1 % of the ids changed, a tenth of them tombstones) and
  * merges it into the managed-device snapshot. */
final class GraphDeltaSync(spark: SparkSession, seed: Long, work: java.io.File,
    devices: Int) extends GraphWorkload(spark, seed, work) {
  val name = "graph_delta_sync"
  private val snapshot = dir("delta/managedDevices")
  private val cursor = dir("delta/managedDevices.cursor")
  private val context = "https://graph.microsoft.com/beta/$metadata#managedDevices"
  private val changes = math.max(20, devices / 100)
  private var model: DeviceModel = _
  private var initialPages: Seq[(String, String)] = Nil
  private var roundPages: Seq[String] = Nil

  override val sampleTargets: Seq[Tracer.SampleTarget] = Seq(
    Tracer.SampleTarget("graft.sources.ODataPageReader$", "readDeltaPages",
      "sources.readDeltaPages"),
    Tracer.SampleTarget("graft.operators.Sinks$", "overwriteViaSwap",
      "sinks.overwriteViaSwap"),
    Tracer.SampleTarget("graft.pipeline.IncrementalSync$", "saveCursor",
      "pipeline.saveCursor"))

  private def deltaUrl(round: Int) =
    if (round == 0) s"${server.base}/beta/deviceManagement/managedDevices/delta"
    else s"${server.base}/beta/deviceManagement/managedDevices/delta?$$deltatoken=r$round"

  def prepare(): Unit = {
    val t = new GraphTenant(seed)
    model = new DeviceModel(t, devices, changes, math.max(1, changes / 10))
    initialPages = t.pages(deltaUrl(0), context, model.current,
      Some("@odata.deltaLink" -> deltaUrl(1)))
    tenant = t
  }

  /** Publishes the initial chain and runs the first (full) sync. */
  def install(): Unit = {
    initialPages.foreach { case (u, b) => server.put(u, b) }
    IncrementalSync.runRound(spark, deltaUrl(0), EntitySchemas.managedDeviceSource,
      snapshot, cursor, fetcher = new graft.sources.v2.RetryingPageFetcher(
        new graft.sources.v2.HttpPageFetcher(None), maxRetries, 0L))
    initialPages.foreach { case (u, _) => server.remove(u) }
    val problems = check(-1)
    require(problems.isEmpty, problems.mkString("; "))
  }

  /** Round op+1's two pages; the chain ends with the next round's cursor. */
  override def beforeOp(op: Int): Unit = {
    val round = op + 1
    roundPages.foreach(server.remove)
    val records = model.advance(round)
    val (first, second) = records.splitAt(records.size / 2)
    val r = tenant.rng(10, round)
    val url2 = s"${deltaUrl(round)}&$$skiptoken=2"
    server.put(deltaUrl(round), Json.render(Json.Obj(Seq(
      "@odata.context" -> context, "value" -> Json.Arr(first),
      "@odata.nextLink" -> url2))), throttle = r.nextInt(50) == 0)
    server.put(url2, Json.render(Json.Obj(Seq(
      "@odata.context" -> context, "value" -> Json.Arr(second),
      "@odata.deltaLink" -> deltaUrl(round + 1)))), throttle = r.nextInt(50) == 0)
    roundPages = Seq(deltaUrl(round), url2)
    server.resetOperation()
  }

  def run(op: Int, tr: Tracer): Long = {
    val start = tr.span("pipeline.loadCursor")(IncrementalSync.loadCursor(spark, cursor))
      .getOrElse(throw new IllegalStateException("no persisted cursor"))
    tr.span("pipeline.runRound") {
      IncrementalSync.runRound(spark, start, EntitySchemas.managedDeviceSource,
        snapshot, cursor, fetcher = tr.fetcher(maxRetries))
    }
    changes.toLong
  }

  def check(op: Int): Seq[String] = {
    val next = deltaUrl(op + 2)
    val saved = IncrementalSync.loadCursor(spark, cursor)
    (if (saved.contains(next)) Nil else Seq(s"cursor: expected $next, got $saved")) ++
      digestProblems("snapshot", model.digest,
        Canon.ofFrame(spark.read.parquet(snapshot), tenant.deviceSourceCols))
  }

  def corruptionDetected(): Boolean =
    corruptions(spark.read.parquet(snapshot), "osVersion").forall(bad =>
      digestProblems("snapshot", model.digest,
        Canon.ofFrame(bad, tenant.deviceSourceCols)).nonEmpty)
}
