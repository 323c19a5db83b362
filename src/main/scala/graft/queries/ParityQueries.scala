package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.sql.Timestamp
import graft.core.{EntitySchemas, SchemaConform}
import graft.operators.{Sinks, Transforms}
import graft.sources.ODataPageReader

/** Parity queries P1–P8 (SURVEY.md §2.3 P1–P5 + connector/expand/delta
  * extensions): the reference's two pipelines end-to-end over
  * Graph-shaped JSON fixtures, oracle-checked by DuckDB reading the
  * same fixture files with read_json.
  *
  * Load timestamps are fixed constants (not wall clock) so results are
  * deterministic and the batch-constant `timeGenerated` semantics
  * (one GETDATE() per load, MD-SQL:177) are directly visible in the
  * oracle comparison.
  */
object ParityQueries {

  def fixtureRoot: String =
    sys.env.getOrElse("GRAFT_REPO", "/root/repo") +
      "/src/main/resources/graft/fixtures"

  val ts1: Timestamp = Timestamp.valueOf("2024-09-01 00:00:00")
  val ts2: Timestamp = Timestamp.valueOf("2024-11-08 00:00:00")

  // ------------------------------------------------------ Spark pipelines

  /** P1: ManagedDevices E2E — paginated extract, engine-side Windows
    * filter (O3), struct flatten + array top-1 (O10/O11), drop (O13),
    * conform (O14), batch-constant stamp (O16). */
  def managedDevicesPipeline(s: SparkSession, loadTime: Timestamp): DataFrame = {
    val raw = ODataPageReader.readPages(s,
      s"$fixtureRoot/managedDevices/page1.json",
      EntitySchemas.managedDeviceSource)
    val out = SchemaConform.conform(
      Transforms.managedDevices(raw.filter(col("operatingSystem") === "Windows")),
      EntitySchemas.managedDeviceSink)
    out.withColumn("timeGenerated", lit(loadTime))
  }

  /** P2: CloudPCs E2E — passthrough into the wider sink schema; the four
    * never-populated DDL columns conform to NULL (O14 absent rule). */
  def cloudPcsPipeline(s: SparkSession, loadTime: Timestamp): DataFrame = {
    val raw = ODataPageReader.readPages(s,
      s"$fixtureRoot/cloudPCs/page1.json", EntitySchemas.cloudPcSource)
    SchemaConform.conform(Transforms.cloudPcs(raw), EntitySchemas.cloudPcSink)
      .withColumn("timeGenerated", lit(loadTime))
  }

  /** P3: CloudPCAuditEvents E2E — actor/resources flatten (O12). */
  def auditEventsPipeline(s: SparkSession, loadTime: Timestamp): DataFrame = {
    val raw = ODataPageReader.readPages(s,
      s"$fixtureRoot/auditEvents/page1.json", EntitySchemas.auditEventSource)
    SchemaConform.conform(Transforms.auditEvents(raw),
      EntitySchemas.auditEventSink)
      .withColumn("timeGenerated", lit(loadTime))
  }

  def p01(s: SparkSession, d: String): DataFrame =
    managedDevicesPipeline(s, ts2).orderBy("id")

  def p02(s: SparkSession, d: String): DataFrame =
    cloudPcsPipeline(s, ts2).orderBy("id")

  def p03(s: SparkSession, d: String): DataFrame =
    auditEventsPipeline(s, ts2).orderBy("id")

  /** P4: snapshot-overwrite semantics (O15) — two loads into the same
    * target; the second fully replaces the first. */
  def p04(s: SparkSession, d: String): DataFrame = {
    val target = java.nio.file.Files
      .createTempDirectory("graft_p04").resolve("cloudpcs").toString
    Sinks.snapshot(cloudPcsPipeline(s, ts1).drop("timeGenerated"), target, ts1)
    Sinks.snapshot(cloudPcsPipeline(s, ts2).drop("timeGenerated"), target, ts2)
    s.read.schema(EntitySchemas.cloudPcSink).parquet(target).orderBy("id")
  }

  /** P5: retention mode (O17) — append two batches 68 days apart with a
    * 40-day window; only the second survives the age-out. */
  def p05(s: SparkSession, d: String): DataFrame = {
    val target = java.nio.file.Files
      .createTempDirectory("graft_p05").resolve("audit").toString
    Sinks.retentionAppend(s, auditEventsPipeline(s, ts1).drop("timeGenerated"),
      target, ts1, maxAgeDays = 40)
    Sinks.retentionAppend(s, auditEventsPipeline(s, ts2).drop("timeGenerated"),
      target, ts2, maxAgeDays = 40)
    // load_date is the sink's storage-layout partition column, not part
    // of the table contract — drop it from the read-back
    s.read.schema(EntitySchemas.auditEventSink).parquet(target)
      .drop("load_date").orderBy("id")
  }

  /** P6: same E2E as P1 but extracted through the DataSource V2
    * connector — the Windows filter and the column set reach the scan
    * as OData $filter/$select pushdown instead of post-scan work. */
  def p06(s: SparkSession, d: String): DataFrame = {
    val raw = s.read.format("graft-odata")
      .schema(EntitySchemas.managedDeviceSource)
      .option("firstPage", s"$fixtureRoot/managedDevices/page1.json")
      .load()
      .filter(col("operatingSystem") === "Windows")
    SchemaConform.conform(Transforms.managedDevices(raw),
        EntitySchemas.managedDeviceSink)
      .withColumn("timeGenerated", lit(ts2))
      .orderBy("id")
  }

  /** P7: $expand relationship (O4) — the connector reads a page where
    * the `detectedApps` navigation property arrives expanded as nested
    * objects; the query flattens device→app rows through the nested
    * array-of-struct column. Devices with no apps (empty or null
    * array) contribute no rows, matching OData's inner expansion. */
  def p07(s: SparkSession, d: String): DataFrame =
    s.read.format("graft-odata")
      .schema(EntitySchemas.managedDeviceExpandSource)
      .option("firstPage", s"$fixtureRoot/managedDevicesExpand/page1.json")
      .option("expand", "detectedApps")
      .load()
      .select(col("id"), explode(col("detectedApps")).as("app"))
      .select(col("id"),
        col("app.displayName").as("app_name"),
        col("app.version").as("app_version"),
        col("app.sizeInByte").as("app_bytes"))
      .orderBy("id", "app_name")

  private def expandOracle: String =
    s"""SELECT id, CAST(a.displayName AS VARCHAR) AS app_name,
       |  CAST(a.version AS VARCHAR) AS app_version,
       |  CAST(a.sizeInByte AS BIGINT) AS app_bytes
       |FROM (SELECT CAST(v.id AS VARCHAR) AS id,
       |        unnest(v.detectedApps) AS a
       |      FROM (SELECT unnest(value) AS v
       |            FROM read_json(${pages("managedDevicesExpand", 1)})))
       |ORDER BY id, app_name""".stripMargin

  /** P8: incremental delta sync — the full snapshot merged with an
    * OData delta change set (one update, one new entity, one
    * tombstone): tombstoned ids disappear, the update replaces its
    * row, the new entity appears. The reference re-extracts everything
    * every run; this is the delta-query path a Graph user adopts when
    * the entity set outgrows full refresh. */
  def p08(s: SparkSession, d: String): DataFrame = {
    val snap = ODataPageReader.readPages(s,
      s"$fixtureRoot/managedDevices/page1.json",
      EntitySchemas.managedDeviceSource)
    val (changes, _) = ODataPageReader.readDeltaPages(s,
      s"$fixtureRoot/managedDevicesDelta/page1.json",
      EntitySchemas.managedDeviceSource)
    Sinks.applyDelta(snap, changes, "id")
      .select(col("id"), col("deviceName"), col("operatingSystem"),
        col("complianceState"), col("lastSyncDateTime"))
      .orderBy("id")
  }

  /** p13: p08's delta-sync runbook executed by the STREAMING engine —
    * the change set arrives through the connector's micro-batch source
    * ([[graft.sources.v2.ODataMicroBatchStream]]: the offset IS the
    * delta cursor), each micro-batch upserting the parquet snapshot
    * via foreachBatch + [[Sinks.applyDelta]] + the crash-safe swap.
    * The fixture chain's live deltaLink is rewritten to a bounded
    * no-change cursor so the verification run terminates; a deployment
    * keeps the query running and the engine's CHECKPOINT replaces the
    * hand-persisted cursor file. Oracle: the SAME deltaOracle as
    * p08/p12 — three executions of one semantics (driver-loop, disk
    * merge, stream). */
  def p13(s: SparkSession, d: String): DataFrame = {
    val chain = p13Chain()
    val snapDir = java.nio.file.Files.createTempDirectory("graft_p13_snap")
      .resolve("snapshot").toString
    val snap0 = ODataPageReader.readPages(s,
      s"$fixtureRoot/managedDevices/page1.json",
      EntitySchemas.managedDeviceSource)
    Sinks.overwriteViaSwap(s, snap0, snapDir)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_p13_ckpt")
    val changes = s.readStream.format("graft-odata")
      .schema(EntitySchemas.managedDeviceSource.add("removed", BooleanType))
      .option("firstPage", chain.resolve("page1.json").toString)
      .option("delta", "true").load()
    val q = changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.streaming.DedupStream.restoreAqe(batch)
        val sess = batch.sparkSession
        Sinks.recoverSwap(sess, snapDir)
        val cur = sess.read.schema(EntitySchemas.managedDeviceSource)
          .parquet(snapDir)
        Sinks.overwriteViaSwap(sess,
          Sinks.applyDelta(cur, batch, "id"), snapDir)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    deleteRecursively(ckpt.toFile)
    s.read.schema(EntitySchemas.managedDeviceSource).parquet(snapDir)
      .select(col("id"), col("deviceName"), col("operatingSystem"),
        col("complianceState"), col("lastSyncDateTime"))
      .orderBy("id")
  }

  /** The p08 delta fixtures, copied to a temp chain whose final
    * deltaLink is a bounded no-change cursor (live Graph answers an
    * empty page with a fresh cursor when nothing changed — this IS
    * that page, self-looping so the stream quiesces). */
  private def p13Chain(): java.nio.file.Path = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val dir = java.nio.file.Files.createTempDirectory("graft_p13_chain")
    val src = java.nio.file.Paths.get(s"$fixtureRoot/managedDevicesDelta")
    java.nio.file.Files.copy(src.resolve("page1.json"),
      dir.resolve("page1.json"))
    val p2 = mapper.readTree(
        java.nio.file.Files.readString(src.resolve("page2.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    p2.put("@odata.deltaLink", "cursor1.json")
    java.nio.file.Files.writeString(dir.resolve("page2.json"),
      mapper.writeValueAsString(p2))
    java.nio.file.Files.writeString(dir.resolve("cursor1.json"),
      """{"value":[],"@odata.deltaLink":"cursor1.json"}""")
    dir
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
    ()
  }

  private def deltaOracle: String =
    s"""WITH snap AS (
       |  SELECT CAST(v.id AS VARCHAR) AS id,
       |    CAST(v.deviceName AS VARCHAR) AS deviceName,
       |    CAST(v.operatingSystem AS VARCHAR) AS operatingSystem,
       |    CAST(v.complianceState AS VARCHAR) AS complianceState,
       |    strftime(CAST(v.lastSyncDateTime AS TIMESTAMP),
       |      '%Y-%m-%dT%H:%M:%SZ') AS lastSyncDateTime
       |  FROM (SELECT unnest(value) AS v
       |        FROM read_json(${pages("managedDevices", 2)}, union_by_name=true))),
       |chg AS (
       |  SELECT CAST(v.id AS VARCHAR) AS id,
       |    CAST(v.deviceName AS VARCHAR) AS deviceName,
       |    CAST(v.operatingSystem AS VARCHAR) AS operatingSystem,
       |    CAST(v.complianceState AS VARCHAR) AS complianceState,
       |    strftime(CAST(v.lastSyncDateTime AS TIMESTAMP),
       |      '%Y-%m-%dT%H:%M:%SZ') AS lastSyncDateTime,
       |    v."@removed" IS NOT NULL AS removed
       |  FROM (SELECT unnest(value) AS v
       |        FROM read_json(${pages("managedDevicesDelta", 2)}, union_by_name=true)))
       |SELECT id, deviceName, operatingSystem, complianceState, lastSyncDateTime
       |FROM snap WHERE id NOT IN (SELECT id FROM chg)
       |UNION ALL
       |SELECT id, deviceName, operatingSystem, complianceState, lastSyncDateTime
       |FROM chg WHERE NOT removed
       |ORDER BY id""".stripMargin

  /** P10: the production composition of P8's incremental sync and P5's
    * retention sink — each scheduled run merges the delta into the
    * snapshot ([[graft.pipeline.IncrementalSync.runRound]], cursor
    * persisted between runs) and lands the day's snapshot as a
    * `load_date=` partition of a retention-windowed history
    * ([[Sinks.retentionReplace]]: the batch replaces its OWN partition,
    * so the sync crash contract — replay the last round — is
    * idempotent across the whole composition). Three daily runs:
    * first sync (full set) at 2024-09-01, the delta round at
    * 2024-10-01, a no-change run at 2024-11-08 whose age-out expires
    * the first partition (68 days > 40-day window). The oracle sees
    * the merged set exactly twice — an un-aged first partition or a
    * duplicated replay both break the hash. */
  def p10(s: SparkSession, d: String): DataFrame = {
    val schema = EntitySchemas.managedDeviceSource
    val work = java.nio.file.Files.createTempDirectory("graft_p10")
    val snap = work.resolve("snapshot").toString
    val cursor = work.resolve("cursor").toString
    val history = work.resolve("history").toString
    val tsMid = Timestamp.valueOf("2024-10-01 00:00:00")
    import graft.pipeline.IncrementalSync

    def narrow(df: DataFrame): DataFrame =
      df.select("id", "deviceName", "operatingSystem", "complianceState",
        "lastSyncDateTime")

    // run 1 (2024-09-01): first sync — delta endpoint returns the full
    // set plus the first cursor
    IncrementalSync.runRound(s, s"$fixtureRoot/managedDevicesInit/page1.json",
      schema, snap, cursor)
    Sinks.retentionReplace(s,
      narrow(s.read.schema(schema).parquet(snap)), history, ts1)
    // run 2 (2024-10-01): only the delta, from the persisted cursor
    IncrementalSync.runRound(s,
      IncrementalSync.loadCursor(s, cursor).get, schema, snap, cursor)
    Sinks.retentionReplace(s,
      narrow(s.read.schema(schema).parquet(snap)), history, tsMid)
    // run 3 (2024-11-08): no upstream changes — the day's snapshot
    // lands and the age-out drops the 2024-09-01 partition
    Sinks.retentionReplace(s,
      narrow(s.read.schema(schema).parquet(snap)), history, ts2)

    val readSchema = StructType(
      narrow(s.read.schema(schema).parquet(snap)).schema.fields :+
        StructField("timeGenerated", TimestampType))
    s.read.schema(readSchema).parquet(history)
      .drop("load_date")
      .orderBy("timeGenerated", "id")
  }

  private def syncRetentionOracle: String =
    s"""WITH snap AS (
       |  SELECT CAST(v.id AS VARCHAR) AS id,
       |    CAST(v.deviceName AS VARCHAR) AS deviceName,
       |    CAST(v.operatingSystem AS VARCHAR) AS operatingSystem,
       |    CAST(v.complianceState AS VARCHAR) AS complianceState,
       |    strftime(CAST(v.lastSyncDateTime AS TIMESTAMP),
       |      '%Y-%m-%dT%H:%M:%SZ') AS lastSyncDateTime
       |  FROM (SELECT unnest(value) AS v
       |        FROM read_json(${pages("managedDevicesInit", 2)}, union_by_name=true))),
       |chg AS (
       |  SELECT CAST(v.id AS VARCHAR) AS id,
       |    CAST(v.deviceName AS VARCHAR) AS deviceName,
       |    CAST(v.operatingSystem AS VARCHAR) AS operatingSystem,
       |    CAST(v.complianceState AS VARCHAR) AS complianceState,
       |    strftime(CAST(v.lastSyncDateTime AS TIMESTAMP),
       |      '%Y-%m-%dT%H:%M:%SZ') AS lastSyncDateTime,
       |    v."@removed" IS NOT NULL AS removed
       |  FROM (SELECT unnest(value) AS v
       |        FROM read_json(${pages("managedDevicesDelta", 2)}, union_by_name=true))),
       |merged AS (
       |  SELECT id, deviceName, operatingSystem, complianceState, lastSyncDateTime
       |  FROM snap WHERE id NOT IN (SELECT id FROM chg)
       |  UNION ALL
       |  SELECT id, deviceName, operatingSystem, complianceState, lastSyncDateTime
       |  FROM chg WHERE NOT removed),
       |runs AS (SELECT * FROM (VALUES
       |  (TIMESTAMP '2024-10-01 00:00:00'),
       |  (TIMESTAMP '2024-11-08 00:00:00')) t(timeGenerated))
       |SELECT m.id, m.deviceName, m.operatingSystem, m.complianceState,
       |  m.lastSyncDateTime, r.timeGenerated
       |FROM merged m CROSS JOIN runs r
       |ORDER BY timeGenerated, id""".stripMargin

  // ------------------------------------------------------- DuckDB oracles

  /** Oracle column expression for a sink field: cast through VARCHAR/
    * TIMESTAMP to undo read_json's UUID/timestamp inference; fields the
    * extract never populates become typed NULLs. */
  private def oracleCol(f: StructField, sourceFields: Set[String]): String = {
    val sqlType = f.dataType match {
      case StringType => "VARCHAR"
      case TimestampType => "TIMESTAMP"
      case LongType => "BIGINT"
      case BooleanType => "BOOLEAN"
      case t => sys.error(s"unmapped oracle type $t")
    }
    if (!sourceFields.contains(f.name)) s"CAST(NULL AS $sqlType) AS ${f.name}"
    else s"CAST(v.${f.name} AS $sqlType) AS ${f.name}"
  }

  private def pages(entity: String, n: Int): String =
    (1 to n).map(i => s"'$fixtureRoot/$entity/page$i.json'")
      .mkString("[", ",", "]")

  private def mdOracle(loadTs: String): String = {
    val derived = Map(
      "configurationManagerClientHealthState" ->
        "CAST(v.configurationManagerClientHealthState.state AS VARCHAR) AS configurationManagerClientHealthState",
      "configurationManagerClientErrorCode" ->
        "CAST(v.configurationManagerClientHealthState.errorCode AS BIGINT) AS configurationManagerClientErrorCode",
      "configurationManagerClientlastSyncDateTime" ->
        "CAST(v.configurationManagerClientHealthState.lastSyncDateTime AS TIMESTAMP) AS configurationManagerClientlastSyncDateTime",
      "userLoggedOnUserId" -> "CAST(top1.p AS VARCHAR) AS userLoggedOnUserId",
      "userLoggedOnLastLogOnDateTime" ->
        "CAST(top1.k AS TIMESTAMP) AS userLoggedOnLastLogOnDateTime",
      "timeGenerated" -> s"TIMESTAMP '$loadTs' AS timeGenerated")
    val src = EntitySchemas.managedDeviceSource.fieldNames.toSet
    val cols = EntitySchemas.managedDeviceSink.fields.toSeq
      .map(f => derived.getOrElse(f.name, oracleCol(f, src)))
      .mkString(",\n  ")
    s"""SELECT
       |  $cols
       |FROM (
       |  SELECT v,
       |    CASE WHEN v.usersLoggedOn IS NULL OR len(v.usersLoggedOn) = 0
       |         THEN NULL
       |         ELSE list_sort(list_transform(v.usersLoggedOn,
       |                x -> {'k': x.lastLogOnDateTime, 'p': x.userId}))[-1]
       |    END AS top1
       |  FROM (SELECT unnest(value) AS v
       |        FROM read_json(${pages("managedDevices", 2)}, union_by_name=true))
       |) WHERE CAST(v.operatingSystem AS VARCHAR) = 'Windows'
       |ORDER BY id""".stripMargin
  }

  private def cpcOracle(loadTs: String): String = {
    val src = EntitySchemas.cloudPcSource.fieldNames.toSet
    val cols = EntitySchemas.cloudPcSink.fields.toSeq.map {
      case f if f.name == "timeGenerated" => s"TIMESTAMP '$loadTs' AS timeGenerated"
      case f => oracleCol(f, src)
    }.mkString(",\n  ")
    s"""SELECT
       |  $cols
       |FROM (SELECT unnest(value) AS v
       |      FROM read_json(${pages("cloudPCs", 1)}))
       |ORDER BY id""".stripMargin
  }

  private def audOracle(loadTs: String): String = {
    val derived = Map(
      "actorApplicationDisplayName" ->
        "CAST(v.actor.applicationDisplayName AS VARCHAR) AS actorApplicationDisplayName",
      "actorUserPrincipalName" ->
        "CAST(v.actor.userPrincipalName AS VARCHAR) AS actorUserPrincipalName",
      "resourcesDisplayName" ->
        """CASE WHEN v.resources IS NULL OR len(v.resources) = 0 THEN NULL
          |       ELSE array_to_string(list_transform(v.resources,
          |              r -> CAST(r.displayName AS VARCHAR)), ',')
          |  END AS resourcesDisplayName""".stripMargin,
      "timeGenerated" -> s"TIMESTAMP '$loadTs' AS timeGenerated")
    val src = EntitySchemas.auditEventSource.fieldNames.toSet
    val cols = EntitySchemas.auditEventSink.fields.toSeq
      .map(f => derived.getOrElse(f.name, oracleCol(f, src)))
      .mkString(",\n  ")
    s"""SELECT
       |  $cols
       |FROM (SELECT unnest(value) AS v
       |      FROM read_json(${pages("auditEvents", 1)}))
       |ORDER BY id""".stripMargin
  }

  /** P9: storage-format interop (the reference's "target data store
    * could be blob / log analytics / SQL" flexibility, README:1-3, as
    * an engine capability): one dataset written to CSV, JSON, and ORC,
    * read back through each reader with an explicit schema, and
    * aggregated identically. The oracle computes the aggregate once
    * from the original parquet and expects it verbatim per format —
    * any serialization drift (type coercion, precision loss, header
    * handling) breaks the hash. Timestamps travel as epoch-micros
    * longs, the one representation all three formats round-trip
    * exactly. */
  def p09(s: SparkSession, d: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_p09")
    val ev = graft.core.Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("ts_us"))
    val schema = ev.schema
    Seq("csv", "json", "orc").map { fmt =>
      val path = base.resolve(fmt).toString
      val w = ev.write.mode("overwrite").format(fmt)
      (if (fmt == "csv") w.option("header", "true") else w).save(path)
      val r = s.read.format(fmt).schema(schema)
      val back = (if (fmt == "csv") r.option("header", "true") else r).load(path)
      back.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(30, 2))).cast(DoubleType)
            .as("sum_value"))
        .select(lit(fmt).as("format"), col("event_type"), col("n"),
          col("sum_value"))
    }.reduce(_.unionByName(_))
      .orderBy("format", "event_type")
  }

  private val p09Oracle: String =
    """WITH agg AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST("value" AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
      |  FROM events GROUP BY event_type),
      |f AS (SELECT * FROM (VALUES ('csv'), ('json'), ('orc')) t(format))
      |SELECT f.format, a.event_type, a.n, a.sum_value
      |FROM f CROSS JOIN agg a
      |ORDER BY format, event_type""".stripMargin

  /** p12: p08's delta-sync semantics executed as a DISK-level merge —
    * the snapshot lands in a hash-bucket-partitioned store
    * (`Sinks.bucketedUpsert`), the delta change set (one update, one
    * new entity, one tombstone) merges with rewrite cost O(touched
    * buckets), and the read-back must equal the in-memory
    * `applyDelta` answer — the SAME oracle as p08, so any divergence
    * between the memory and disk merge paths breaks the hash. */
  def p12(s: SparkSession, d: String): DataFrame = {
    val store = java.nio.file.Files.createTempDirectory("graft_p12")
      .resolve("devices").toString
    val snap = ODataPageReader.readPages(s,
      s"$fixtureRoot/managedDevices/page1.json",
      EntitySchemas.managedDeviceSource)
    Sinks.bucketedUpsert(s, snap, store, "id", buckets = 4)
    val (changes, _) = ODataPageReader.readDeltaPages(s,
      s"$fixtureRoot/managedDevicesDelta/page1.json",
      EntitySchemas.managedDeviceSource)
    Sinks.bucketedUpsert(s, changes, store, "id", buckets = 4)
    s.read.parquet(store)
      .select(col("id"), col("deviceName"), col("operatingSystem"),
        col("complianceState"), col("lastSyncDateTime"))
      .orderBy("id")
  }

  /** p11: z-order clustered layout round-trip — `Scale.zorderWrite`
    * clusters lineitem on (l_partkey, l_suppkey) so file min-max
    * stats prune scans on EITHER key (the multi-axis layout lever;
    * ZorderSpec measures the pruning on real files), and the oracle
    * pins that the layout pass is content-neutral: every row survives
    * the quantile/interleave/range-shuffle/sort byte-for-byte. */
  /** Temp layouts built by p11/p15 must outlive the call (the returned
    * DataFrame reads them lazily), so cleanup is a JVM shutdown hook —
    * repeated bench/correctness runs in one JVM would otherwise
    * accumulate full event/lineitem layouts under /tmp (round-11
    * advice; the streaming checkpoint helper uses the same pattern). */
  private def tempDirCleanedOnExit(prefix: String): java.nio.file.Path =
    graft.core.TempDirs.cleanedOnExit(prefix)

  def p11(s: SparkSession, d: String): DataFrame = {
    val path = tempDirCleanedOnExit("graft_p11")
      .resolve("lineitem_z").toString
    graft.operators.Scale.zorderWrite(
      graft.core.Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      Seq("l_partkey", "l_suppkey"), path, files = 8)
    s.read.parquet(path)
      .select(col("l_orderkey"), col("l_linenumber").cast(LongType),
        col("l_partkey"), col("l_suppkey"))
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
  }

  // (l_orderkey, l_linenumber) is NOT unique in the synthetic fixture —
  // the sort must be total for the hash gate, so order by all columns
  private val p11Oracle: String =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |  l_partkey, l_suppkey
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin

  /** p14: GROUPED aggregate pushdown — `groupBy(os).agg(sum, max,
    * count)` over a live connector read translates to the OData v4
    * aggregation extension (`$apply=groupby((os),aggregate(...))`)
    * and the scan reads GROUP rows, never entity rows. The query runs
    * against a local stub that answers ONLY the exact expected
    * `$apply` translation (any other request 404s and the query
    * fails loudly — a drifted translation can't silently pass) with a
    * paged aggregated response; the oracle recomputes the same
    * aggregation relationally from the RAW fixture pages, so the
    * hash-match proves the pushed path equals a true re-aggregation
    * of the entity data. Spark's plan is a Project over the scan —
    * complete pushdown, no engine-side HashAggregate (spec-pinned in
    * ODataSourceSpec). */
  def p14(s: SparkSession, d: String): DataFrame = {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val expectApply = "groupby((os),aggregate(ramGB with sum as agg0," +
      "diskGB with max as agg1,$count as agg2," +
      "ramGB with average as agg3,ramGB with countdistinct as agg4))"
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val port = server.getAddress.getPort
    def respond(ex: HttpExchange, body: String, code: Int = 200): Unit = {
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, if (b.isEmpty) -1 else b.length)
      if (b.nonEmpty) ex.getResponseBody.write(b)
      ex.close()
    }
    server.createContext("/v1.0/deviceMetrics", (ex: HttpExchange) => {
      val q = java.net.URLDecoder.decode(
        Option(ex.getRequestURI.getRawQuery).getOrElse(""), "UTF-8")
      if (q.contains("page=2"))
        respond(ex,
          """{"value":[{"os":"macOS","agg0":16,"agg1":512,"agg2":1,
            |"agg3":16.0,"agg4":1}]}""".stripMargin)
      else if (q == s"$$apply=$expectApply")
        respond(ex,
          s"""{"value":[{"os":"Linux","agg0":96,"agg1":2048,"agg2":2,
             |"agg3":48.0,"agg4":2},
             |{"os":"Windows","agg0":56,"agg1":1024,"agg2":3,
             |"agg3":18.666666666666668,"agg4":3}],
             |"@odata.nextLink":"http://127.0.0.1:$port/v1.0/deviceMetrics?page=2"}"""
            .stripMargin)
      else respond(ex, "", 404)
    })
    server.start()
    try {
      val schema = StructType(Seq(StructField("id", StringType),
        StructField("os", StringType), StructField("ramGB", LongType),
        StructField("diskGB", LongType)))
      val df = s.read.format("graft-odata").schema(schema)
        .option("endpoint", s"http://127.0.0.1:$port/v1.0/deviceMetrics")
        .option("authToken", "t").option("retrySleepMs", "0")
        .load()
        .groupBy("os")
        .agg(sum("ramGB").as("total_ram"), max("diskGB").as("max_disk"),
          count(lit(1)).as("n"), avg("ramGB").as("avg_ram"),
          count_distinct(col("ramGB")).as("n_ram"))
      // materialize while the stub lives; the lazy plan is pinned by
      // the spec, the oracle needs only the rows
      val rows = df.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .orderBy("os")
    } finally server.stop(0)
  }

  private val p14Oracle: String =
    s"""SELECT CAST(v.os AS VARCHAR) AS os,
       |  CAST(SUM(CAST(v.ramGB AS BIGINT)) AS BIGINT) AS total_ram,
       |  CAST(MAX(CAST(v.diskGB AS BIGINT)) AS BIGINT) AS max_disk,
       |  COUNT(*) AS n,
       |  CAST(AVG(CAST(v.ramGB AS BIGINT)) AS DOUBLE) AS avg_ram,
       |  COUNT(DISTINCT v.ramGB) AS n_ram
       |FROM (SELECT unnest(value) AS v
       |      FROM read_json(${pages("deviceMetrics", 2)}))
       |GROUP BY 1 ORDER BY os""".stripMargin

  /** p15: sketch-backed partition skipping end-to-end — build the
    * date-partitioned events layout + its per-partition stats
    * ([[graft.operators.DataSkipping]]: exact value min/max, KLL,
    * theta, one row per partition), then answer a `value >= 300`
    * scan through the stats-pruned read (partitions whose exact max
    * is below the bar are never listed — at this corpus roughly half
    * skip). The oracle filters the flat events table relationally, so
    * the hash-match proves skipping loses no row; DataSkippingSpec
    * pins the files-read reduction and the membership rule's
    * soundness (the round-10 partition probe, in git history, read
    * 15 of 30 files). */
  def p15(s: SparkSession, d: String): DataFrame = {
    val base = tempDirCleanedOnExit("graft_p15")
    val layout = base.resolve("events_by_day").toString
    val stats = base.resolve("stats").toString
    graft.core.Tables.buildPartitionedEvents(s, d, layout)
    graft.operators.DataSkipping.buildEventStats(s, layout, stats)
    graft.operators.DataSkipping
      .eventsWithValueAtLeast(s, layout, stats, threshold = 300.0)
      .select(col("event_id"), col("user_id"),
        col("value").cast(DoubleType).as("value"))
      .orderBy("event_id")
  }

  private val p15Oracle: String =
    """SELECT event_id, user_id, CAST("value" AS DOUBLE) AS value
      |FROM events WHERE "value" >= 300.0
      |ORDER BY event_id""".stripMargin

  /** p16: FILTERED grouped-aggregate pushdown (round 11) — a complete-
    * tier IN-list filter composes with the aggregation as the OData v4
    * `$apply=filter(...)/groupby(...)` transformation SEQUENCE (OASIS
    * Data Aggregation §3.2): the server filters entity rows, then
    * groups, and the scan reads final group rows — a filtered
    * fleet-wide rollup (the reference's natural dashboard query,
    * MD-PS:24 + aggregation) moves one page of groups. Same stub
    * discipline as p14: ONLY the exact expected composed translation
    * is answered (drift → 404 → loud failure), response is PAGED; the
    * oracle recomputes the filter + aggregation relationally from the
    * RAW fixture pages. */
  def p16(s: SparkSession, d: String): DataFrame = {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val expectApply = "filter((os eq 'Windows' or os eq 'Linux'))/" +
      "groupby((os),aggregate(ramGB with sum as agg0," +
      "diskGB with max as agg1,$count as agg2))"
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val port = server.getAddress.getPort
    def respond(ex: HttpExchange, body: String, code: Int = 200): Unit = {
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, if (b.isEmpty) -1 else b.length)
      if (b.nonEmpty) ex.getResponseBody.write(b)
      ex.close()
    }
    server.createContext("/v1.0/deviceMetrics", (ex: HttpExchange) => {
      val q = java.net.URLDecoder.decode(
        Option(ex.getRequestURI.getRawQuery).getOrElse(""), "UTF-8")
      if (q.contains("page=2"))
        respond(ex,
          """{"value":[{"os":"Windows","agg0":56,"agg1":1024,"agg2":3}]}""")
      else if (q == s"$$apply=$expectApply")
        respond(ex,
          s"""{"value":[{"os":"Linux","agg0":96,"agg1":2048,"agg2":2}],
             |"@odata.nextLink":"http://127.0.0.1:$port/v1.0/deviceMetrics?page=2"}"""
            .stripMargin)
      else respond(ex, "", 404)
    })
    server.start()
    try {
      val schema = StructType(Seq(StructField("id", StringType),
        StructField("os", StringType), StructField("ramGB", LongType),
        StructField("diskGB", LongType)))
      val df = s.read.format("graft-odata").schema(schema)
        .option("endpoint", s"http://127.0.0.1:$port/v1.0/deviceMetrics")
        .option("authToken", "t").option("retrySleepMs", "0")
        .load()
        .filter(col("os").isin("Windows", "Linux"))
        .groupBy("os")
        .agg(sum("ramGB").as("total_ram"), max("diskGB").as("max_disk"),
          count(lit(1)).as("n"))
      val rows = df.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .orderBy("os")
    } finally server.stop(0)
  }

  private val p16Oracle: String =
    s"""SELECT CAST(v.os AS VARCHAR) AS os,
       |  CAST(SUM(CAST(v.ramGB AS BIGINT)) AS BIGINT) AS total_ram,
       |  CAST(MAX(CAST(v.diskGB AS BIGINT)) AS BIGINT) AS max_disk,
       |  COUNT(*) AS n
       |FROM (SELECT unnest(value) AS v
       |      FROM read_json(${pages("deviceMetrics", 2)}))
       |WHERE v.os IN ('Windows', 'Linux')
       |GROUP BY 1 ORDER BY os""".stripMargin

  val entries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("p01_managed_devices", p01 _, Some(mdOracle("2024-11-08 00:00:00"))),
    ("p02_cloud_pcs", p02 _, Some(cpcOracle("2024-11-08 00:00:00"))),
    ("p03_audit_events", p03 _, Some(audOracle("2024-11-08 00:00:00"))),
    ("p04_snapshot_overwrite", p04 _, Some(cpcOracle("2024-11-08 00:00:00"))),
    ("p05_retention", p05 _, Some(audOracle("2024-11-08 00:00:00"))),
    ("p06_connector_pipeline", p06 _, Some(mdOracle("2024-11-08 00:00:00"))),
    ("p07_expand", p07 _, Some(expandOracle)),
    ("p08_delta_sync", p08 _, Some(deltaOracle)),
    ("p09_format_roundtrip", p09 _, Some(p09Oracle)),
    ("p10_sync_retention", p10 _, Some(syncRetentionOracle)),
    ("p11_zorder_roundtrip", p11 _, Some(p11Oracle)),
    ("p12_bucketed_merge", p12 _, Some(deltaOracle)),
    ("p13_stream_delta_sync", p13 _, Some(deltaOracle)),
    ("p14_aggregate_pushdown", p14 _, Some(p14Oracle)),
    ("p15_skipping_scan", p15 _, Some(p15Oracle)),
    ("p16_filtered_aggregate_pushdown", p16 _, Some(p16Oracle)),
  )
}
