package graft.sources

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.SaveMode
import java.nio.file.Files

/** Multi-format source/sink round-trips (SURVEY §2.2's engine source
  * list: parquet, JSON, CSV reads; overwrite/append writes). Always
  * explicit schemas — inference never in the prod path. */
class SourcesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("csv round-trip with explicit schema preserves data") {
    val nation = Tables.nation(spark, sf)
    val path = Files.createTempDirectory("graft_csv").resolve("nation").toString
    nation.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
    val back = spark.read.schema(nation.schema).option("header", "true").csv(path)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
  }

  test("json round-trip with explicit schema preserves data") {
    val region = Tables.region(spark, sf)
    val path = Files.createTempDirectory("graft_json").resolve("region").toString
    region.write.mode(SaveMode.Overwrite).json(path)
    val back = spark.read.schema(region.schema).json(path)
    assert(back.orderBy("r_regionkey").collect().toSeq ==
      region.orderBy("r_regionkey").collect().toSeq)
  }

  test("orc round-trip preserves data") {
    val customer = Tables.customer(spark, sf)
    val path = Files.createTempDirectory("graft_orc").resolve("customer").toString
    customer.write.mode(SaveMode.Overwrite).orc(path)
    val back = spark.read.schema(customer.schema).orc(path)
    assert(back.orderBy("c_custkey").collect().toSeq ==
      customer.orderBy("c_custkey").collect().toSeq)
  }

  test("long nextLink chains read correctly through both readers (7 pages)") {
    import graft.core.EntitySchemas
    val dir = Files.createTempDirectory("graft_pages")
    val n = 7
    (1 to n).foreach { i =>
      val next = if (i < n) s""","@odata.nextLink": "page${i + 1}.json"""" else ""
      val rows = (1 to 3).map(j =>
        s"""{"id": "p$i-r$j", "displayName": "CPC-$i-$j"}""").mkString(",")
      Files.writeString(dir.resolve(s"page$i.json"),
        s"""{"value": [$rows]$next}""")
    }
    val first = dir.resolve("page1.json").toString
    val loop = ODataPageReader.readPages(spark, first,
      EntitySchemas.cloudPcSource)
    assert(loop.count() == n * 3)
    val v2 = spark.read.format("graft-odata")
      .schema(EntitySchemas.cloudPcSource)
      .option("firstPage", first).load()
    assert(v2.count() == n * 3)
    assert(v2.rdd.getNumPartitions == n) // one partition per page
    assert(v2.orderBy("id").collect().toSeq ==
      loop.orderBy("id").collect().toSeq)
  }

  test("a mixed file-then-URL chain keeps page order; the URL run is one read") {
    import graft.core.EntitySchemas
    import graft.sources.v2.{LocalPageFetcher, PageFetcher}
    import org.apache.spark.sql.catalyst.plans.logical.Union
    val dir = Files.createTempDirectory("graft_mixed")
    def rows(p: String) = (1 to 2).map(j =>
      s"""{"id": "$p-r$j", "displayName": "CPC-$p-$j"}""").mkString(",")
    Files.writeString(dir.resolve("f1.json"),
      s"""{"value": [${rows("f1")}], "@odata.nextLink": "f2.json"}""")
    Files.writeString(dir.resolve("f2.json"),
      s"""{"value": [${rows("f2")}], "@odata.nextLink": "https://svc/u1"}""")
    // remote pages served from memory: the walk retains their bodies
    val remote = Map(
      "https://svc/u1" -> s"""{"value": [${rows("u1")}], "@odata.nextLink": "u2"}""",
      "https://svc/u2" -> s"""{"value": [${rows("u2")}], "@odata.nextLink": "u3"}""",
      "https://svc/u3" -> s"""{"value": [${rows("u3")}]}""")
    val fetcher = new PageFetcher {
      private val local = new LocalPageFetcher
      override def fetch(path: String): String =
        remote.getOrElse(path, local.fetch(path))
    }
    val df = ODataPageReader.readPages(spark, dir.resolve("f1.json").toString,
      EntitySchemas.cloudPcSource, fetcher = fetcher)
    // two file reads + ONE read of the three URL bodies
    assert(df.queryExecution.analyzed.collectLeaves().size == 3)
    assert(df.queryExecution.analyzed.collect { case u: Union => u }.nonEmpty)
    assert(df.select("id").collect().map(_.getString(0)).toSeq ==
      Seq("f1", "f2", "u1", "u2", "u3").flatMap(p => Seq(s"$p-r1", s"$p-r2")))
  }

  test("delta sync: tombstones flagged, deltaLink surfaced, applyDelta merges update/insert/delete") {
    import graft.core.EntitySchemas
    import graft.operators.Sinks
    import graft.queries.ParityQueries.fixtureRoot
    val snap = ODataPageReader.readPages(spark,
      s"$fixtureRoot/managedDevices/page1.json",
      EntitySchemas.managedDeviceSource)
    val (changes, link) = ODataPageReader.readDeltaPages(spark,
      s"$fixtureRoot/managedDevicesDelta/page1.json",
      EntitySchemas.managedDeviceSource)
    // the final page's cursor comes back for the caller to persist
    assert(link.exists(_.contains("$deltatoken=abc123")))
    val rows = changes.select("id", "deviceName", "removed").collect()
      .map(r => r.getString(0).take(8) -> (r.getString(1), r.getBoolean(2)))
      .toMap
    assert(rows.keySet == Set("11111111", "33333333", "77777777"))
    assert(rows("33333333") == (null, true))        // tombstone: id only
    assert(rows("11111111") == ("DESKTOP-ALPHA-R2", false))
    val merged = Sinks.applyDelta(snap, changes, "id")
    val byId = merged.select("id", "deviceName").collect()
      .map(r => r.getString(0).take(8) -> r.getString(1)).toMap
    assert(merged.count() == snap.count())          // -1 delete +1 insert
    assert(!byId.contains("33333333"))              // deleted
    assert(byId("11111111") == "DESKTOP-ALPHA-R2")  // updated in place
    assert(byId("77777777") == "DESKTOP-ETA")       // inserted
    assert(byId("22222222") == snap
      .filter(org.apache.spark.sql.functions.col("id").startsWith("22222222"))
      .select("deviceName").collect().head.getString(0)) // untouched survives
  }

  test("a small URL delta chain is broadcast into applyDelta's anti-join; over the threshold it is not") {
    import graft.core.EntitySchemas
    import graft.operators.Sinks
    import graft.sources.v2.PageFetcher
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      AdaptiveSparkPlanHelper, BroadcastQueryStageExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_bcast")
    (1 to 500).map(i => (s"id$i", s"CPC-$i")).toDF("id", "displayName")
      .write.parquet(s"$dir/snap")
    val snap = spark.read.schema(EntitySchemas.cloudPcSource).parquet(s"$dir/snap")
    // two delta pages served from memory: ids 1-3 change, 4-5 are tombstoned, 501 is new
    val pages = Map(
      "https://svc/d1" -> ("""{"value": [{"id": "id1", "displayName": "new-1"},""" +
        """{"id": "id2", "displayName": "new-2"}, {"id": "id3", "displayName": "new-3"}],""" +
        """ "@odata.nextLink": "d2"}"""),
      "https://svc/d2" -> ("""{"value": [{"id": "id4", "@removed": {"reason": "deleted"}},""" +
        """{"id": "id5", "@removed": {"reason": "deleted"}},""" +
        """{"id": "id501", "displayName": "new-501"}],""" +
        """ "@odata.deltaLink": "https://svc/delta?$deltatoken=t1"}"""))
    val fetcher = new PageFetcher { override def fetch(path: String): String = pages(path) }
    val (changes, link) = ODataPageReader.readDeltaPages(spark, "https://svc/d1",
      EntitySchemas.cloudPcSource, fetcher = fetcher)
    assert(link.exists(_.endsWith("t1")))
    def merged = Sinks.applyDelta(snap, changes, "id")
    def initialPlan(p: SparkPlan) = p match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    def snapshotShuffled(p: SparkPlan) = p.collect { case s: ShuffleExchangeExec => s }
      .exists(_.collect { case f: FileSourceScanExec => f }.nonEmpty)

    val m = merged
    val planned = initialPlan(m.queryExecution.executedPlan)
    assert(planned.collect { case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j }
      .size == 1, planned)
    assert(!snapshotShuffled(planned), planned)
    val byId = m.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byId.size == 500 - 2 + 1)
    assert(byId("id1") == "new-1" && byId("id501") == "new-501" && byId("id6") == "CPC-6")
    assert(!byId.contains("id4") && !byId.contains("id5"))
    // the plan AQE ran, through its query stages: one broadcast, no shuffle
    object Stages extends AdaptiveSparkPlanHelper
    val ran = m.queryExecution.executedPlan
    assert(Stages.collect(ran) { case s: ShuffleQueryStageExec => s }.isEmpty, ran)
    assert(Stages.collect(ran) { case b: BroadcastQueryStageExec => b }.size == 1, ran)

    // the reported size is what the planner weighs: one byte under it, no broadcast
    val changedIdsSize = m.queryExecution.optimizedPlan
      .collectFirst { case j: Join => j.right.stats.sizeInBytes }.get
    val chainBytes = pages.values.map(_.getBytes("UTF-8").length.toLong).sum
    assert(changedIdsSize > 0 && changedIdsSize <= chainBytes, changedIdsSize)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, (changedIdsSize - 1).toString)
    try {
      val smj = initialPlan(merged.queryExecution.executedPlan)
      assert(smj.collect { case j: SortMergeJoinExec if j.joinType == LeftAnti => j }
        .size == 1, smj)
      assert(smj.collect { case j: BroadcastHashJoinExec => j }.isEmpty, smj)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // ------------------------------------------ URL runs parsed from bytes

  import graft.sources.v2.PageFetcher
  import java.nio.charset.StandardCharsets.UTF_8
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.LogicalRDD
  import org.apache.spark.sql.functions.{col, explode}
  import org.apache.spark.sql.types._

  /** Serves pages from memory as their exact bytes (falling back to
    * local files), as the engine's transports do. */
  private def bytesFetcher(pages: Map[String, Array[Byte]]) = new PageFetcher {
    private val local = new graft.sources.v2.LocalPageFetcher
    override def fetch(path: String): String = new String(fetchBytes(path), UTF_8)
    override def fetchBytes(path: String): Array[Byte] =
      pages.getOrElse(path, local.fetchBytes(path))
  }

  /** A URL chain `https://svc/<tag>/p1..pn` whose page `i` holds the
    * root members `members(i)` plus the nextLink (or `last` on the
    * final page). */
  private def urlChain(tag: String, members: Seq[String],
      last: String = ""): Seq[(String, String)] =
    members.zipWithIndex.map { case (m, i) =>
      val tail =
        if (i < members.size - 1) s""","@odata.nextLink":"https://svc/$tag/p${i + 2}""""
        else last
      s"https://svc/$tag/p${i + 1}" -> s"{$m$tail}"
    }

  /** The page-level parse the URL runs replaced: one `read.json` over
    * the bodies, then `explode` + `v.*`. */
  private def pageLevel(bodies: Seq[String], valueSchema: StructType): DataFrame = {
    import spark.implicits._
    spark.read.schema(StructType(Seq(
        StructField("value", ArrayType(valueSchema)),
        StructField("@odata.nextLink", StringType))))
      .json(spark.createDataset(bodies))
      .select(explode(col("value")).as("v")).select(col("v.*"))
  }

  private def sameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema)
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  /** The slices a URL run's relation plans, one per partition. */
  private def urlSlices(df: DataFrame): Seq[ElementSlice] =
    df.queryExecution.analyzed.collectLeaves().collect { case r: LogicalRDD =>
      r.rdd.dependencies.head.rdd
        .asInstanceOf[org.apache.spark.rdd.RDD[ElementSlice]].glom().collect()
        .map { p => assert(p.length == 1); p.head }
    }.flatten

  private val corpusSchema = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("n", LongType), StructField("tags", ArrayType(StringType)),
    StructField("sub", StructType(Seq(StructField("a", IntegerType))))))

  private val corpus = Seq(
    // non-ASCII text, a supplementary character, escaped quotes
    """"value":[{"id":"a1","name":"Zoë, naïve café 😀 中文","n":1},""" +
      """{"id":"a2","name":"say \"hi\" \\ back","n":2,"tags":["x","\u00e9"]}]""",
    // type mismatches keep the row with the field null; a null element
    // is one all-null row
    """"value":[{"id":"b1","n":"not-a-number","name":"kept"},null,""" +
      """{"id":"b3","sub":{"a":"bad"},"tags":"not-an-array"}]""",
    // an element that is not an object or null drops the page
    """"value":[{"id":"c1"},7]""",
    """"value":[{"id":"c2"},["h",8]]""",
    // a value that is not an array, missing, or null: no rows
    """"value":{"id":"not-an-array"}""",
    """"other":1""",
    """"value":null""",
    // duplicate value keys: the last wins
    """"value":[{"id":"dup-first"}],"value":[{"id":"dup-last"},{"id":"dup-last2"}]""",
    // an empty page, and a row's own nextLink is data
    """"value":[]""",
    """"value":[{"id":"f1","n":10,"@odata.nextLink":"https://elsewhere"}]""")

  test("a URL run parses to the page-level read.json rows, in order") {
    val chain = urlChain("corpus", corpus)
    val df = ODataPageReader.readPages(spark, chain.head._1, corpusSchema,
      fetcher = bytesFetcher(chain.map { case (u, b) => u -> b.getBytes(UTF_8) }.toMap))
    sameRows(df, pageLevel(chain.map(_._2), corpusSchema))
    assert(df.select("id").collect().map(_.getString(0)).toSeq ==
      Seq("a1", "a2", "b1", null, "b3", "dup-last", "dup-last2", "f1"))
    val b1 = df.filter(col("id") === "b1").collect().head
    assert(b1.isNullAt(2) && b1.getString(1) == "kept")
    // one page per slice here: 10 pages, 4 cores
    assert(urlSlices(df).size == 4)

    // a field named like the session's corrupt-record column is plain
    // data inside `value[]`: a malformed element leaves it null
    val withCorrupt = corpusSchema.add("_corrupt_record", StringType)
    val quarantine = urlChain("corrupt", Seq(
      """"value":[{"id":"q1","n":"bad"},{"id":"q2","_corrupt_record":"own"}]"""))
    sameRows(ODataPageReader.readPages(spark, quarantine.head._1, withCorrupt,
        fetcher = bytesFetcher(quarantine.map { case (u, b) => u -> b.getBytes(UTF_8) }.toMap)),
      pageLevel(quarantine.map(_._2), withCorrupt))
  }

  test("a URL run with fewer rows than cores, and a delta run's tombstones, match the page-level parse") {
    val small = urlChain("small", Seq(""""value":[{"id":"s1"}]""",
      """"value":[{"id":"s2","n":5}]"""))
    val smallDf = ODataPageReader.readPages(spark, small.head._1, corpusSchema,
      fetcher = bytesFetcher(small.map { case (u, b) => u -> b.getBytes(UTF_8) }.toMap))
    sameRows(smallDf, pageLevel(small.map(_._2), corpusSchema))
    assert(urlSlices(smallDf).size == 2)

    val delta = urlChain("delta", Seq(
      """"value":[{"id":"d1","name":"upd"},{"id":"d2","@removed":{"reason":"deleted"}}]""",
      """"value":[null,{"id":"d3","@removed":{"reason":"changed"},"name":"x"}]"""),
      last = ""","@odata.deltaLink":"https://svc/delta?$deltatoken=t9"""")
    val (changes, link) = ODataPageReader.readDeltaPages(spark, delta.head._1,
      corpusSchema, fetcher = bytesFetcher(delta.map { case (u, b) => u -> b.getBytes(UTF_8) }.toMap))
    assert(link.contains("https://svc/delta?$deltatoken=t9"))
    val removedField = ODataPageReader.removedField
    val want = pageLevel(delta.map(_._2), corpusSchema.add(
        StructField(removedField, ODataPageReader.removedMarkerSchema)))
      .withColumn("removed", col(removedField).isNotNull).drop(removedField)
    sameRows(changes, want)
    assert(changes.select("id", "removed").collect().map(r =>
      (r.getString(0), r.getBoolean(1))).toSeq ==
      Seq(("d1", false), ("d2", true), (null, false), ("d3", true)))
  }

  test("a mixed file/URL chain matches the page-level parse of its bodies, in page order") {
    // a URL page cannot link to a local file, so the files come first
    val dir = Files.createTempDirectory("graft_mixed_diff")
    val url = urlChain("mix", Seq(
      """"value":[{"id":"u1","name":"ünï"},{"id":"u2","n":"x"}]""",
      """"value":[null,{"id":"u3"}]"""))
    val files = Seq(
      s"""{"value":[{"id":"f1","n":1}],"@odata.nextLink":"f2.json"}""",
      s"""{"value":[{"id":"f2"},7],"@odata.nextLink":"f3.json"}""",
      s"""{"value":[{"id":"f3","sub":{"a":2}}],"@odata.nextLink":"${url.head._1}"}""")
    files.zipWithIndex.foreach { case (b, i) =>
      Files.writeString(dir.resolve(s"f${i + 1}.json"), b) }
    val df = ODataPageReader.readPages(spark, dir.resolve("f1.json").toString,
      corpusSchema, fetcher = bytesFetcher(url.map { case (u, b) => u -> b.getBytes(UTF_8) }.toMap))
    sameRows(df, pageLevel(files ++ url.map(_._2), corpusSchema))
    assert(df.select("id").collect().map(_.getString(0)).toSeq ==
      Seq("f1", "f3", "u1", "u2", null, "u3"))
  }

  test("a 5-page URL run on 4 cores plans 4 balanced slices") {
    // pages of 40, 120, 10, 80 and 40 rows: one slice per page would
    // put 120 rows in one task
    val sizes = Seq(40, 120, 10, 80, 40)
    val chain = urlChain("bal", sizes.zipWithIndex.map { case (n, p) =>
      (1 to n).map(i => s"""{"id":"p$p-r$i","name":"${"x" * (i % 17)}","n":$i}""")
        .mkString(""""value":[""", ",", "]")
    })
    val df = ODataPageReader.readPages(spark, chain.head._1, corpusSchema,
      fetcher = bytesFetcher(chain.map { case (u, b) => u -> b.getBytes(UTF_8) }.toMap))
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(df.rdd.getNumPartitions == 4)
    val slices = urlSlices(df)
    assert(slices.size == 4)
    val bytes = slices.map(_.data.length.toLong).sum
    val largest = slices.flatMap(s => s.ends.indices.map(i =>
      s.ends(i) - (if (i == 0) 0 else s.ends(i - 1)))).max
    assert(slices.forall(_.data.length <= (bytes + 3) / 4 + largest),
      slices.map(_.data.length))
    assert(slices.forall(_.ends.nonEmpty))
    sameRows(df, pageLevel(chain.map(_._2), corpusSchema))
  }

  test("readPages over a URL chain runs no SQL execution and no Spark job until an action") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val chain = urlChain("lazy", (1 to 5).map(p =>
      s""""value":[{"id":"l$p-1"},{"id":"l$p-2"}]"""))
    val fetcher = bytesFetcher(chain.map { case (u, b) => u -> b.getBytes(UTF_8) }.toMap)
    val executions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        executions.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        executions.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    try {
      val (df, jobs) = graft.JobLog.during(spark)(ODataPageReader.readPages(
        spark, chain.head._1, corpusSchema, fetcher = fetcher))
      assert(jobs.isEmpty, jobs)
      assert(executions.get() == 0)
      val (n, actionJobs) = graft.JobLog.during(spark)(df.collect().length)
      assert(n == 10 && actionJobs.nonEmpty)
      assert(executions.get() >= 1) // the listener sees the action
    } finally spark.listenerManager.unregister(listener)
  }

  test("a URL page that is not valid UTF-8 fails the read and leaves a sync round's snapshot and cursor") {
    import com.fasterxml.jackson.core.JsonParseException
    import graft.pipeline.IncrementalSync
    // 0xFF never starts a UTF-8 sequence; a replacing decode would
    // load "a\uFFFDb" as the id
    val bad = """{"value":[{"id":"a?b"}],"@odata.deltaLink":"https://svc/r2"}"""
      .getBytes(UTF_8).map(b => if (b == '?'.toByte) 0xFF.toByte else b)
    val good = """{"value":[{"id":"g1","name":"one"}],"@odata.deltaLink":"https://svc/r1"}"""
    val fetcher = bytesFetcher(Map(
      "https://svc/r0" -> good.getBytes(UTF_8), "https://svc/r1" -> bad))
    for (read <- Seq[() => Any](
        () => ODataPageReader.readPages(spark, "https://svc/r1", corpusSchema,
          fetcher = fetcher),
        () => ODataPageReader.readDeltaPages(spark, "https://svc/r1",
          corpusSchema, fetcher = fetcher))) {
      val e = intercept[JsonParseException](read())
      assert(e.getMessage.contains("Invalid UTF-8"), e.getMessage)
    }
    val work = Files.createTempDirectory("graft_bad_utf8")
    val snapshot = work.resolve("snapshot").toString
    val cursor = work.resolve("cursor").toString
    val c1 = IncrementalSync.runRound(spark, "https://svc/r0", corpusSchema,
      snapshot, cursor, fetcher = fetcher)
    assert(c1.contains("https://svc/r1"))
    def snap() = spark.read.schema(corpusSchema).parquet(snapshot)
      .collect().map(_.toString).toSeq
    val before = snap()
    assert(before.size == 1)
    intercept[JsonParseException](IncrementalSync.runRound(spark, c1.get,
      corpusSchema, snapshot, cursor, fetcher = fetcher))
    assert(IncrementalSync.loadCursor(spark, cursor) == c1)
    assert(snap() == before)
  }

  test("record-level error policy: PERMISSIVE quarantines, DROPMALFORMED skips, FAILFAST throws") {
    // the record-level analog of the reference's entity-level skip
    // policy (O9, MD-PS:151-162): one bad record must not abandon the
    // batch unless the caller asked for exactly that
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("badrec").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/rows.json"),
      """{"id": 1, "name": "ok"}
        |{"id": "NOT_A_NUMBER", "name": "bad"}
        |{"id": 3, "name": "also ok"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("_corrupt_record", StringType)))

    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").json(dir).cache()
    try {
      assert(permissive.count() == 3)
      val bad = permissive.filter(permissive("_corrupt_record").isNotNull)
      assert(bad.count() == 1)
      // the malformed row keeps its raw text for quarantine/replay and
      // its typed columns are null
      val r = bad.collect().head
      assert(r.getAs[String]("_corrupt_record").contains("NOT_A_NUMBER"))
      assert(r.isNullAt(r.fieldIndex("id")))
    } finally permissive.unpersist()

    val dropped = spark.read
      .schema(StructType(schema.fields.filter(_.name != "_corrupt_record")))
      .option("mode", "DROPMALFORMED").json(dir)
    assert(dropped.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))

    val failfast = spark.read
      .schema(StructType(schema.fields.filter(_.name != "_corrupt_record")))
      .option("mode", "FAILFAST").json(dir)
    intercept[org.apache.spark.SparkException] { failfast.collect() }
  }

  test("parquet append mode accumulates batches") {
    val path = Files.createTempDirectory("graft_app").resolve("t").toString
    val r = Tables.region(spark, sf)
    r.write.mode(SaveMode.Overwrite).parquet(path)
    r.write.mode(SaveMode.Append).parquet(path)
    assert(spark.read.parquet(path).count() == 2 * r.count())
  }
}
