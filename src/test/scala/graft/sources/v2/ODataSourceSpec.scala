package graft.sources.v2

import graft.SparkSpec
import graft.core.EntitySchemas
import graft.queries.ParityQueries
import graft.sources.ODataPageReader
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

class ODataSourceSpec extends SparkSpec {

  private def mdFirstPage =
    s"${ParityQueries.fixtureRoot}/managedDevices/page1.json"

  private def readMd: DataFrame =
    spark.read.format("graft-odata")
      .schema(EntitySchemas.managedDeviceSource)
      .option("firstPage", mdFirstPage)
      .load()

  test("connector reads all pages and matches the driver-loop reader") {
    val v2 = readMd.orderBy("id").collect()
    val loop = ODataPageReader.readPages(spark, mdFirstPage,
      EntitySchemas.managedDeviceSource).orderBy("id").collect()
    assert(v2.length == 6)
    assert(v2.toSeq == loop.toSeq)
  }

  test("one input partition per page (parallel page scan)") {
    assert(readMd.rdd.getNumPartitions == 2)
  }

  test("string-equality filter is pushed into the scan ($filter eq)") {
    val q = readMd.filter(col("operatingSystem") === "Windows")
    val scan = q.queryExecution.executedPlan.toString
    assert(q.count() == 4)
    // the scan's description advertises the translated OData filter
    val desc = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.mkString
    assert(desc.contains("$filter=operatingSystem eq 'Windows'"))
  }

  test("column pruning reaches the scan ($select)") {
    val q = readMd.select("id", "deviceName")
    val desc = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.mkString
    assert(desc.contains("$select=id,deviceName"))
    assert(!desc.contains("osVersion"))
    assert(q.collect().length == 6)
  }

  test("non-translatable predicates stay in Spark; file mode advertises no advisory push") {
    // boolean equality is advisory-eligible in LIVE mode only: a
    // fixture read applies no URL, so advertising a push here would
    // misreport the plan — nothing rendered, evaluated post-scan
    val q = readMd.filter(col("azureADRegistered") === true)
    assert(q.count() == 5) // correct, evaluated post-scan
    assert(!scanOf(q).description().contains("azureADRegistered eq"))
    assert(q.queryExecution.optimizedPlan.toString.contains("Filter"))
    // string INEQUALITY is genuinely untranslatable (collation): no
    // rendering at all, evaluated post-scan
    val s = readMd.filter(col("deviceName") > "DESKTOP")
    assert(!scanOf(s).description().contains("deviceName gt"))
    assert(s.count() > 0)
  }

  test("string IN-list pushes completely: v4.0-safe or-chain rendering, source re-eval, pruned-column survival") {
    val q = readMd.filter(col("operatingSystem").isin("Windows", "macOS"))
    assert(q.count() == 5)
    val desc = scanOf(q).description()
    // an or-chain of eq, not the v4.01 `in` operator — v4.0 services
    // reject `in` with HTTP 400 and a rejected URL fails the scan
    assert(desc.contains(
      "(operatingSystem eq 'Windows' or operatingSystem eq 'macOS')"), desc)
    // complete push: no residual Filter remains in the plan
    assert(!q.queryExecution.optimizedPlan.toString.contains("Filter"),
      q.queryExecution.optimizedPlan.toString)
    // filter column pruned from the projection: the reader must still
    // parse it, evaluate, and project it back out
    val pruned = readMd.filter(col("operatingSystem").isin("Linux"))
      .select("id")
    assert(pruned.collect().map(_.getString(0).take(1)).toSeq == Seq("6"))
  }

  test("nested struct and array fields parse with null semantics intact") {
    val rows = readMd.select("id", "configurationManagerClientHealthState.state",
        "usersLoggedOn")
      .collect().map(r => r.getString(0).take(1) -> r).toMap
    assert(rows("1").getString(1) == "healthy")
    assert(rows("2").isNullAt(1))
    assert(rows("1").getSeq[Any](2).size == 3)
  }

  test("retrying fetcher recovers from transient failures (429 loop)") {
    val failures = new AtomicInteger(2)
    val flaky = new PageFetcher {
      private val real = new LocalPageFetcher
      override def fetch(path: String): String = {
        if (failures.getAndDecrement() > 0)
          throw new RetryableFetchException("429 Too Many Requests")
        real.fetch(path)
      }
    }
    val body = new RetryingPageFetcher(flaky, maxRetries = 5, sleepMs = 0)
      .fetch(mdFirstPage)
    assert(body.contains("DESKTOP-ALPHA"))
  }

  test("retry budget exhausts after maxRetries (error policy)") {
    val alwaysFail = new PageFetcher {
      override def fetch(path: String): String =
        throw new RetryableFetchException("429")
    }
    val r = new RetryingPageFetcher(alwaysFail, maxRetries = 2, sleepMs = 0)
    assertThrows[RetryableFetchException](r.fetch(mdFirstPage))
  }

  test("permanent failures are NOT retried (fail fast for skip policy)") {
    val calls = new AtomicInteger(0)
    val notFound = new PageFetcher {
      override def fetch(path: String): String = {
        calls.incrementAndGet()
        throw new IllegalArgumentException("404 Not Found")
      }
    }
    val r = new RetryingPageFetcher(notFound, maxRetries = 5, sleepMs = 0)
    assertThrows[IllegalArgumentException](r.fetch(mdFirstPage))
    assert(calls.get() == 1) // no retry burned on a permanent error
  }

  // ------------------------------------------------ partition modes

  private def fileConf(budget: Long) = ODataConf(
    firstPage = Some(mdFirstPage), endpoint = None, transport = "file",
    pageSize = None, expand = None, maxRetries = 0, retrySleepMs = 0L,
    bodyBudgetBytes = budget, tokenProvider = None)

  test("bodies are embedded in partitions while the byte budget allows") {
    val parts = new ODataScan(EntitySchemas.managedDeviceSource,
      Array.empty, fileConf(64L << 20)).planInputPartitions()
    assert(parts.length == 2)
    assert(parts.forall(_.asInstanceOf[ODataInputPartition].body.isDefined))
  }

  test("past the budget partitions are cursor-only and the read still works") {
    val parts = new ODataScan(EntitySchemas.managedDeviceSource,
      Array.empty, fileConf(0L)).planInputPartitions()
    assert(parts.length == 2)
    assert(parts.forall(_.asInstanceOf[ODataInputPartition].body.isEmpty),
      "no page body may ride in a partition once the budget is exhausted")
    val df = spark.read.format("graft-odata")
      .schema(EntitySchemas.managedDeviceSource)
      .option("firstPage", mdFirstPage)
      .option("bodyBudgetBytes", "0")
      .load()
    assert(df.count() == 6) // executors fetched the pages themselves
  }

  test("fully-pushed filter survives even when its column is pruned away") {
    // select deviceName only, filter on operatingSystem: Spark prunes
    // operatingSystem from the required schema because the equality is
    // fully pushed — the reader must still evaluate it (parses with
    // required + filter columns, projects back down)
    val q = readMd.filter(col("operatingSystem") === "Windows")
      .select("deviceName")
    assert(q.collect().map(_.getString(0)).sorted.length == 4)
  }

  test("expanded navigation property parses as a nested array of structs") {
    val df = spark.read.format("graft-odata")
      .schema(EntitySchemas.managedDeviceExpandSource)
      .option("firstPage",
        s"${ParityQueries.fixtureRoot}/managedDevicesExpand/page1.json")
      .option("expand", "detectedApps")
      .load()
    val rows = df.orderBy("id").collect()
    assert(rows.length == 4)
    val alpha = rows(0)
      .getSeq[org.apache.spark.sql.Row](rows(0).fieldIndex("detectedApps"))
    assert(alpha.map(_.getAs[String]("displayName")).toSeq ==
      Seq("Contoso Editor", "Fabrikam Agent"))
    assert(alpha.head.getAs[Long]("sizeInByte") == 52428800L)
    // empty array and null array both survive the nested parse
    assert(rows(2).getSeq(rows(2).fieldIndex("detectedApps")).isEmpty)
    assert(rows(3).isNullAt(rows(3).fieldIndex("detectedApps")))
  }

  // ------------------------------------------------ URL composition

  test("ODataUrl composes $select/$filter/$expand/$top with OData escaping") {
    import org.apache.spark.sql.sources.EqualTo
    val url = ODataUrl.build("https://unit.example/v1.0/things",
      Seq("id", "name"), Array(EqualTo("state", "o'brien")),
      top = Some(999), expand = Some("owner"))
    assert(url == "https://unit.example/v1.0/things?" +
      "$select=id,name&$filter=state%20eq%20%27o%27%27brien%27" +
      "&$expand=owner&$top=999")
    // no params → endpoint untouched; existing query string appends with &
    assert(ODataUrl.build("https://unit.example/e", Nil, Array.empty, None,
      None) == "https://unit.example/e")
    assert(ODataUrl.build("https://unit.example/e?a=1", Nil, Array.empty,
      Some(5), None) == "https://unit.example/e?a=1&$top=5")
  }

  test("O8: acquisition retries, token caches, 401 refresh-and-retry") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import java.net.InetSocketAddress
    val provider = new ODataSourceSpec.FlakyTokenProvider
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new AtomicInteger(0)
    server.createContext("/page", (ex: HttpExchange) => {
      hits.incrementAndGet()
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
      if (auth.contains("Bearer tok-2")) { // tok-1 is expired
        val b = """{"value":[]}""".getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b)
      } else ex.sendResponseHeaders(401, -1)
      ex.close()
    })
    server.start()
    try {
      val f = new HttpPageFetcher(Some(provider))
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/page"
      assert(f.fetch(url) == """{"value":[]}""")
      // acquire() threw once, then yielded tok-1 (rejected, invalidated)
      // and tok-2 (accepted): 3 attempts for 2 tokens, 2 HTTP requests
      assert(provider.attempts.get() == 3)
      assert(hits.get() == 2)
      // the accepted token is cached: another fetch re-acquires nothing
      assert(f.fetch(url) == """{"value":[]}""")
      assert(provider.attempts.get() == 3)
      // a permanently rejected credential fails after ONE refresh cycle
      provider.invalidate() // next acquire yields tok-3, always 401
      val before = hits.get()
      assertThrows[java.io.IOException](f.fetch(url))
      assert(hits.get() == before + 2) // one try + one refresh retry
    } finally server.stop(0)
  }

  test("O8 live: client-credentials grant against a stub STS — form fields, retry, cache, 401 refresh") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import java.net.InetSocketAddress
    import java.util.concurrent.ConcurrentLinkedQueue

    val issued = new AtomicInteger(0)
    val tokenBodies = new ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/oauth2/token", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      tokenBodies.add(body)
      val n = issued.incrementAndGet()
      if (n == 1) ex.sendResponseHeaders(503, -1) // transient STS failure
      else {
        val b = s"""{"token_type":"Bearer","expires_in":3599,
                   |"access_token":"cc-tok-$n"}""".stripMargin.getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b)
      }
      ex.close()
    })
    val pageHits = new ConcurrentLinkedQueue[String]()
    server.createContext("/v1.0/devices", (ex: HttpExchange) => {
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
        .getOrElse("")
      pageHits.add(auth)
      if (auth == "Bearer cc-tok-3") { // cc-tok-2 is expired at the resource
        val b = """{"value":[{"id":"a","os":"linux"},{"id":"b","os":"mac"}]}"""
          .getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b)
      } else ex.sendResponseHeaders(401, -1)
      ex.close()
    })
    server.start()
    val port = server.getAddress.getPort
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("os",
          org.apache.spark.sql.types.StringType)))
      // the full DSv2 option path: acquisition (with one 503 retried
      // inside the provider's envelope), a 401-expired first token,
      // one refresh, then the page parse
      val rows = spark.read.format("graft-odata").schema(schema)
        .option("endpoint", s"http://127.0.0.1:$port/v1.0/devices")
        .option("tokenUrl", s"http://127.0.0.1:$port/oauth2/token")
        .option("clientId", "graft-app")
        .option("clientSecret", "s3cret")
        .option("scope", "https://resource.example/.default")
        .option("retrySleepMs", "0")
        .option("tokenRetrySleepMs", "0")
        .load()
        .collect()
      assert(rows.map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
      // every token request carried the RFC 6749 §4.4 form fields
      val bodies = tokenBodies.asScala.toSeq
      assert(bodies.nonEmpty)
      bodies.foreach { b =>
        assert(b.contains("grant_type=client_credentials"))
        assert(b.contains("client_id=graft-app"))
        assert(b.contains("client_secret=s3cret"))
        assert(b.contains("scope=https%3A%2F%2Fresource.example%2F.default"))
      }
      // 503 then cc-tok-2 (rejected 401) then cc-tok-3 (accepted)
      assert(issued.get() == 3)
      // the expired token was presented exactly once, refreshed, and
      // every later hit (planning + executor fetches) used the fresh one
      val auths = pageHits.asScala.toSeq
      assert(auths.head == "Bearer cc-tok-2")
      assert(auths.tail.nonEmpty &&
        auths.tail.forall(_ == "Bearer cc-tok-3"))
      // accepted token is JVM-cached: a second scan issues nothing new
      val again = spark.read.format("graft-odata").schema(schema)
        .option("endpoint", s"http://127.0.0.1:$port/v1.0/devices")
        .option("tokenUrl", s"http://127.0.0.1:$port/oauth2/token")
        .option("clientId", "graft-app")
        .option("clientSecret", "s3cret")
        .option("scope", "https://resource.example/.default")
        .option("retrySleepMs", "0")
        .option("tokenRetrySleepMs", "0")
        .load().count()
      assert(again == 2)
      assert(issued.get() == 3)
    } finally server.stop(0)
  }

  test("O8 live: managed identity against a stub IMDS — Metadata header, no secret, retry, cache, 401 refresh") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import java.net.InetSocketAddress
    import java.util.concurrent.ConcurrentLinkedQueue

    val issued = new AtomicInteger(0)
    case class Req(uri: String, metadataHeader: String, body: String)
    val tokenReqs = new ConcurrentLinkedQueue[Req]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/metadata/identity/oauth2/token",
      (ex: HttpExchange) => {
        tokenReqs.add(Req(ex.getRequestURI.toString,
          Option(ex.getRequestHeaders.getFirst("Metadata")).getOrElse(""),
          new String(ex.getRequestBody.readAllBytes(), "UTF-8")))
        val n = issued.incrementAndGet()
        if (n == 1) ex.sendResponseHeaders(500, -1) // transient IMDS failure
        else {
          val b = s"""{"token_type":"Bearer","expires_in":86399,
                     |"resource":"https://resource.example/",
                     |"access_token":"mi-tok-$n"}""".stripMargin
            .getBytes("UTF-8")
          ex.sendResponseHeaders(200, b.length)
          ex.getResponseBody.write(b)
        }
        ex.close()
      })
    val pageHits = new ConcurrentLinkedQueue[String]()
    server.createContext("/v1.0/devices", (ex: HttpExchange) => {
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
        .getOrElse("")
      pageHits.add(auth)
      if (auth == "Bearer mi-tok-3") { // mi-tok-2 is expired at the resource
        val b = """{"value":[{"id":"a","os":"linux"},{"id":"b","os":"mac"}]}"""
          .getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b)
      } else ex.sendResponseHeaders(401, -1)
      ex.close()
    })
    server.start()
    val port = server.getAddress.getPort
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("os",
          org.apache.spark.sql.types.StringType)))
      def reader = spark.read.format("graft-odata").schema(schema)
        .option("endpoint", s"http://127.0.0.1:$port/v1.0/devices")
        .option("identityResource", "https://resource.example/")
        .option("identityClientId", "uami-42")
        .option("identityEndpoint",
          s"http://127.0.0.1:$port/metadata/identity/oauth2/token")
        .option("retrySleepMs", "0")
        .option("tokenRetrySleepMs", "0")
      // acquisition (one 500 retried inside the provider's envelope),
      // a 401-expired first token, one refresh, then the page parse
      val rows = reader.load().collect()
      assert(rows.map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
      // every identity request: GET (empty body — no secret exists in
      // this flow), the anti-SSRF Metadata:true header, the public
      // api-version and the url-encoded resource + user-assigned id
      val reqs = tokenReqs.asScala.toSeq
      assert(reqs.nonEmpty)
      reqs.foreach { r =>
        assert(r.metadataHeader == "true", r)
        assert(r.body.isEmpty, s"identity request must carry no body: $r")
        assert(r.uri.contains("api-version=2018-02-01"), r)
        assert(r.uri.contains("resource=https%3A%2F%2Fresource.example%2F"), r)
        assert(r.uri.contains("client_id=uami-42"), r)
      }
      // 500 then mi-tok-2 (rejected 401) then mi-tok-3 (accepted)
      assert(issued.get() == 3)
      val auths = pageHits.asScala.toSeq
      assert(auths.head == "Bearer mi-tok-2")
      assert(auths.tail.nonEmpty &&
        auths.tail.forall(_ == "Bearer mi-tok-3"))
      // accepted token is JVM-cached: a second scan issues nothing new
      assert(reader.load().count() == 2)
      assert(issued.get() == 3)
    } finally server.stop(0)
  }

  test("managed-identity options validate as a group") {
    // identityClientId/identityEndpoint without identityResource, and
    // mixing identity with the other auth mechanisms, are config
    // errors, not silent unauthenticated scans
    assertThrows[IllegalArgumentException] {
      TokenProvider.fromOptions(None, None,
        identityClientId = Some("uami-42"))
    }
    assertThrows[IllegalArgumentException] {
      TokenProvider.fromOptions(None, None,
        identityEndpoint = Some("http://stub"))
    }
    assertThrows[IllegalArgumentException] {
      TokenProvider.fromOptions(Some("tok"), None,
        identityResource = Some("https://r/"))
    }
    assertThrows[IllegalArgumentException] {
      TokenProvider.fromOptions(None, None, Some("http://sts"), Some("id"),
        Some("sec"), None, identityResource = Some("https://r/"))
    }
    // the production default: no endpoint option → the IMDS well-known
    // link-local address
    assert(ManagedIdentityTokenProvider.ImdsEndpoint
      .startsWith("http://169.254.169.254/"))
  }

  test("client-credentials options validate as a group") {
    // clientId without tokenUrl, and tokenUrl missing the secret, are
    // config errors, not silent unauthenticated scans
    assertThrows[IllegalArgumentException] {
      TokenProvider.fromOptions(None, None, None, Some("id"), None, None)
    }
    assertThrows[IllegalArgumentException] {
      TokenProvider.fromOptions(None, None, Some("http://sts"), Some("id"),
        None, None)
    }
    assertThrows[IllegalArgumentException] {
      TokenProvider.fromOptions(Some("tok"), None, Some("http://sts"),
        Some("id"), Some("sec"), None)
    }
  }

  test("delta mode: tombstones surface as removed=true; pruning remaps by name; schema guard") {
    import graft.queries.ParityQueries.fixtureRoot
    import org.apache.spark.sql.types.{BooleanType, StructField}
    val schema = EntitySchemas.managedDeviceSource
      .add(StructField("removed", BooleanType))
    val df = spark.read.format("graft-odata").schema(schema)
      .option("firstPage", s"$fixtureRoot/managedDevicesDelta/page1.json")
      .option("delta", "true")
      .load()
    val rows = df.select("id", "deviceName", "removed").collect()
      .map(r => r.getString(0).take(8) -> (Option(r.getString(1)), r.getBoolean(2)))
      .toMap
    assert(rows.keySet == Set("11111111", "33333333", "77777777"))
    assert(rows("33333333") == (None, true))   // tombstone: id + flag only
    assert(rows("11111111") == (Some("DESKTOP-ALPHA-R2"), false))
    assert(rows("77777777") == (Some("DESKTOP-ETA"), false))
    // pruned projection still remaps correctly (removed is derived,
    // not parsed, so the prefix shortcut can't apply)
    val pruned = df.select("removed").collect().map(_.getBoolean(0))
    assert(pruned.count(identity) == 1 && pruned.length == 3)
    // the guard: delta without a removed column is a config error
    assertThrows[IllegalArgumentException] {
      spark.read.format("graft-odata")
        .schema(EntitySchemas.managedDeviceSource)
        .option("firstPage", s"$fixtureRoot/managedDevicesDelta/page1.json")
        .option("delta", "true").load().collect()
    }
  }

  test("delta mode: filtering on the synthetic removed column is not pushed") {
    import graft.queries.ParityQueries.fixtureRoot
    import org.apache.spark.sql.types.{BooleanType, StructField}
    import org.apache.spark.sql.functions.col
    val schema = EntitySchemas.managedDeviceSource
      .add(StructField("removed", BooleanType))
    val df = spark.read.format("graft-odata").schema(schema)
      .option("firstPage", s"$fixtureRoot/managedDevicesDelta/page1.json")
      .option("delta", "true")
      .load()
    // The canonical tombstone-apply query. The optimizer infers
    // IsNotNull(removed) from the predicate; `removed` is DERIVED
    // from the @removed marker (never parsed), so pushing it would
    // either throw at reader init or silently drop every row. It must
    // stay a Spark residual.
    val live = df.filter(!col("removed"))
    val scanDesc = live.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        s.scan.description()
    }.getOrElse("")
    // `removed` may (and must) appear in $select; the bug would show
    // as a rendered $filter clause on it
    assert(!scanDesc.contains("$filter"),
      s"pushed filter on synthetic column leaked into the scan: $scanDesc")
    val ids = live.select("id").collect().map(_.getString(0).take(8)).toSet
    assert(ids == Set("11111111", "77777777")) // tombstone 33333333 dropped
    // and with removed pruned out entirely after the filter
    assert(live.select("deviceName").count() == 2)
  }

  // ------------------------------------------------ live HTTP transport

  test("live transport: composed URL, bearer auth, 429 retry, page chain") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import java.net.InetSocketAddress
    import java.util.concurrent.ConcurrentLinkedQueue

    val seen = new ConcurrentLinkedQueue[(String, String)]() // (uri, auth)
    val throttled = new AtomicInteger(0)
    def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val port = server.getAddress.getPort
    def record(ex: HttpExchange): Unit = seen.add(
      ex.getRequestURI.toString ->
        Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse(""))
    server.createContext("/v1.0/devices", (ex: HttpExchange) => {
      record(ex)
      if (throttled.getAndIncrement() == 0) {
        ex.sendResponseHeaders(429, -1); ex.close() // first hit: throttle
      } else respond(ex, 200,
        s"""{"value":[{"id":"a","os":"linux"},{"id":"b","os":"mac"}],
           |"@odata.nextLink":"http://127.0.0.1:$port/v1.0/devices/page2"}"""
          .stripMargin)
    })
    server.createContext("/v1.0/devices/page2", (ex: HttpExchange) => {
      record(ex)
      respond(ex, 200, """{"value":[{"id":"c","os":"linux"}]}""")
    })
    server.start()
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("os",
          org.apache.spark.sql.types.StringType)))
      val rows = spark.read.format("graft-odata").schema(schema)
        .option("endpoint", s"http://127.0.0.1:$port/v1.0/devices")
        .option("pageSize", "2")
        .option("expand", "owner")
        .option("authToken", "tok-123")
        .option("retrySleepMs", "0")
        .load()
        .filter(col("os") === "linux")
        .collect()
      assert(rows.map(_.getString(0)).sorted.toSeq == Seq("a", "c"))
      val uris = seen.asScala.toSeq
      // every request carried the bearer token
      assert(uris.forall(_._2 == "Bearer tok-123"))
      // the first-page URL composed the pushed-down scan state
      val first = uris.map(_._1).filter(_.startsWith("/v1.0/devices?"))
      assert(first.nonEmpty)
      assert(first.head.contains("$select=id,os"))
      assert(first.head.contains("$filter=os%20eq%20%27linux%27"))
      assert(first.head.contains("$top=2"))
      assert(first.head.contains("$expand=owner"))
      // the 429 was retried: the composed URL was requested 2+ times
      assert(first.size >= 2)
    } finally server.stop(0)
  }

  test("a chain exceeding maxPages throws instead of truncating silently") {
    // the 2-page fixture chain with maxPages=1: a silent stop would
    // yield a plausible-but-incomplete scan (fatal to delta sync)
    val conf = fileConf(64L << 20).copy(maxPages = 1)
    val e = intercept[IllegalStateException] {
      new ODataScan(EntitySchemas.managedDeviceSource, Array.empty, conf)
        .planInputPartitions()
    }
    assert(e.getMessage.contains("maxPages=1"))
  }

  test("distinct static tokens always get distinct cache keys") {
    class Probe(t: String) extends StaticTokenProvider(t) {
      def key: String = cacheKey
    }
    // "Aa"/"BB" is the classic String.hashCode collision — the old
    // 32-bit key would have crossed these credentials between scans
    assert("Aa".hashCode == "BB".hashCode)
    assert(new Probe("Aa").key != new Probe("BB").key)
    assert(new Probe("tok").key == new Probe("tok").key)
  }

  test("driver page-loop readers consume a live chain through an HTTP fetcher") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import java.net.InetSocketAddress
    def respond(ex: HttpExchange, body: String): Unit = {
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val port = server.getAddress.getPort
    // relative nextLink and deltaLink: resolution must follow the page URL
    server.createContext("/delta/start", (ex: HttpExchange) => respond(ex,
      """{"value":[
        |{"id":"a","os":"linux"},
        |{"id":"b","os":"mac","@removed":{"reason":"deleted"}}],
        |"@odata.nextLink":"page2"}""".stripMargin))
    // a row's own link-shaped key is data, not the page's cursor
    server.createContext("/delta/page2", (ex: HttpExchange) => respond(ex,
      """{"value":[{"id":"c","os":"linux","@odata.deltaLink":"row"}],
        |"@odata.deltaLink":"start?$deltatoken=t9"}""".stripMargin))
    server.start()
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("os",
          org.apache.spark.sql.types.StringType)))
      val fetcher = new RetryingPageFetcher(new HttpPageFetcher(None),
        maxRetries = 2, sleepMs = 0)
      val (changes, link) = ODataPageReader.readDeltaPages(spark,
        s"http://127.0.0.1:$port/delta/start", schema, fetcher = fetcher)
      // rows in page order, tombstones flagged
      assert(changes.collect().map(r => r.getString(0) -> r.getBoolean(2))
        .toSeq == Seq("a" -> false, "b" -> true, "c" -> false))
      // the persisted cursor came back absolute, resolved against page2
      assert(link.contains(
        s"http://127.0.0.1:$port/delta/start?$$deltatoken=t9"))
      // retained remote bodies are budgeted: a chain past the budget
      // fails loudly, pointing at the DSv2 connector, instead of
      // accumulating unbounded driver heap
      val e = intercept[IllegalStateException] {
        ODataPageReader.readDeltaPages(spark,
          s"http://127.0.0.1:$port/delta/start", schema, fetcher = fetcher,
          urlBodyBudgetBytes = 10L)
      }
      assert(e.getMessage.contains("urlBodyBudgetBytes"))
    } finally server.stop(0)
  }

  private def scanOf(df: DataFrame): Scan =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.head

  test("pushed LIMIT stops the cursor walk at the covering page") {
    // fixture chain: page1 = 4 rows → page2 = 2 rows
    val q3 = readMd.limit(3)
    assert(scanOf(q3).description().contains("limit=3"))
    assert(scanOf(q3).toBatch.planInputPartitions().length == 1,
      "limit 3 is covered by page1's 4 rows — page2 must not be fetched")
    assert(q3.count() == 3, "Spark's retained limit trims the overshoot")
    val q5 = readMd.limit(5)
    assert(scanOf(q5).toBatch.planInputPartitions().length == 2,
      "limit 5 needs both pages")
    assert(q5.count() == 5)
  }

  test("LIMIT is declined under pushed filters and under delta mode") {
    // pushed filter: raw page rows ≠ surviving rows — walk must not stop
    val filtered = readMd.filter(col("operatingSystem") === "Windows").limit(2)
    assert(!scanOf(filtered).description().contains("limit="))
    assert(filtered.count() == 2)
    // delta: truncating the chain would lose the deltaLink page
    import graft.queries.ParityQueries.fixtureRoot
    val delta = spark.read.format("graft-odata")
      .schema(EntitySchemas.managedDeviceSource.add("removed",
        org.apache.spark.sql.types.BooleanType))
      .option("firstPage", s"$fixtureRoot/managedDevicesDelta/page1.json")
      .option("delta", "true").load().limit(1)
    assert(!scanOf(delta).description().contains("limit="))
    assert(delta.count() == 1)
  }

  test("live-mode LIMIT shrinks $top to the limit") {
    val df = spark.read.format("graft-odata")
      .schema(EntitySchemas.managedDeviceSource)
      .option("endpoint", "https://example.invalid/v1.0/devices")
      .option("pageSize", "999").option("authToken", "t")
      .load().limit(3)
    val desc = scanOf(df).description() // plan-only: nothing is fetched
    assert(desc.contains("$top=3") && desc.contains("limit=3"), desc)
    // and a limit LARGER than the page size leaves $top alone
    val big = spark.read.format("graft-odata")
      .schema(EntitySchemas.managedDeviceSource)
      .option("endpoint", "https://example.invalid/v1.0/devices")
      .option("pageSize", "2").option("authToken", "t")
      .load().limit(500)
    assert(scanOf(big).description().contains("$top=2"))
  }

  test("COUNT(*) is answered by the inline count: one page, no chain walk") {
    val agged = readMd.agg(count(lit(1)).as("n"))
    val desc = agged.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.mkString
    assert(desc.contains("ODataCountScan($count=6)"), desc)
    assert(agged.collect().head.getLong(0) == 6L)
    assert(readMd.count() == 6L)
  }

  test("COUNT(*) pushdown declines: filters, delta, absent annotation") {
    def scanDesc(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.description()
      }.mkString
    // filtered count: file-mode inline count is the UNfiltered total
    val filtered = readMd.filter(col("operatingSystem") === "Windows")
      .agg(count(lit(1)).as("n"))
    assert(!scanDesc(filtered).contains("ODataCountScan"))
    assert(filtered.collect().head.getLong(0) == 4L)
    // cloudPCs fixture states no @odata.count → normal scan, right answer
    import graft.queries.ParityQueries.fixtureRoot
    val pcs = spark.read.format("graft-odata")
      .schema(EntitySchemas.cloudPcSource)
      .option("firstPage", s"$fixtureRoot/cloudPCs/page1.json")
      .load().agg(count(lit(1)).as("n"))
    assert(!scanDesc(pcs).contains("ODataCountScan"))
    assert(pcs.collect().head.getLong(0) > 0L)
    // delta chains must walk to the deltaLink page regardless
    val delta = spark.read.format("graft-odata")
      .schema(EntitySchemas.managedDeviceSource.add("removed",
        org.apache.spark.sql.types.BooleanType))
      .option("firstPage", s"$fixtureRoot/managedDevicesDelta/page1.json")
      .option("delta", "true").load().agg(count(lit(1)).as("n"))
    assert(!scanDesc(delta).contains("ODataCountScan"))
  }

  test("scan reports exact statistics; small entities auto-broadcast in joins") {
    val scan = scanOf(readMd)
    val stats = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(stats.numRows.getAsLong == 6)
    assert(stats.sizeInBytes.getAsLong > 0)
    // with stats reported, the optimizer broadcasts the 6-row entity
    // against a large side WITHOUT an explicit broadcast() hint (absent
    // stats, DSv2 assumes defaultSizeInBytes = huge → sort-merge)
    val big = spark.range(200000)
      .selectExpr("cast(id as string) as id", "id as n")
    val joined = big.join(readMd.select("id", "deviceName"), Seq("id"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected stats-driven auto-broadcast:\n$plan")
  }

  test("stats and partition planning share one memoized cursor walk") {
    val batch = scanOf(readMd.limit(3)).toBatch
    // reference equality: a second call must reuse the walked result,
    // not re-fetch the page chain (live APIs are rate-limited)
    assert(batch.planInputPartitions() eq batch.planInputPartitions())
  }

  test("ORDER BY + LIMIT pushes $orderby/$top live; declined in file mode") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import java.net.InetSocketAddress
    import java.util.concurrent.ConcurrentLinkedQueue
    val seen = new ConcurrentLinkedQueue[String]()
    def respond(ex: HttpExchange, body: String): Unit = {
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val port = server.getAddress.getPort
    // the server honors $orderby: a DESC-sorted two-page chain
    server.createContext("/v1.0/sorted", (ex: HttpExchange) => {
      seen.add(ex.getRequestURI.toString)
      if (ex.getRequestURI.toString.contains("page2"))
        respond(ex, """{"value":[{"id":"x","n":1}]}""")
      else respond(ex,
        s"""{"value":[{"id":"z","n":3},{"id":"y","n":2}],
           |"@odata.nextLink":"http://127.0.0.1:$port/v1.0/sorted/page2"}"""
          .stripMargin)
    })
    server.start()
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType)))
      val base = spark.read.format("graft-odata").schema(schema)
        .option("endpoint", s"http://127.0.0.1:$port/v1.0/sorted")
        .option("authToken", "t").option("retrySleepMs", "0")
        .load()
      val df = base.orderBy(col("n").desc).limit(2)
      val desc = scanOf(df).description()
      assert(desc.contains("$orderby=n desc") && desc.contains("limit=2"),
        desc)
      assert(df.collect().map(_.getString(0)).toSeq == Seq("z", "y"))
      // walk stopped at page1 (2 rows cover the top-2): page2 untouched
      assert(!seen.asScala.exists(_.contains("page2")), seen.asScala.toSeq)
      assert(seen.asScala.forall(u =>
        u.contains("%24orderby=n%20desc") || u.contains("$orderby=n%20desc")),
        seen.asScala.toSeq)
      // string sorts are collation-sensitive (server may case-fold while
      // Spark compares UTF8 binary): declined even live — TopN stays in
      // Spark and the full chain is read, so the answer is binary-exact
      val sq = base.orderBy(col("id").desc).limit(2)
      assert(!scanOf(sq).description().contains("$orderby"),
        scanOf(sq).description())
      assert(sq.collect().map(_.getString(0)).toSeq == Seq("z", "y"))
    } finally server.stop(0)
    // file mode: no server to sort — TopN stays in Spark, answer right
    val fq = readMd.orderBy(col("deviceName").desc).limit(2)
    assert(!scanOf(fq).description().contains("$orderby"))
    assert(fq.collect().length == 2)
  }

  test("advisory numeric filters ride the live $filter; Spark's residual owns correctness") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val port = server.getAddress.getPort
    def rows(ns: Int*) = ns.map(n => s"""{"id":"r$n","n":$n}""")
      .mkString("""{"value":[""", ",", "]}")
    // an HONORING server: applies the numeric predicate itself
    server.createContext("/v1.0/honor", (ex: HttpExchange) => {
      val q = java.net.URLDecoder.decode(
        Option(ex.getRequestURI.getRawQuery).getOrElse(""), "UTF-8")
      val body = if (q.contains("n ge 3")) rows(3, 4)
        else rows(1, 2, 3, 4)
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b)
      ex.close()
    })
    // an IGNORING server: returns everything regardless of $filter —
    // the residual must still produce the right answer
    server.createContext("/v1.0/ignore", (ex: HttpExchange) => {
      val b = rows(1, 2, 3, 4).getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b)
      ex.close()
    })
    server.start()
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType)))
      def read(path: String) = spark.read.format("graft-odata")
        .schema(schema)
        .option("endpoint", s"http://127.0.0.1:$port/v1.0/$path")
        .option("authToken", "t").option("retrySleepMs", "0")
        .load()
      val honored = read("honor").filter(col("n") >= 3)
      // the optimizer-inferred IsNotNull(n) rides the COMPLETE tier
      // (`n ne null`), the user comparison the advisory tier
      assert(scanOf(honored).description()
        .contains("$filter=n ne null and n ge 3"),
        scanOf(honored).description())
      // the residual Filter stays in Spark's plan (advisory ≠ complete)
      assert(honored.queryExecution.optimizedPlan.toString
        .contains("Filter"), honored.queryExecution.optimizedPlan)
      assert(honored.collect().map(_.getLong(1)).sorted.toSeq == Seq(3L, 4L))
      val ignored = read("ignore").filter(col("n") >= 3)
      assert(ignored.collect().map(_.getLong(1)).sorted.toSeq == Seq(3L, 4L))
      // raw-row hazard guards: with an advisory filter present, LIMIT
      // and COUNT(*) pushdowns decline (raw page rows ≠ surviving rows
      // when no server applies the URL)
      val lim = read("honor").filter(col("n") >= 3).limit(1)
      assert(!scanOf(lim).description().contains("limit="),
        scanOf(lim).description())
      assert(lim.collect().map(_.getLong(1)).toSeq == Seq(3L))
      // boolean equality is advisory-eligible; strings stay complete
      val mixed = read("honor").filter(col("id") === "r3" && col("n") < 4)
      val d = scanOf(mixed).description()
      assert(d.contains("id eq 'r3'") && d.contains("n lt 4"), d)
    } finally server.stop(0)
  }

  test("grouped aggregates push as $apply (complete) — plan shape, decline paths") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val port = server.getAddress.getPort
    server.createContext("/v1.0/metrics", (ex: HttpExchange) => {
      val q = java.net.URLDecoder.decode(
        Option(ex.getRequestURI.getRawQuery).getOrElse(""), "UTF-8")
      val body =
        if (q.startsWith("$apply="))
          """{"value":[{"os":"linux","agg0":96,"agg1":2}]}"""
        else """{"value":[{"id":"a","os":"linux","ramGB":96,"name":"x"}]}"""
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    server.start()
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("os",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ramGB",
          org.apache.spark.sql.types.LongType)))
      def base = spark.read.format("graft-odata").schema(schema)
        .option("endpoint", s"http://127.0.0.1:$port/v1.0/metrics")
        .option("authToken", "t").option("retrySleepMs", "0")
        .load()
      val pushedDf = base.groupBy("os")
        .agg(sum("ramGB").as("total"), count(lit(1)).as("n"))
      val desc = scanOf(pushedDf).description()
      assert(desc.contains(
        "$apply=groupby((os),aggregate(ramGB with sum as agg0," +
          "$count as agg1))"), desc)
      // average renders `with average`; distinct count `with
      // countdistinct` (numeric column)
      val avgDf = base.groupBy("os").agg(avg("ramGB").as("a"))
      assert(scanOf(avgDf).description()
        .contains("aggregate(ramGB with average as agg0)"),
        scanOf(avgDf).description())
      val cdDf = base.groupBy("os")
        .agg(count_distinct(col("ramGB")).as("nd"))
      assert(scanOf(cdDf).description()
        .contains("aggregate(ramGB with countdistinct as agg0)"),
        scanOf(cdDf).description())
      // distinct count over a STRING declines (server DISTINCT may
      // fold case; Spark's is binary)
      val cdStr = base.groupBy("os")
        .agg(count_distinct(col("name")).as("nd"))
      assert(!scanOf(cdStr).description().contains("$apply"))
      // COMPLETE pushdown: the server's groups are final — Spark plans
      // a Project over the scan, no engine-side re-aggregation
      pushedDf.collect()
      val plan = pushedDf.queryExecution.executedPlan.toString
      assert(!plan.contains("HashAggregate"), plan)
      assert(pushedDf.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
        Seq(("linux", 96L, 2L)))
      // decline: MIN/MAX over a string is server-collation-dependent
      val strAgg = base.groupBy("os").agg(max("name").as("m"))
      assert(!scanOf(strAgg).description().contains("$apply"))
      // COMPLETE-tier pushed filter COMPOSES as a filter(...) stage
      // ahead of the groupby (OASIS Data Aggregation §3.2) — the
      // server filters entity rows, then groups; one page of groups
      val filtered = base.filter(col("os") === "linux")
        .groupBy("os").agg(sum("ramGB").as("t"))
      val fdesc = scanOf(filtered).description()
      assert(fdesc.contains("$apply=filter(os eq 'linux')/" +
        "groupby((os),aggregate(ramGB with sum as agg0))"), fdesc)
      // complete pushdown holds under the composed shape too: no
      // engine-side re-aggregation and no residual Filter
      filtered.collect()
      val fplan = filtered.queryExecution.executedPlan.toString
      assert(!fplan.contains("HashAggregate"), fplan)
      // an IN-list filter (still complete tier) composes as well
      val inFiltered = base.filter(col("os").isin("linux", "windows"))
        .groupBy("os").agg(sum("ramGB").as("t"))
      assert(scanOf(inFiltered).description().contains(
        "$apply=filter((os eq 'linux' or os eq 'windows'))/groupby"),
        scanOf(inFiltered).description())
      // but an ADVISORY-tier filter still declines $apply: it is
      // residual-backed by design and complete aggregation would leave
      // no residual to correct a divergent server evaluation
      val advFiltered = base.filter(col("ramGB") >= 8)
        .groupBy("os").agg(sum("ramGB").as("t"))
      assert(!scanOf(advFiltered).description().contains("$apply"),
        scanOf(advFiltered).description())
      // decline: distinct sum has no $apply rendering here
      val dist = base.groupBy("os").agg(sum_distinct(col("ramGB")).as("t"))
      assert(!scanOf(dist).description().contains("$apply"))
      // decline: float/double aggregates — OData Edm.Double can carry
      // NaN/INF and the server's IEEE evaluation diverges from Spark's
      // (NaN greatest, NaN = NaN) with no residual to correct it
      val dblSchema = schema.add("load", org.apache.spark.sql.types.DoubleType)
      def dblBase = spark.read.format("graft-odata").schema(dblSchema)
        .option("endpoint", s"http://127.0.0.1:$port/v1.0/metrics")
        .option("authToken", "t").option("retrySleepMs", "0")
        .load()
      for (aggDf <- Seq(
          dblBase.groupBy("os").agg(sum("load").as("x")),
          dblBase.groupBy("os").agg(min("load").as("x")),
          dblBase.groupBy("os").agg(max("load").as("x")),
          dblBase.groupBy("os").agg(avg("load").as("x")),
          dblBase.groupBy("os").agg(count_distinct(col("load")).as("x"))))
        assert(!scanOf(aggDf).description().contains("$apply"),
          scanOf(aggDf).description())
    } finally server.stop(0)
    // decline: file mode has no server to aggregate
    val fileAgg = readMd.groupBy("operatingSystem")
      .agg(count(lit(1)).as("n"))
    assert(!scanOf(fileAgg).description().contains("$apply"))
    // and the engine-side aggregate still runs: 3 OS groups
    assert(fileAgg.count() == 3)
  }

  test("delta chain streams as micro-batches: cursor offsets, rounds, tombstones") {
    import org.apache.spark.sql.types.{BooleanType, StringType, StructType}
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_stream")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_delta_ckpt")
    def write(name: String, body: String): Unit =
      java.nio.file.Files.writeString(dir.resolve(name), body)
    // round 1: two adds + one add across a two-page chain
    write("p1.json",
      """{"value":[{"id":"a","deviceName":"A"},{"id":"b","deviceName":"B"}],
        |"@odata.nextLink":"p2.json"}""".stripMargin)
    write("p2.json",
      """{"value":[{"id":"c","deviceName":"C"}],
        |"@odata.deltaLink":"cursor1.json"}""".stripMargin)
    // the no-change poll: empty page, cursor self-loop
    write("cursor1.json",
      """{"value":[],"@odata.deltaLink":"cursor1.json"}""")
    val schema = new StructType().add("id", StringType)
      .add("deviceName", StringType).add("removed", BooleanType)
    val stream = spark.readStream.format("graft-odata").schema(schema)
      .option("firstPage", dir.resolve("p1.json").toString)
      .option("delta", "true").load()
    val q = stream.writeStream.format("memory").queryName("delta_stream_mem")
      .outputMode("append").option("checkpointLocation", ckpt.toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("delta_stream_mem").count() == 3)
      // a later trigger finds round 2 at the cursor: an update + a
      // tombstone, then a fresh self-looping cursor
      write("cursor1.json",
        """{"value":[{"id":"a","deviceName":"A2"},
          |{"id":"b","@removed":{"reason":"deleted"}}],
          |"@odata.deltaLink":"cursor2.json"}""".stripMargin)
      write("cursor2.json",
        """{"value":[],"@odata.deltaLink":"cursor2.json"}""")
      q.processAllAvailable()
      val rows = spark.table("delta_stream_mem").collect()
      assert(rows.length == 5, rows.mkString(";"))
      assert(rows.count(_.getAs[Boolean]("removed")) == 1)
      assert(rows.filter(_.getAs[Boolean]("removed"))
        .head.getAs[String]("id") == "b")
      // the update row carries its new payload
      assert(rows.exists(r => r.getAs[String]("id") == "a" &&
        r.getAs[String]("deviceName") == "A2"))
      q.stop()
      // RESTART from the checkpoint: a new query instance must resume
      // at the committed cursor (cursor2), not re-read rounds 1-2 —
      // exercises deserializeOffset + the stateless admission-control
      // poll (an internal cursor field would reset to page1 here)
      write("cursor2.json",
        """{"value":[{"id":"d","deviceName":"D"}],
          |"@odata.deltaLink":"cursor3.json"}""".stripMargin)
      write("cursor3.json",
        """{"value":[],"@odata.deltaLink":"cursor3.json"}""")
      // (memory sinks refuse checkpoint recovery; foreachBatch is the
      // recoverable sink, which is also p13's production shape)
      val resumed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val q2 = stream.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.collect().foreach(r => resumed.add(r.getAs[String]("id")))
        }
        .start()
      try q2.processAllAvailable() finally q2.stop()
      assert(resumed.asScala.toSeq == Seq("d"),
        s"restart must resume at the committed cursor, got ${resumed.asScala.toSeq}")
    } finally {
      q.stop()
      spark.catalog.dropTempView("delta_stream_mem")
    }
  }

  test("streaming read without delta=true is rejected with guidance") {
    val e = intercept[Exception] {
      spark.readStream.format("graft-odata")
        .schema(EntitySchemas.managedDeviceSource)
        .option("firstPage", mdFirstPage).load()
        .writeStream.format("memory").queryName("no_delta_stream").start()
    }
    // without delta=true the table doesn't advertise MICRO_BATCH_READ,
    // so Spark rejects at capability-check; the toMicroBatchStream
    // require() is the belt-and-braces backstop behind it
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m => m.contains("delta=true") ||
      m.toLowerCase.contains("does not support")), e.toString)
  }

  // ------------------------------------------------ one plan per chain

  /** Loopback stub serving `pages` (path → body); `throttleOnce` paths
    * answer 429 to their first request. Records every exchange's
    * (path, client port) so a test can see which connection carried it. */
  private def withStub[T](pages: Map[String, String],
      throttleOnce: Set[String] = Set.empty)
      (body: (String, java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]) => T): T = {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val throttled = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => try {
      val path = ex.getRequestURI.getPath
      seen.add(path -> ex.getRemoteAddress.getPort)
      // Graph's throttle answer carries a JSON error body, which a
      // client must drain to keep the connection
      val (code, text) =
        if (throttleOnce(path) && throttled.add(path))
          429 -> """{"error":{"code":"TooManyRequests"}}"""
        else 200 -> pages(path)
      val b = text.getBytes("UTF-8")
      ex.sendResponseHeaders(code, b.length)
      ex.getResponseBody.write(b)
    } finally ex.close())
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}", seen)
    finally server.stop(0)
  }

  private val idOsSchema = new org.apache.spark.sql.types.StructType()
    .add("id", org.apache.spark.sql.types.StringType)
    .add("os", org.apache.spark.sql.types.StringType)

  private def httpFetcher =
    new RetryingPageFetcher(new HttpPageFetcher(None), maxRetries = 2,
      sleepMs = 0)

  test("a URL chain parses in one plan: one local relation, no Union, page order kept") {
    import org.apache.spark.sql.catalyst.plans.logical.Union
    import org.apache.spark.sql.execution.LogicalRDD
    val n = 5
    val pages = (1 to n).map { i =>
      val rows = (1 to 3).map(j => s"""{"id":"p$i-r$j","os":"linux"}""")
      val next = if (i < n) s""","@odata.nextLink":"p${i + 1}"""" else ""
      s"/chain/p$i" -> s"""{"value":[${rows.mkString(",")}]$next}"""
    }.toMap
    withStub(pages) { (base, _) =>
      val df = ODataPageReader.readPages(spark, s"$base/chain/p1",
        idOsSchema, fetcher = httpFetcher)
      val plan = df.queryExecution.analyzed
      assert(plan.collect { case u: Union => u }.isEmpty, plan.treeString)
      // the single leaf is the one read.json of all bodies; its input
      // is ONE local relation (a single parallelized collection)
      val leaves = plan.collectLeaves()
      assert(leaves.size == 1, plan.treeString)
      def lineage(r: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.rdd.RDD[_]] =
        r +: r.dependencies.flatMap(d => lineage(d.rdd))
      val roots = lineage(leaves.head.asInstanceOf[LogicalRDD].rdd)
        .filter(_.dependencies.isEmpty)
      assert(roots.map(_.getClass.getSimpleName) ==
        Seq("ParallelCollectionRDD"))
      val ids = df.select("id").collect().map(_.getString(0)).toSeq
      assert(ids == (1 to n).flatMap(i => (1 to 3).map(j => s"p$i-r$j")))
    }
  }

  test("HTTP fetches reuse one keep-alive connection, across a 429 retry too") {
    val pages = Map(
      "/ka/p1" -> """{"value":[{"id":"a"}],"@odata.nextLink":"p2"}""",
      "/ka/p2" -> """{"value":[{"id":"b"}],"@odata.nextLink":"p3"}""",
      "/ka/p3" -> """{"value":[{"id":"c"}]}""")
    withStub(pages, throttleOnce = Set("/ka/p2")) { (base, seen) =>
      val df = ODataPageReader.readPages(spark, s"$base/ka/p1", idOsSchema,
        fetcher = httpFetcher)
      assert(df.select("id").collect().map(_.getString(0)).toSeq ==
        Seq("a", "b", "c"))
      val exchanges = seen.asScala.toSeq
      // p2 was throttled once, retried, and answered
      assert(exchanges.map(_._1) ==
        Seq("/ka/p1", "/ka/p2", "/ka/p2", "/ka/p3"))
      assert(exchanges.map(_._2).distinct.size == 1,
        s"expected one connection, saw client ports $exchanges")
    }
  }

  test("cursor scan reads root-level keys only, in one pass, as readTree would") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def viaTree(body: String): (Option[String], Option[String], Int, Option[Long]) = {
      val root = mapper.readTree(body)
      def l(f: String) = Option(root.get(f)).filter(!_.isNull).map(_.asText())
      val v = root.get("value")
      val c = Option(root.get("@odata.count")).filter(_.canConvertToLong)
      (l("@odata.nextLink"), l("@odata.deltaLink"),
        if (v != null && v.isArray) v.size else 0, c.map(_.asLong()))
    }
    val cases = Seq(
      // nextLink ahead of value
      """{"@odata.nextLink":"https://g/p2","value":[{"id":"a"},{"id":"b"}]}""",
      // a row's own nextLink is not the page's
      """{"value":[{"id":"a","@odata.nextLink":"https://g/row"}]}""",
      // nested non-cursor objects are skipped whole
      """{"meta":{"@odata.nextLink":"https://g/x","value":[1,2]},"value":[]}""",
      // an explicit null link is no link
      """{"value":[{"id":"a"}],"@odata.nextLink":null,"@odata.deltaLink":"https://g/d"}""",
      // duplicate root keys: the last wins, also when it is null
      """{"@odata.nextLink":"https://g/a","value":[1],"@odata.nextLink":"https://g/b","value":[1,2,3]}""",
      """{"@odata.nextLink":"https://g/a","@odata.nextLink":null}""",
      // the inline count: numbers only
      """{"@odata.count":42,"value":[[1],{"x":[2]}]}""",
      """{"@odata.count":"42","value":{"id":"not-an-array"}}""",
      """[{"@odata.nextLink":"https://g/top-level-array"}]""")
    for (b <- cases) {
      val m = PageCursor.pageMeta(b, "https://g/p1")
      assert((m.nextLink, m.deltaLink, m.rows, m.count) == viaTree(b), b)
      assert(PageCursor.inlineCount(b) == viaTree(b)._4, b)
    }
    assert(PageCursor.pageMeta(cases.head, "https://g/p1").nextLink
      .contains("https://g/p2"))
    assert(PageCursor.pageMeta(cases(4), "https://g/p1").rows == 3)
  }

  test("a truncated page, or a link that is not a scalar, throws from the cursor scan and from readPages") {
    import com.fasterxml.jackson.core.JsonProcessingException
    for (b <- Seq("""{"value":[{"id":"a"},{"id":""",
        """{"value":[{"id":"a"}]""",
        """{"value":[{"id":"a"}],"@odata.nextLink":"p2"""",
        """{"value":[{"id":"a","nested":{"x":[1,""",
        """{"value":[],"@odata.nextLink":{"href":"p2"}}""")) {
      intercept[JsonProcessingException](PageCursor.pageMeta(b, "p1.json"))
      intercept[JsonProcessingException](PageCursor.inlineCount(b))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_torn")
    java.nio.file.Files.writeString(dir.resolve("p1.json"),
      """{"value":[{"id":"a"}],"@odata.nextLink":"p2.json"}""")
    java.nio.file.Files.writeString(dir.resolve("p2.json"),
      """{"value":[{"id":"b"},{"id":""")
    intercept[JsonProcessingException](ODataPageReader.readPages(spark,
      dir.resolve("p1.json").toString, idOsSchema))
  }

  test("utf8Length counts real encoded bytes: multi-byte and surrogate pairs") {
    import java.nio.charset.StandardCharsets.UTF_8
    // ascii, 2-byte, 3-byte, and a supplementary char (surrogate pair,
    // 4 UTF-8 bytes from 2 UTF-16 units — each half must count 2)
    for (s <- Seq("plain", "café", "€10", "a😀b", "")) {
      assert(PageCursor.utf8Length(s) == s.getBytes(UTF_8).length.toLong,
        s"utf8Length mismatch for ${s.codePoints().toArray.mkString(",")}")
    }
  }
}

object ODataSourceSpec {
  /** O8 test double: first acquisition attempt throws (exercising the
    * bounded acquire retry), later ones hand out tok-1, tok-2, ... */
  class FlakyTokenProvider extends TokenProvider {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    override protected def acquireRetries: Int = 5
    override protected def acquireSleepMs: Long = 0L
    override protected def acquire(): String = {
      val n = attempts.incrementAndGet()
      if (n == 1) throw new RuntimeException("transient STS failure")
      s"tok-${n - 1}"
    }
  }
}
