package graphbench

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process OData stub on the loopback interface.
  *
  * Serves pre-rendered page bodies by path and query, at most two
  * requests at a time. Pages named in the throttle set answer HTTP 429
  * to their first request of each operation (`resetOperation` starts a
  * new one) and 200 afterwards, the way Graph throttles a tenant. */
final class StubODataServer extends AutoCloseable {
  private val pages = new ConcurrentHashMap[String, Array[Byte]]()
  private val throttled = ConcurrentHashMap.newKeySet[String]()
  private val throttledThisOp = ConcurrentHashMap.newKeySet[String]()
  private val pool = Executors.newFixedThreadPool(2, (r: Runnable) => {
    val t = new Thread(r, "odata-stub")
    t.setDaemon(true)
    t
  })
  private val server = HttpServer.create(
    new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 64)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Publish `body` at `url` (which must start with [[base]]). */
  def put(url: String, body: String, throttle: Boolean = false): Unit = {
    val key = url.stripPrefix(base)
    pages.put(key, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (throttle) throttled.add(key) else throttled.remove(key)
  }

  def remove(url: String): Unit = {
    val key = url.stripPrefix(base)
    pages.remove(key)
    throttled.remove(key)
  }

  def resetOperation(): Unit = throttledThisOp.clear()

  private def handle(ex: HttpExchange): Unit = try {
    val uri = ex.getRequestURI
    val key = uri.getRawPath + Option(uri.getRawQuery).map("?" + _).getOrElse("")
    val body = pages.get(key)
    if (body == null) ex.sendResponseHeaders(404, -1)
    else if (throttled.contains(key) && throttledThisOp.add(key)) {
      ex.getResponseHeaders.add("Retry-After", "0")
      ex.sendResponseHeaders(429, -1)
    } else {
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
    }
  } finally ex.close()

  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
    ()
  }
}
