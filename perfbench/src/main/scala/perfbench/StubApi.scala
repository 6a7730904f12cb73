package perfbench

import java.net.{InetAddress, InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicLong
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The YouGile REST API as a loopback stub: one serving thread, every page
  * rendered before the server starts, so a request costs a map lookup and
  * a socket write. Counts requests, response bytes, items and busy time;
  * a request for a page the universe does not have gets a 404 and is
  * counted as a miss.
  */
final class StubApi(pages: Map[String, Page]) {
  val requests = new AtomicLong
  val bytes = new AtomicLong
  val items = new AtomicLong
  val busyNanos = new AtomicLong
  val misses = new AtomicLong

  private val pool: ExecutorService = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "yougile-stub"); t.setDaemon(true); t
  }
  private val server = HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 64)
  server.setExecutor(pool)
  server.createContext("/api-v2/", (ex: HttpExchange) => serve(ex))
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}/api-v2/"

  private def serve(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      val method = ex.getRequestURI.getPath.stripPrefix("/api-v2/")
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        kv.take(i) -> URLDecoder.decode(kv.drop(i + 1), UTF_8)
      }.toMap
      val page = for {
        offset <- q.get("offset"); limit <- q.get("limit"); deleted <- q.get("includeDeleted")
        p <- pages.get(Universe.key(method, q.get("columnId"), offset.toInt, limit.toInt, deleted.toBoolean))
      } yield p
      requests.incrementAndGet()
      // the server lives in the client's JVM: idle kept-alive connections
      // from the client's per-request HttpClients would pile up here, so
      // every exchange closes its connection
      ex.getResponseHeaders.set("Connection", "close")
      page match {
        case Some(p) =>
          ex.getResponseHeaders.set("Content-Type", "application/json")
          ex.sendResponseHeaders(200, p.bytes.length.toLong)
          ex.getResponseBody.write(p.bytes)
          bytes.addAndGet(p.bytes.length.toLong)
          items.addAndGet(p.items.toLong)
        case None =>
          misses.incrementAndGet()
          ex.sendResponseHeaders(404, -1)
      }
    } finally {
      ex.close()
      busyNanos.addAndGet(System.nanoTime() - t0)
    }
  }

  def reset(): Unit = Seq(requests, bytes, items, busyNanos, misses).foreach(_.set(0))

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    ()
  }
}
