package jirabench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback Jira/Tempo API serving pre-generated pages from memory.
  *
  * Addresses are `/<pull>/<page>`: `<pull>` names one pull (one scan of
  * one entity), so the server can check the conserved quantity of each
  * pull separately, and `<page>` (path plus query string) picks the page
  * body. The first request of a pull for a page in `throttled` is answered
  * with 429; the retry gets the page.
  *
  * The handler pool has at most `threads` threads and is shut down by
  * [[stop]]. The JVM must run with `-Dsun.net.httpserver.nodelay=true`:
  * without it each sequential page waits for the client's delayed ACK.
  */
final class ApiServer(pages: Map[String, Array[Byte]], throttled: Set[String],
    threads: Int) {

  /** Per (pull, page): 200 responses and 429 responses. */
  val ok = new ConcurrentHashMap[(String, String), AtomicLong]()
  val refused = new ConcurrentHashMap[(String, String), AtomicLong]()
  val unknown = new AtomicLong()

  private val pool: ExecutorService = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "jirabench-api")
    t.setDaemon(true)
    t
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def bump(m: ConcurrentHashMap[(String, String), AtomicLong],
      k: (String, String)): Long =
    m.computeIfAbsent(k, _ => new AtomicLong()).incrementAndGet()

  private def handle(ex: HttpExchange): Unit =
    try {
      val uri = ex.getRequestURI
      val full = uri.getRawPath + Option(uri.getRawQuery).map("?" + _).getOrElse("")
      val slash = full.indexOf('/', 1)
      val pull = if (slash > 0) full.substring(1, slash) else ""
      val page = if (slash > 0) full.substring(slash) else full
      val key = (pull, page)
      pages.get(page) match {
        case None =>
          unknown.incrementAndGet()
          ex.sendResponseHeaders(404, -1)
        case Some(_) if throttled(page) && !refused.containsKey(key) =>
          bump(refused, key)
          ex.getResponseHeaders.add("Retry-After", "0")
          ex.sendResponseHeaders(429, -1)
        case Some(body) =>
          bump(ok, key)
          ex.getResponseHeaders.add("Content-Type", "application/json")
          ex.sendResponseHeaders(200, body.length)
          val out = ex.getResponseBody
          out.write(body)
          out.close()
      }
    } finally ex.close()

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}
