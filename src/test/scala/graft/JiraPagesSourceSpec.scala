package graft

import org.apache.spark.sql.functions._

import graft.etl.{Flatten, JiraEtl}
import graft.sources.jira.PageTransport

/** DataSource V2 page source: parity with the schema'd JSON reader,
  * page-per-partition parallelism, column pruning pushed into the reader,
  * and composition with the P1–P3 flatten.
  */
class JiraPagesSourceSpec extends SparkSpec {

  private def readPages(entity: String, files: String*) =
    spark.read.format("graft-jira-pages")
      .option("entity", entity)
      .load(files.map(fixture): _*)

  test("issues: DSv2 rows match the spark.read.json path") {
    val v2 = readPages("issues", "issues_page_1.json", "issues_page_2.json")
    assert(v2.schema === JiraEtl.issueSchema)
    assert(v2.count() === 3)
    val flat = Flatten(v2, JiraEtl.issueMapping)
    val viaJson = JiraEtl.readIssues(spark,
      fixture("issues_page_1.json"), fixture("issues_page_2.json"))
    assert(flat.orderBy("issue_id").collect().toSeq ===
      viaJson.orderBy("issue_id").collect().toSeq)
  }

  test("one InputPartition per page file (the pagination loop, parallelized)") {
    val v2 = readPages("issues", "issues_page_1.json", "issues_page_2.json")
    assert(v2.rdd.getNumPartitions === 2)
  }

  test("column pruning reaches the reader (pruned ReadSchema in the scan)") {
    val v2 = readPages("issues", "issues_page_1.json").select("key")
    val scan = v2.queryExecution.executedPlan.toString
    // DSv2 BatchScan prints its (pruned) output list: only `key` may appear
    assert(scan.contains("BatchScan graft-jira-pages(issues)[key#"),
      s"expected scan output pruned to [key], plan was:\n$scan")
    assert(!scan.contains("fields#"),
      s"unrequested fields must not be read:\n$scan")
    assert(v2.collect().map(_.getString(0)).sorted.toSeq === Seq("PROJ-1", "PROJ-2"))
  }

  test("users (bare array) and worklogs (cursor envelope) read through the same source") {
    val users = readPages("users", "users_1.json")
    assert(users.count() === 2)
    assert(users.select("accountId").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("acc-1", "acc-2"))
    val wl = readPages("worklogs", "worklogs_page_1.json", "worklogs_page_2.json")
    assert(wl.count() === 3)
    assert(wl.select("tempoWorklogId").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 2L, 3L))
  }

  /** Counts fetch attempts per page address through the fault-injection
    * seam, then hands each attempt to `inject`, which may throw to fail it.
    */
  private def countAttempts(inject: (String, Int) => Unit = (_, _) => ())
      : java.util.concurrent.ConcurrentHashMap[String, Integer] = {
    val attempts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    PageTransport.faultInjector = (path, attempt) => {
      attempts.merge(path, 1, (a, b) => a + b)
      inject(path, attempt)
    }
    attempts
  }

  test("transient page failures retry with backoff; committed pages are never re-read") {
    try {
      val flaky = fixture("issues_page_2.json")
      // page 2 fails on its first two attempts, then recovers
      val attempts = countAttempts((path, attempt) =>
        if (path == flaky && attempt <= 2)
          throw new java.io.IOException(s"injected transient failure (attempt $attempt)"))
      val v2 = spark.read.format("graft-jira-pages")
        .option("entity", "issues")
        .option("mode", "cursor")
        .option("retries", "3")
        .option("retryBackoffMs", "1")
        .load(fixture("issues_page_1.json"), flaky)
      assert(v2.count() === 3, "the scan must complete through the transient failure")
      assert(attempts.get(fixture("issues_page_1.json")) === 1,
        "the committed page must not be re-read on the later page's retries")
      assert(attempts.get(flaky) === 3,
        "the flaky page retries exactly until it recovers")
    } finally PageTransport.resetForTest()
  }

  test("retries exhaust into a terminal failure (no infinite retry loop)") {
    try {
      val attempts = countAttempts((_, _) =>
        throw new java.io.IOException("injected permanent failure"))
      val v2 = spark.read.format("graft-jira-pages")
        .option("entity", "issues")
        .option("retries", "2")
        .option("retryBackoffMs", "1")
        .load(fixture("issues_page_1.json"))
      val e = intercept[org.apache.spark.SparkException](v2.count())
      assert(e.getMessage.contains("failed after 2 attempts") ||
        Option(e.getCause).exists(_.getMessage.contains("failed after 2 attempts")))
      assert(attempts.get(fixture("issues_page_1.json")) >= 2)
    } finally PageTransport.resetForTest()
  }

  // ---- real-HTTP cases: an in-process loopback server keeps these hermetic ----

  /** Minimal loopback HTTP fixture: serves `routes` (request path+query →
    * body), optionally failing the first `failFirst(route)` hits with 503;
    * records hit counts and the Authorization header of every request.
    */
  private class LoopbackServer(routes: Map[String, String],
      failFirst: Map[String, Int] = Map.empty,
      statusFor: Map[String, Int] = Map.empty,
      delayMs: Map[String, Long] = Map.empty) {
    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val auths = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, String)]())
    private val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new com.sun.net.httpserver.HttpHandler {
      override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        val key = ex.getRequestURI.toString
        val n = hits.merge(key, 1, (a, b) => a + b)
        auths.add(key ->
          Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse(""))
        delayMs.get(key).foreach(Thread.sleep)
        if (n <= failFirst.getOrElse(key, 0)) ex.sendResponseHeaders(503, -1)
        else statusFor.get(key) match {
          case Some(code) => ex.sendResponseHeaders(code, -1)
          case None => routes.get(key) match {
            case Some(body) =>
              val bytes = body.getBytes("UTF-8")
              ex.sendResponseHeaders(200, bytes.length)
              ex.getResponseBody.write(bytes)
            case None => ex.sendResponseHeaders(404, -1)
          }
        }
        ex.close()
      }
    })
    server.start()
    val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)
  }

  private def fixtureBody(name: String): String = {
    val src = scala.io.Source.fromURL(fixture(name), "UTF-8")
    try src.mkString finally src.close()
  }

  test("HTTP transport sends the Authorization header (Basic/Bearer, token + tokenEnv)") {
    val srv = new LoopbackServer(Map("/issues?startAt=0" -> fixtureBody("issues_page_1.json")))
    try {
      def read(extra: (String, String)*) = {
        var r = spark.read.format("graft-jira-pages").option("entity", "issues")
        extra.foreach { case (k, v) => r = r.option(k, v) }
        r.load(s"${srv.base}/issues?startAt=0").count()
      }
      assert(read("authType" -> "bearer", "token" -> "sekrit-123") === 2)
      assert(srv.auths.get(0)._2 === "Bearer sekrit-123")
      // tokenEnv keeps the literal out of options: resolved from the env
      assert(read("authType" -> "basic", "tokenEnv" -> "HOME") === 2)
      assert(srv.auths.get(1)._2 === s"Basic ${sys.env("HOME")}")
      assert(read() === 2) // no auth options → no header
      assert(srv.auths.get(2)._2 === "")
    } finally srv.stop()
  }

  test("HTTP 5xx retries with backoff until success, then exhausts terminally") {
    val route = "/issues?startAt=0"
    val srv = new LoopbackServer(
      Map(route -> fixtureBody("issues_page_1.json")), failFirst = Map(route -> 2))
    try {
      val ok = spark.read.format("graft-jira-pages").option("entity", "issues")
        .option("retries", "3").option("retryBackoffMs", "1")
        .load(s"${srv.base}$route")
      assert(ok.count() === 2, "two 503s then success must succeed within 3 attempts")
      assert(srv.hits.get(route) === 3)
    } finally srv.stop()
    val dead = new LoopbackServer(Map.empty) // every route 404s
    try {
      val v2 = spark.read.format("graft-jira-pages").option("entity", "issues")
        .option("retries", "2").option("retryBackoffMs", "1")
        .load(s"${dead.base}$route")
      val e = intercept[org.apache.spark.SparkException](v2.count())
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("; ")
      assert(msgs.contains("failed after 2 attempts") && msgs.contains("HTTP 404"))
      assert(dead.hits.get(route) === 2)
    } finally dead.stop()
  }

  test("HTTP 401 fails fast with an actionable auth message — no retry burn") {
    val route = "/issues?startAt=0"
    val srv = new LoopbackServer(Map.empty, statusFor = Map(route -> 401))
    try {
      val df = spark.read.format("graft-jira-pages").option("entity", "issues")
        .option("retries", "5").option("retryBackoffMs", "1")
        .option("authType", "bearer").option("token", "wrong")
        .load(s"${srv.base}$route")
      val e = intercept[org.apache.spark.SparkException](df.count())
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("; ")
      assert(msgs.contains("auth rejected") && msgs.contains("authType"),
        s"401 must name the auth options: $msgs")
      assert(srv.hits.get(route) === 1,
        "retrying the same credentials cannot succeed — exactly one attempt")
    } finally srv.stop()
  }

  test("oversized page fails fast with the maxPageBytes budget in the message") {
    val route = "/issues?startAt=0"
    val srv = new LoopbackServer(Map(route -> fixtureBody("issues_page_1.json")))
    try {
      val df = spark.read.format("graft-jira-pages").option("entity", "issues")
        .option("retries", "5").option("retryBackoffMs", "1")
        .option("maxPageBytes", "64")
        .load(s"${srv.base}$route")
      val e = intercept[org.apache.spark.SparkException](df.count())
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("; ")
      assert(msgs.contains("maxPageBytes"), s"message must name the budget: $msgs")
      assert(srv.hits.get(route) === 1, "a too-large page must not retry")
    } finally srv.stop()
  }

  test("hung server surfaces as a retryable timeout, not a stalled task") {
    val route = "/issues?startAt=0"
    val srv = new LoopbackServer(Map(route -> fixtureBody("issues_page_1.json")),
      delayMs = Map(route -> 3000L))
    val attempts = countAttempts()
    try {
      val df = spark.read.format("graft-jira-pages").option("entity", "issues")
        .option("retries", "2").option("retryBackoffMs", "1")
        .option("httpTimeoutMs", "150")
        .load(s"${srv.base}$route")
      val t0 = System.nanoTime()
      val e = intercept[org.apache.spark.SparkException](df.count())
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("; ")
      assert(msgs.contains("failed after 2 attempts"),
        s"a stalled fetch must reach the bounded-retry path: $msgs")
      // the server's single-threaded dispatcher is still asleep, so count
      // attempts client-side: both went out, both timed out
      assert(attempts.get(s"${srv.base}$route") === 2,
        "the timeout must be retried like any IO failure")
      assert(elapsedMs >= 280, f"two 150 ms timeouts must elapse ($elapsedMs%.0f ms)")
      assert(elapsedMs < 2500, f"timeouts must bound the stall ($elapsedMs%.0f ms)")
    } finally { srv.stop(); PageTransport.resetForTest() }
  }

  test("worklog chain ends on absent metadata AND on explicit null next (no error, no extra fetch)") {
    // the reference treats a missing metadata.next as end-of-scan
    // (worklog_processor.py:106); an explicit {"next": null} must end the
    // same way, not throw or fetch a 'null' URL
    val pAbsent = "/worklogs?case=absent"
    val pNull = "/worklogs?case=null"
    val srv = new LoopbackServer(Map(
      pAbsent -> """{"results": [{"tempoWorklogId": 1, "timeSpentSeconds": 60}]}""",
      pNull -> """{"results": [{"tempoWorklogId": 2, "timeSpentSeconds": 30}],
                   "metadata": {"next": null}}"""))
    try {
      for ((seed, expected) <- Seq(pAbsent -> 1L, pNull -> 1L)) {
        val wl = spark.read.format("graft-jira-pages")
          .option("entity", "worklogs").option("mode", "cursor")
          .option("discover", "true").option("retryBackoffMs", "1")
          .load(s"${srv.base}$seed")
        assert(wl.count() === expected, s"chain from $seed must end after its only page")
      }
      assert(srv.hits.size() === 2, "no phantom next-page fetch for either termination")
    } finally srv.stop()
  }

  test("cursor discovery: worklogs follow metadata.next over real HTTP; committed pages not re-read") {
    val p1 = "/worklogs?offset=0&limit=2"
    val p2 = "/worklogs?offset=2&limit=2"
    // rewrite the fixture's absolute next-URL to a relative one; the cursor
    // resolves it against the current page's URI
    val page1 = fixtureBody("worklogs_page_1.json")
      .replace("https://t.example.net/worklogs?offset=2&limit=2", p2)
    val srv = new LoopbackServer(
      Map(p1 -> page1, p2 -> fixtureBody("worklogs_page_2.json")),
      failFirst = Map(p2 -> 1)) // next page 503s once: current page retries
    try {
      val wl = spark.read.format("graft-jira-pages")
        .option("entity", "worklogs").option("mode", "cursor")
        .option("discover", "true")
        .option("retries", "3").option("retryBackoffMs", "1")
        .load(s"${srv.base}$p1")
      assert(wl.count() === 3, "the chain is walked from the seed alone")
      assert(srv.hits.get(p1) === 1, "committed page must not be re-read on the next page's retry")
      assert(srv.hits.get(p2) === 2, "503 then success")
      assert(srv.hits.size() === 2, "no other page fetched: chain ends at empty metadata")
    } finally srv.stop()
  }

  test("cursor discovery: issues walk startAt/maxResults/total incl. the exact-boundary last page") {
    def page(startAt: Int, total: Int, ids: Seq[Int]) =
      s"""{"startAt": $startAt, "maxResults": 2, "total": $total, "issues": [${
        ids.map(i => s"""{"id": "$i", "key": "A-$i"}""").mkString(", ")}]}"""
    // total=4 with maxResults=2: pages at startAt 0 and 2 ONLY — the
    // total % maxResults == 0 boundary must not fetch startAt=4
    val srv = new LoopbackServer(Map(
      "/issues?startAt=0" -> page(0, 4, Seq(1, 2)),
      "/issues?startAt=2" -> page(2, 4, Seq(3, 4)),
      "/issues?startAt=4" -> page(4, 4, Seq())))
    try {
      val issues = spark.read.format("graft-jira-pages")
        .option("entity", "issues").option("mode", "cursor")
        .option("discover", "true")
        .option("pageTemplate", s"${srv.base}/issues?startAt={startAt}")
        .load(s"${srv.base}/issues?startAt=0")
      assert(issues.select("key").collect().map(_.getString(0)).sorted.toSeq ===
        Seq("A-1", "A-2", "A-3", "A-4"))
      assert(srv.hits.get("/issues?startAt=0") === 1)
      assert(srv.hits.get("/issues?startAt=2") === 1)
      assert(!srv.hits.containsKey("/issues?startAt=4"),
        "exact-boundary chain must stop at total, not fetch an empty page")
    } finally srv.stop()
  }

  test("live-HTTP end-to-end: discovered cursor scan → flatten matches the file-based ETL") {
    val srv = new LoopbackServer(Map(
      "/issues?startAt=0" -> fixtureBody("issues_page_1.json"),
      "/issues?startAt=2" -> fixtureBody("issues_page_2.json")))
    try {
      val v2 = spark.read.format("graft-jira-pages")
        .option("entity", "issues").option("mode", "cursor")
        .option("discover", "true")
        .option("pageTemplate", s"${srv.base}/issues?startAt={startAt}")
        .option("authType", "bearer").option("token", "tkn")
        .load(s"${srv.base}/issues?startAt=0")
      val flat = Flatten(v2, JiraEtl.issueMapping)
      val viaJson = JiraEtl.readIssues(spark,
        fixture("issues_page_1.json"), fixture("issues_page_2.json"))
      assert(flat.orderBy("issue_id").collect().toSeq ===
        viaJson.orderBy("issue_id").collect().toSeq,
        "the live-API path and the offline-file path must produce identical rows")
      assert((0 until srv.auths.size()).forall(i => srv.auths.get(i)._2 === "Bearer tkn"),
        "every page fetch of the chain must carry the auth header")
    } finally srv.stop()
  }

  test("null/absent fields surface as SQL NULL (reference column-omission semantics)") {
    val v2 = readPages("issues", "issues_page_1.json")
    val r = v2.filter(col("id") === "10002")
      .select("fields.resolution", "fields.assignee", "fields.timespent").head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }
}
