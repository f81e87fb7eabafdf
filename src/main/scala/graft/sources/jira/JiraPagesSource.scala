package graft.sources.jira

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.etl.JiraEtl

/** DataSource V2 provider for the reference's paginated API responses —
  * S1–S3 of SURVEY.md §2a as a first-class Spark source instead of a
  * driver-side loop: every page file becomes one `InputPartition`, so "the
  * pagination loop" is just a parallel scan (the reference walks pages
  * sequentially, `dags/jira/issues/issue_processor.py:114-167`; here 1000
  * executors read 1000 pages at once). Column pruning is pushed into the
  * reader: the JSON→InternalRow converter is driven by the pruned schema,
  * so unrequested (even nested) fields are never materialized — the DSv2
  * form of the reference's P1 mapping-projection.
  *
  * Usage:
  *   spark.read.format("graft-jira-pages")
  *     .option("entity", "issues" | "users" | "worklogs")
  *     .load(paths: _*)
  *
  * Rows are the raw (nested) API objects; compose with `graft.etl.Flatten`
  * for the relational shape. Pages may be files OR live http(s) URLs: the
  * transport sends `Authorization: Basic|Bearer <token>` per
  * `.option("authType")` + `.option("token")`/`.option("tokenEnv")`
  * (reference `dags/jira/jira_fetcher.py:9-17,19-37`), and HTTP >= 400
  * goes through the same bounded-retry path as a connection failure.
  *
  * With `.option("discover", "true")` in cursor mode the page CHAIN is
  * discovered from the envelope at runtime — the reference's exact
  * pagination: worklogs follow `metadata.next`, issues expand
  * `startAt/maxResults/total` through `.option("pageTemplate",
  * ".../issues?startAt={startAt}")` — so only the seed address is needed.
  *
  * Fault tolerance (reference parity — the tenacity retry around the fetch,
  * `dags/jira/jira_base_processor.py:14-17`, and the mid-scan `startAt`
  * resume, `issues/issue_processor.py:103-104`): every page fetch goes
  * through [[PageTransport.fetchWithRetry]] — bounded attempts with
  * exponential backoff, `.option("retries", n)` /
  * `.option("retryBackoffMs", ms)`. With `.option("mode", "cursor")` the
  * scan walks pages sequentially behind a resumable cursor (the
  * reference's exact access pattern): the cursor only advances past a page
  * once it is fetched, so a transient failure retries the CURRENT page and
  * never re-reads committed ones.
  */
class JiraPagesSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-jira-pages"

  private def entity(options: CaseInsensitiveStringMap): String = {
    val e = Option(options.get("entity")).getOrElse("issues")
    require(Seq("issues", "users", "worklogs").contains(e),
      s"unknown entity '$e' (expected issues|users|worklogs)")
    e
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    entity(options) match {
      case "issues" => JiraEtl.issueSchema
      case "users" => JiraEtl.userSchema
      case "worklogs" => JiraEtl.worklogSchema
    }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new JiraPagesTable(schema, entity(opts), paths(opts),
      RetryConf(
        maxAttempts = opts.getInt("retries", 3),
        backoffMs = opts.getLong("retryBackoffMs", 100L),
        cursorMode = "cursor".equalsIgnoreCase(opts.getOrDefault("mode", "parallel")),
        authHeader = authHeader(opts),
        discover = opts.getBoolean("discover", false),
        pageTemplate = Option(opts.get("pageTemplate")),
        httpTimeoutMs = opts.getLong("httpTimeoutMs", 30000L),
        maxPageBytes = opts.getLong("maxPageBytes", 64L << 20)))
  }

  /** `Authorization: Basic|Bearer <token>` on every fetch — reference
    * parity with `dags/jira/jira_fetcher.py:9-17,19-37` (Basic for the
    * Jira API, Bearer for Tempo). The token comes from `.option("token")`
    * or, to keep secrets out of plans/configs, `.option("tokenEnv")`
    * naming an environment variable.
    */
  private def authHeader(opts: CaseInsensitiveStringMap): Option[String] =
    Option(opts.get("authType")).map { t =>
      val token = Option(opts.get("token"))
        .orElse(Option(opts.get("tokenEnv")).flatMap(e => sys.env.get(e)))
        .getOrElse(throw new IllegalArgumentException(
          "authType set but neither token nor a resolvable tokenEnv given"))
      t.toLowerCase match {
        case "basic" => s"Basic $token"
        case "bearer" => s"Bearer $token"
        case other => throw new IllegalArgumentException(
          s"unknown authType '$other' (expected basic|bearer)")
      }
    }

  private def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    // DataFrameReader.load(paths*) passes either "path" or a JSON "paths"
    val multi = Option(options.get("paths")).map { js =>
      new ObjectMapper().readTree(js).elements().asScala
        .map(_.asText()).toSeq
    }
    multi.orElse(Option(options.get("path")).map(Seq(_)))
      .getOrElse(throw new IllegalArgumentException("no path(s) given"))
  }
}

/** Per-page fetch policy: bounded retry attempts, exponential backoff, the
  * sequential-cursor flag, the optional pre-built Authorization header, and
  * the envelope-driven discovery knobs (`discover` + the issues-mode
  * `{startAt}` page template).
  */
private[graft] case class RetryConf(maxAttempts: Int, backoffMs: Long,
    cursorMode: Boolean, authHeader: Option[String] = None,
    discover: Boolean = false, pageTemplate: Option[String] = None,
    httpTimeoutMs: Long = 30000L, maxPageBytes: Long = 64L << 20) {
  require(maxAttempts >= 1, "retries must be >= 1")
  require(httpTimeoutMs > 0 && httpTimeoutMs <= Int.MaxValue, "httpTimeoutMs out of range")
  require(maxPageBytes > 0, "maxPageBytes must be positive")
}

/** Non-retryable page failure: retrying cannot change the outcome (auth
  * rejection, page over the size budget), so the scan fails immediately
  * with an actionable message instead of burning the retry budget.
  */
private[graft] class FatalPageException(msg: String) extends RuntimeException(msg)

/** Page fetch with bounded retry + exponential backoff — the engine-side
  * analog of the reference's tenacity wrapper
  * (`dags/jira/jira_base_processor.py:14-17`). Only transient I/O failures
  * retry; malformed payloads fail fast. `faultInjector` is the
  * fault-injection seam the spec uses to simulate a flaky endpoint and to
  * count attempts per path (all executors share the JVM under local[*]).
  * The fetch path itself keeps no state across calls.
  */
private[graft] object PageTransport {
  @volatile var faultInjector: (String, Int) => Unit = (_, _) => ()

  def resetForTest(): Unit = faultInjector = (_, _) => ()

  private def open(path: String, conf: RetryConf): java.io.InputStream = {
    val uri = new java.net.URI(path)
    uri.getScheme match {
      case null => new java.io.FileInputStream(path)
      case "file" => new java.io.FileInputStream(uri.getPath)
      case "http" | "https" =>
        val conn = uri.toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        // a hung or black-holed server must surface as a (retryable)
        // SocketTimeoutException, not stall the Spark task forever
        conn.setConnectTimeout(conf.httpTimeoutMs.toInt)
        conn.setReadTimeout(conf.httpTimeoutMs.toInt)
        conf.authHeader.foreach(h => conn.setRequestProperty("Authorization", h))
        val code = conn.getResponseCode
        if (code == 401 || code == 403) {
          conn.disconnect()
          // retrying the same credentials cannot succeed — fail fast
          throw new FatalPageException(s"HTTP $code (auth rejected) fetching " +
            s"$path — check the authType/token/tokenEnv options; not retrying")
        }
        if (code >= 400) {
          conn.disconnect()
          // IOException → goes through the same bounded-retry/backoff path
          // as a connection failure (the reference's tenacity wrapper
          // retries failed HTTP fetches the same way)
          throw new java.io.IOException(s"HTTP $code fetching $path")
        }
        val len = conn.getContentLengthLong
        if (len > conf.maxPageBytes) {
          conn.disconnect()
          throw new FatalPageException(s"page $path is $len bytes, over " +
            s"maxPageBytes=${conf.maxPageBytes} — raise the option or shrink " +
            "the page size server-side; not retrying")
        }
        conn.getInputStream
      case _ => uri.toURL.openStream()
    }
  }

  /** Guard against oversized pages on transports with no (trustworthy)
    * length header: counts bytes as the JSON parser consumes them and
    * fails fast — a multi-GB page would otherwise OOM the task long after
    * the size budget was blown.
    */
  private def bounded(in: java.io.InputStream, path: String,
      cap: Long): java.io.InputStream =
    new java.io.FilterInputStream(in) {
      private var seen = 0L
      private def count(k: Int): Int = {
        if (k > 0) {
          seen += k
          if (seen > cap) throw new FatalPageException(
            s"page $path exceeds maxPageBytes=$cap after $seen bytes; not retrying")
        }
        k
      }
      override def read(): Int = { val b = super.read(); if (b >= 0) count(1); b }
      override def read(buf: Array[Byte], off: Int, len: Int): Int =
        count(super.read(buf, off, len))
    }

  def fetchWithRetry(path: String, conf: RetryConf): JsonNode = {
    var attempt = 1
    var result: JsonNode = null
    while (result == null) {
      try {
        faultInjector(path, attempt)
        val stream = bounded(open(path, conf), path, conf.maxPageBytes)
        result = try new ObjectMapper().readTree(stream) finally stream.close()
      } catch {
        case e: java.io.IOException =>
          if (attempt >= conf.maxAttempts)
            throw new java.io.IOException(
              s"page fetch failed after ${conf.maxAttempts} attempts: $path", e)
          Thread.sleep(conf.backoffMs << (attempt - 1))
          attempt += 1
      }
    }
    result
  }

  def records(root: JsonNode, entity: String): Iterator[JsonNode] = entity match {
    case "issues" => Option(root.get("issues")).iterator.flatMap(_.elements().asScala)
    case "worklogs" => Option(root.get("results")).iterator.flatMap(_.elements().asScala)
    case "users" => root.elements().asScala // bare array response
  }
}

private class JiraPagesTable(schema: StructType, entity: String,
    paths: Seq[String], retry: RetryConf) extends Table with SupportsRead {
  override def name(): String = s"graft-jira-pages($entity)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new JiraPagesScanBuilder(schema, entity, paths, retry)
}

private class JiraPagesScanBuilder(fullSchema: StructType, entity: String,
    paths: Seq[String], retry: RetryConf)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new JiraPagesScan(required, entity, paths, retry)
}

private class JiraPagesScan(schema: StructType, entity: String,
    paths: Seq[String], retry: RetryConf) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    if (retry.cursorMode) Array(JiraCursorPartition(paths))
    else paths.map(p => JiraPagePartition(p): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new JiraPageReaderFactory(schema, entity, retry)
}

private case class JiraPagePartition(path: String) extends InputPartition
private case class JiraCursorPartition(paths: Seq[String]) extends InputPartition

private class JiraPageReaderFactory(schema: StructType, entity: String,
    retry: RetryConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case JiraPagePartition(p) => new JiraPageReader(schema, entity, p, retry)
      case JiraCursorPartition(ps) => new JiraCursorReader(schema, entity, ps, retry)
    }
}

/** Reads one page file: resolves the entity's record array from the page
  * envelope and converts each record against the (possibly pruned) schema.
  * Transient fetch failures retry inside the task (cheaper than a Spark
  * task retry, which would re-run scheduling, not just the fetch).
  */
private class JiraPageReader(schema: StructType, entity: String, path: String,
    retry: RetryConf) extends PartitionReader[InternalRow] {

  private val records: Iterator[JsonNode] =
    PageTransport.records(PageTransport.fetchWithRetry(path, retry), entity)

  private var current: InternalRow = _

  override def next(): Boolean =
    if (records.hasNext) { current = JsonToRow.convert(records.next(), schema); true }
    else false

  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** Sequential page walk behind a resumable cursor — the reference's access
  * pattern (`issue_processor.py:103-104` advances `startAt` only after a
  * page lands). The cursor moves past a page exactly once its fetch
  * succeeds; a transient failure retries the CURRENT page (with backoff)
  * and committed pages are never re-read. Lazily fetches: a `LIMIT`-style
  * early stop never touches the pages after the cursor.
  */
private class JiraCursorReader(schema: StructType, entity: String,
    paths: Seq[String], retry: RetryConf) extends PartitionReader[InternalRow] {

  // addresses known but not yet fetched; with `discover` the envelope
  // itself appends to this list at runtime
  private var pending: List[String] = paths.toList
  private var planned = false
  private var pageRecords: Iterator[JsonNode] = Iterator.empty
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (!pageRecords.hasNext && pending.nonEmpty) {
      val path = pending.head
      val root = PageTransport.fetchWithRetry(path, retry)
      pending = pending.tail // page committed: fetched once, never re-read
      if (retry.discover) pending = discoverNext(path, root) ::: pending
      pageRecords = PageTransport.records(root, entity)
    }
    if (pageRecords.hasNext) {
      current = JsonToRow.convert(pageRecords.next(), schema)
      true
    } else false
  }

  /** Dynamic page-chain discovery from the envelope itself — the
    * reference's runtime pagination: worklogs follow `metadata.next`
    * (`dags/jira/worklogs/worklog_processor.py:106`), issues read
    * `total` from the first page and advance `startAt` by the SERVER's
    * returned `maxResults` (`issues/issue_processor.py:141-164`), expanded
    * through the `{startAt}` page template. The `nextStart < total` bound
    * means a corpus with `total % maxResults == 0` never fetches a
    * trailing empty page (SURVEY §2a S2's boundary).
    */
  private def discoverNext(path: String,
      root: JsonNode): List[String] = entity match {
    case "worklogs" =>
      Option(root.at("/metadata/next"))
        .filter(n => n.isTextual && n.asText.nonEmpty)
        .map(n => new java.net.URI(path).resolve(n.asText).toString)
        .toList
    case "issues" if !planned =>
      planned = true
      val template = retry.pageTemplate.getOrElse(throw new IllegalArgumentException(
        "issues discovery requires .option(\"pageTemplate\", \"...{startAt}...\")"))
      val start = root.path("startAt").asLong(0L)
      val step = math.max(root.path("maxResults").asLong(1L), 1L)
      val total = root.path("total").asLong(0L)
      Iterator.iterate(start + step)(_ + step).takeWhile(_ < total)
        .map(s => template.replace("{startAt}", s.toString)).toList
    case _ => Nil
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** Schema-driven JsonNode → InternalRow conversion. Absent keys and JSON
  * nulls become SQL NULL (the reference's column-omission semantics,
  * `jira_base_processor.py:86-104`); only fields present in the pruned
  * schema are touched.
  */
private object JsonToRow {
  def convert(node: JsonNode, schema: StructType): InternalRow =
    InternalRow.fromSeq(schema.fields.toSeq.map(f =>
      value(Option(node.get(f.name)).orNull, f.dataType)))

  private def value(n: JsonNode, t: DataType): Any =
    if (n == null || n.isNull) null
    else t match {
      case StringType => UTF8String.fromString(if (n.isTextual) n.asText() else n.toString)
      case LongType => n.asLong()
      case IntegerType => n.asInt()
      case DoubleType => n.asDouble()
      case BooleanType => n.asBoolean()
      case st: StructType => convert(n, st)
      case ArrayType(et, _) =>
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          n.elements().asScala.map(e => value(e, et)).toArray)
      case other =>
        throw new IllegalArgumentException(s"unsupported type $other")
    }
}
