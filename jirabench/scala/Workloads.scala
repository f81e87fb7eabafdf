package jirabench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{array, col, struct}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.etl.{IngestJob, JiraEtl}
import graft.operators.Upsert
import graft.sources.TableSink

import Main.{Op, Round}

/** Per-round layer totals; keys are the per-layer metric names. */
private final class Layers {
  private val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = m(k) += v
  def apply(k: String): Double = m(k)
  def result: Map[String, Double] = m.toMap
}

private object Common {
  val entities = Seq("issues", "worklogs", "users")
  val keys = Map("issues" -> "issue_id", "worklogs" -> "tempo_worklog_id",
    "users" -> "account_id")

  /** Land every column of `df` and throw the rows away. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Exec, Catalyst and parquet-write totals of one bucket, plus CPU
    * utilisation over `wallSeconds`.
    */
  def exec(tracer: Tracer, bucket: String, cores: Int, wallSeconds: Double,
      into: Layers): Unit = {
    val t = tracer.totals(bucket)
    Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.task_cpu_s", "exec.gc_ms",
      "exec.shuffle_write_bytes").foreach(k => into.add(k, t.getOrElse(k, 0.0)))
    into.add("exec.action_s", wallSeconds)
    into.add("exec.cpu_util",
      if (wallSeconds > 0) t.getOrElse("exec.task_cpu_s", 0.0) / (cores * wallSeconds) else 0.0)
    t.foreach { case (k, v) =>
      if (k.startsWith("catalyst.") || k == "sources.parquet_write_s") into.add(k, v) }
  }
}

/** A fixed list of registered queries; one operation is one query's
  * build (`fn(spark, dir)`) plus its action (`collect`).
  */
final class QueryWorkload(spark: SparkSession, tracer: Tracer, spec: JsonNode)
    extends Main.Workload {
  private val sc = spark.sparkContext
  private val work = spec.get("work").asText
  private val data = spec.at("/queries/data").asText
  private val fns = SparkEntry.queries
  /** Registered names from their `qNN` prefixes. */
  private def resolve(n: JsonNode): Seq[String] = Main.strings(n).map(p =>
    fns.keys.find(_.startsWith(p + "_")).getOrElse(
      throw new IllegalArgumentException(s"no registered query $p")))
  private val names = resolve(spec.at("/queries/names"))
  private val firstRows = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]

  /** Also pays every SessionMemo artifact the queries read. */
  def warmUp(i: Int): Unit = names.foreach(n => fns(n)(spark, data).collect())

  def round(i: Int): Round = {
    val layers = new Layers
    var actionSeconds = 0.0
    val (ops, wall) = Main.time(names.map { n =>
      tracer.newOp()
      val before = sc.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      tracer.switchTo("build")
      val df = tracer.span("queries.build")(fns(n)(spark, data))
      val t1 = System.nanoTime()
      val cuts = sc.getPersistentRDDs.keySet -- before
      tracer.switchTo("action")
      val rows = tracer.span("exec.action")(df.collect())
      tracer.switchTo("none")
      val t2 = System.nanoTime()
      if (tracer.enabled) {
        layers.add("queries.build_s", (t1 - t0) / 1e9)
        layers.add("operators.cuts", cuts.size)
        layers.add("operators.cuts_left", (sc.getPersistentRDDs.keySet -- before).size)
        actionSeconds += (t2 - t1) / 1e9
      }
      if (i == 0) firstRows(n) = (rows, df.schema)
      val fp = scala.util.hashing.MurmurHash3.unorderedHash(rows.toSeq.map(_.toString))
      Op(n, (t2 - t0) / 1e9, s"${rows.length}:$fp")
    })
    if (tracer.enabled) {
      layers.add("queries.build_jobs", tracer.totals("build").getOrElse("exec.jobs", 0.0))
      Common.exec(tracer, "action", sc.defaultParallelism, actionSeconds, layers)
    }
    Round(wall, ops, layers.result)
  }

  /** First-round results as parquet, and each query's oracle SQL. */
  def finish(out: ObjectNode): Unit = {
    val oracle = SparkEntry.oracleSql
    val q = out.putObject("queries")
    firstRows.foreach { case (n, (rows, schema)) =>
      val dir = s"$work/results/$n"
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(dir)
      q.putObject(n).put("dir", dir).put("oracle", oracle.getOrElse(n, null))
    }
  }
}

/** The lake ingest: day 1 backfills each entity's parquet table through
  * `IngestJob.runWithMetrics`, every later day upserts a delta into it.
  * One operation is one `IngestJob` call; a round starts from no tables.
  */
final class LakeWorkload(spark: SparkSession, tracer: Tracer, spec: JsonNode)
    extends Main.Workload {
  private val work = spec.get("work").asText
  private val cores = spark.sparkContext.defaultParallelism
  private def dayPaths(n: JsonNode): Map[String, Seq[String]] =
    Common.entities.map(e => e -> Main.strings(n.get(e))).toMap
  private val days = spec.at("/ingest/days").elements().asScala.map(dayPaths).toSeq
  private val arriving = spec.at("/ingest/arriving").elements().asScala
    .map(n => Common.entities.map(e => e -> n.get(e).asDouble).toMap).toSeq
  private val tables = mutable.ArrayBuffer.empty[String]

  private def rawRead(e: String, paths: Seq[String]): DataFrame = {
    val schema = e match {
      case "issues" => JiraEtl.issuePageSchema
      case "worklogs" => JiraEtl.worklogPageSchema
      case "users" => JiraEtl.userSchema
    }
    spark.read.schema(schema).option("multiLine", "true").json(paths: _*)
  }

  private def read(e: String, paths: Seq[String]): DataFrame = e match {
    case "issues" => JiraEtl.readIssues(spark, paths: _*)
    case "worklogs" => JiraEtl.readWorklogs(spark, paths: _*)
    case "users" => JiraEtl.readUsers(spark, paths: _*)
  }

  private def ingest(root: String, layers: Layers): Seq[Op] =
    for ((day, d) <- days.zipWithIndex; e <- Common.entities) yield {
      val paths = day(e)
      val table = s"$root/$e"
      tracer.newOp()
      if (tracer.enabled) {
        tracer.switchTo("extra")
        val (_, r) = Main.time(tracer.span("etl.read")(Common.noop(rawRead(e, paths))))
        val (_, rf) = Main.time(tracer.span("etl.read_flatten")(Common.noop(read(e, paths))))
        layers.add("etl.read_s", r)
        layers.add("etl.flatten_s", math.max(0.0, rf - r))
        if (Files.exists(Paths.get(table))) {
          val (_, u) = Main.time(tracer.span("operators.upsert")(Common.noop(
            Upsert(spark.read.parquet(table), read(e, paths), Seq(Common.keys(e))))))
          layers.add("operators.upsert_s", u)
        }
        tracer.switchTo("action")
      }
      val ((_, m), s) = Main.time(tracer.span("etl.ingest_job")(
        IngestJob.runWithMetrics(spark, e, paths, table)))
      tracer.switchTo("none")
      val rows = m("rows")
      if (d > 0) {
        layers.add("written", rows.toDouble)
        layers.add("arriving", arriving(d)(e))
      }
      Op(s"$e/day${d + 1}", s, rows.toString)
    }

  def warmUp(i: Int): Unit = ingest(s"$work/lake/warm$i", new Layers)

  def round(i: Int): Round = {
    val layers = new Layers
    val root = s"$work/lake/r$i"
    val (ops, wall) = Main.time(ingest(root, layers))
    Common.entities.foreach(e => tables += s"$root/$e")
    val out = new Layers
    if (tracer.enabled) {
      Common.exec(tracer, "action", cores, ops.map(_.seconds).sum, out)
      Seq("etl.read_s", "etl.flatten_s", "operators.upsert_s")
        .foreach(k => out.add(k, layers(k)))
      out.add("etl.write_amplification", layers("written") / layers("arriving"))
    }
    Round(wall, ops, out.result)
  }

  def finish(out: ObjectNode): Unit = {
    val t = out.putArray("tables")
    tables.foreach(t.add)
  }
}

/** The reference's own program: each entity is pulled from the loopback
  * API through the `graft-jira-pages` source from its seed address only,
  * mapped with the JiraEtl mappings and upserted in place into Derby
  * tables created with hand-written DDL. One operation is one entity's
  * pull plus its upsert; a round starts from empty tables.
  */
final class ApiWorkload(spark: SparkSession, tracer: Tracer, spec: JsonNode)
    extends Main.Workload {
  private val work = spec.get("work").asText
  private val cores = spark.sparkContext.defaultParallelism
  private val api = spec.get("api")
  private val pages: Map[String, Array[Byte]] = api.get("pages").fields().asScala
    .map(f => f.getKey -> Files.readAllBytes(Paths.get(f.getValue.asText))).toMap
  private val days = api.get("days").elements().asScala.map(n =>
    Common.entities.map(e => e -> n.get(e).asText).toMap).toSeq
  private val templates = Main.strings(api.get("templates"))
  private val arriving = api.get("arriving").elements().asScala
    .map(n => Common.entities.map(e => e -> n.get(e).asDouble).toMap).toSeq
  private val server = new ApiServer(pages, Main.strings(api.get("throttled")).toSet,
    threads = cores)
  private val url = "jdbc:derby:memory:jirabench;create=true"
  private val props = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }
  /** (pull id, entity, day index, role) of every pull made. */
  private val pulls = mutable.ArrayBuffer.empty[(String, String, Int, String)]
  private val dumps = mutable.ArrayBuffer.empty[String]

  private def source(e: String, d: Int, role: String): DataFrame = {
    val pull = s"p${pulls.size}"
    pulls += ((pull, e, d, role))
    val r = spark.read.format("graft-jira-pages").option("entity", e)
      .option("mode", "cursor").option("discover", "true")
      .option("retries", "4").option("retryBackoffMs", "20")
    (if (e == "issues") r.option("pageTemplate", s"${server.base}/$pull${templates(d)}")
     else r).load(s"${server.base}/$pull${days(d)(e)}")
  }

  /** The source yields raw records; wrap each as a one-record page so the
    * JiraEtl page mappings (and their sink-side casts) apply unchanged.
    */
  private def mapped(e: String, raw: DataFrame): DataFrame = {
    def one(name: String) = raw.select(array(struct(raw.columns.map(col): _*)).as(name))
    e match {
      case "issues" => JiraEtl.issuesFromPages(one("issues"))
      case "worklogs" => JiraEtl.worklogsFromPages(one("results"))
      case "users" => JiraEtl.usersFromRows(raw)
    }
  }

  private def table(e: String) = s"jira_$e"

  /** Hand-written unquoted DDL, the reference's way, from the mapped schema. */
  private lazy val ddl: Map[String, String] = Common.entities.map { e =>
    val schema = e match {
      case "issues" => JiraEtl.issueSchema
      case "worklogs" => JiraEtl.worklogSchema
      case "users" => JiraEtl.userSchema
    }
    val empty = spark.createDataFrame(java.util.List.of[Row](), schema)
    val cols = mapped(e, empty).schema.fields.map { f =>
      val t = f.dataType match {
        case LongType => "BIGINT"
        case BooleanType => "BOOLEAN"
        case DateType => "DATE"
        case TimestampType => "TIMESTAMP"
        case _ => "VARCHAR(1024)"
      }
      val notNull = if (f.name == Common.keys(e)) " NOT NULL" else ""
      s"${f.name} $t$notNull"
    }
    e -> s"CREATE TABLE ${table(e)} (${cols.mkString(", ")}, PRIMARY KEY (${Common.keys(e)}))"
  }.toMap

  private def recreateTables(): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try Common.entities.foreach { e =>
      val st = conn.createStatement()
      try {
        try st.execute(s"DROP TABLE ${table(e)}")
        catch { case _: java.sql.SQLException => }
        st.execute(ddl(e))
      } finally st.close()
    } finally conn.close()
  }

  private def sync(layers: Layers): Seq[Op] = {
    recreateTables()
    for (d <- days.indices; e <- Common.entities) yield {
      tracer.newOp()
      if (tracer.enabled) {
        tracer.switchTo("extra")
        val (_, sc) = Main.time(tracer.span("sources.jira.scan")(Common.noop(source(e, d, "scan"))))
        val (_, sf) = Main.time(tracer.span("etl.pull_flatten")(
          Common.noop(mapped(e, source(e, d, "flatten")))))
        layers.add("sources.jira.scan_s", sc)
        layers.add("etl.flatten_s", math.max(0.0, sf - sc))
        tracer.switchTo("action")
      }
      val key = Common.keys(e)
      val (_, s) = Main.time {
        if (!tracer.enabled)
          TableSink.upsertJdbc(mapped(e, source(e, d, "main")).coalesce(1), url, table(e),
            props, key)
        else {
          val staged = tracer.span("etl.pull")(
            mapped(e, source(e, d, "main")).localCheckpoint(true))
          val (_, j) = Main.time(tracer.span("sources.jdbc_upsert")(
            TableSink.upsertJdbc(staged.coalesce(1), url, table(e), props, key)))
          layers.add("sources.jdbc_upsert_s", j)
          val rows = staged.count().toDouble
          layers.add("sources.jdbc_rows", rows)
          if (d > 0) {
            layers.add("written", rows)
            layers.add("arriving", arriving(d)(e))
          }
        }
      }
      tracer.switchTo("none")
      Op(s"$e/day${d + 1}", s, "")
    }
  }

  def warmUp(i: Int): Unit = sync(new Layers)

  /** One JSON object per table row, read over plain JDBC: column names in
    * lower case, timestamps as epoch microseconds, dates as ISO text.
    */
  private def dump(e: String, path: String): String = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT * FROM ${table(e)}")
      val md = rs.getMetaData
      val names = (1 to md.getColumnCount).map(c => md.getColumnName(c).toLowerCase)
      Files.createDirectories(Paths.get(path).getParent)
      val w = Files.newBufferedWriter(Paths.get(path))
      try while (rs.next()) {
        val o = Main.mapper.createObjectNode()
        names.zipWithIndex.foreach { case (n, c) =>
          rs.getObject(c + 1) match {
            case null => o.putNull(n)
            case t: java.sql.Timestamp =>
              o.put(n, t.toInstant.getEpochSecond * 1000000L + t.getNanos / 1000)
            case d: java.sql.Date => o.put(n, d.toString)
            case b: java.lang.Boolean => o.put(n, b.booleanValue)
            case l: java.lang.Long => o.put(n, l.longValue)
            case v => o.put(n, v.toString)
          }
        }
        w.write(Main.mapper.writeValueAsString(o))
        w.newLine()
      } finally w.close()
    } finally conn.close()
    path
  }

  def round(i: Int): Round = {
    val layers = new Layers
    val first = pulls.size
    val (ops, wall) = Main.time(sync(layers))
    val out = new Layers
    if (tracer.enabled) {
      Common.exec(tracer, "action", cores, ops.map(_.seconds).sum, out)
      Seq("sources.jira.scan_s", "etl.flatten_s", "sources.jdbc_upsert_s",
        "sources.jdbc_rows").foreach(k => out.add(k, layers(k)))
      val main = pulls.drop(first).filter(_._4 == "main").map(_._1).toSet
      def sum(m: java.util.concurrent.ConcurrentHashMap[(String, String),
          java.util.concurrent.atomic.AtomicLong]): (Double, Double) = {
        val hits = m.asScala.filter { case ((p, _), _) => main(p) }
        (hits.size.toDouble, hits.values.map(_.get.toDouble).sum)
      }
      val (okPages, okReqs) = sum(server.ok)
      val (_, refused) = sum(server.refused)
      out.add("sources.jira.pages", okPages)
      out.add("sources.jira.records", layers("sources.jdbc_rows"))
      out.add("sources.jira.bytes", server.ok.asScala.collect {
        case ((p, page), n) if main(p) => pages(page).length.toDouble * n.get }.sum)
      out.add("sources.jira.retries", okReqs + refused - okPages)
      out.add("server.requests", okReqs + refused)
      out.add("server.injected_429", refused)
      out.add("etl.write_amplification", layers("written") / layers("arriving"))
    }
    Common.entities.foreach(e => dumps += dump(e, s"$work/api/r$i/$e.jsonl"))
    Round(wall, ops, out.result)
  }

  override def close(): Unit = server.stop()

  def finish(out: ObjectNode): Unit = {
    val t = out.putArray("tables")
    dumps.foreach(t.add)
    val ps = out.putArray("pulls")
    pulls.foreach { case (p, e, d, role) =>
      val o = ps.addObject().put("pull", p).put("entity", e).put("day", d).put("role", role)
      val ok = o.putObject("ok")
      val refused = o.putObject("refused")
      server.ok.asScala.foreach { case ((q, page), n) => if (q == p) ok.put(page, n.get) }
      server.refused.asScala.foreach { case ((q, page), n) => if (q == p) refused.put(page, n.get) }
    }
    out.put("unknown_requests", server.unknown.get)
    try java.sql.DriverManager.getConnection("jdbc:derby:memory:jirabench;drop=true")
    catch { case _: java.sql.SQLException => } // Derby reports a drop as an exception
  }
}
