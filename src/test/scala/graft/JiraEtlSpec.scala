package graft

import org.apache.spark.sql.functions._

import graft.etl.JiraEtl
import graft.operators.Upsert

/** End-to-end reference parity on the fixture corpus (FIXTURES.md shapes):
  * all pages in one scan, exact output columns per the three DDLs, the
  * quirky column names, and the ingest→upsert lifecycle.
  */
class JiraEtlSpec extends SparkSpec {

  test("issues: two pages scan to 3 rows with the DDL's exact column names") {
    val df = JiraEtl.readIssues(spark,
      fixture("issues_page_1.json"), fixture("issues_page_2.json"))
    assert(df.count() === 3)
    // spot the reference's quirky raw-prefix names (fetch_jira_issues.py:69-116)
    val cols = df.columns.toSet
    assert(cols.contains("fields_status_statusCategory_url"))
    assert(cols.contains("fields_assignee_account_id"))
    assert(cols.contains("fields_resolution_name"))
    assert(cols.contains("issue_id"))
  }

  test("issues: null resolution/assignee propagate NULL; labels '//'-join; unmapped keys dropped") {
    val df = JiraEtl.readIssues(spark, fixture("issues_page_1.json"))
    val r1 = df.filter(col("issue_id") === "10001").head
    assert(r1.getAs[String]("fields_labels") === "backend//urgent")
    assert(r1.getAs[String]("fields_resolution_name") === "Done")
    val r2 = df.filter(col("issue_id") === "10002").head
    assert(r2.isNullAt(r2.fieldIndex("fields_resolution_name")))
    assert(r2.isNullAt(r2.fieldIndex("fields_assignee_account_id")))
    assert(r2.getAs[String]("fields_labels") === "")
    assert(!df.columns.contains("unmappedTop"))
    assert(!df.columns.exists(_.startsWith("fields_unmappedNested")))
  }

  test("users: bare-array scan, only 48x48 avatar kept") {
    val df = JiraEtl.readUsers(spark, fixture("users_1.json"))
    assert(df.count() === 2)
    assert(df.columns.toSeq === Seq(
      "url", "account_id", "account_type", "avatarUrls_avatar_url",
      "display_name", "active"))
    assert(df.filter(col("account_id") === "acc-1").head
      .getAs[String]("avatarUrls_avatar_url").endsWith("/48"))
  }

  test("worklogs: cursor pages collapse to one scan; date/time types per DDL") {
    val df = JiraEtl.readWorklogs(spark,
      fixture("worklogs_page_1.json"), fixture("worklogs_page_2.json"))
    assert(df.count() === 3)
    assert(df.schema("start_date").dataType.typeName === "date")
    assert(df.schema("start_time").dataType.typeName === "string") // SQL TIME → HH:mm:ss
    assert(df.schema("created_at").dataType.typeName === "timestamp")
    assert(df.columns.contains("author_id") && df.columns.contains("issue_id"))
  }

  test("config preconditions mirror the reference's env asserts (C3)") {
    import graft.etl.EtlConfig
    val ok = EtlConfig.fromEnv(Map("JIRA_DOMAIN" -> "x.example.net"))
    assert(ok.issuesTable === "jira_issues" && ok.pageLimit === 100)
    intercept[IllegalArgumentException] { EtlConfig.fromEnv(Map.empty) }
    intercept[IllegalArgumentException] {
      EtlConfig.fromEnv(Map("JIRA_DOMAIN" -> "x", "JIRA_PAGE_LIMIT" -> "0"))
    }
  }

  test("ingest lifecycle: re-fetching a page upserts instead of duplicating (daily re-run)") {
    val day1 = JiraEtl.readIssues(spark, fixture("issues_page_1.json"))
    val day2 = JiraEtl.readIssues(spark,
      fixture("issues_page_1.json"), fixture("issues_page_2.json"))
    val state = Upsert(day1, day2, Seq("issue_id"))
    assert(state.count() === 3)
    assert(state.select("issue_id").distinct().count() === 3)
  }

  test("IngestJob end-to-end: two daily runs converge to 3-row table state") {
    import graft.etl.IngestJob
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString + "/issues"
    val day1 = IngestJob.run(spark, "issues", Seq(fixture("issues_page_1.json")), dir)
    assert(day1.count() === 2)
    val day2 = IngestJob.run(spark, "issues",
      Seq(fixture("issues_page_1.json"), fixture("issues_page_2.json")), dir)
    assert(day2.count() === 3)
    assert(day2.select("issue_id").distinct().count() === 3)
  }

  test("IngestJob observe metrics ride the materializing pass") {
    import graft.etl.IngestJob
    val dir = java.nio.file.Files.createTempDirectory("graft_obs").toString + "/issues"
    val (table, metrics) = IngestJob.runWithMetrics(
      spark, "issues", Seq(fixture("issues_page_1.json")), dir)
    assert(metrics("rows") === table.count())
    assert(metrics("null_keys") === 0L)
  }

  test("IngestJob observe metrics count the merged table and its null keys") {
    import graft.etl.IngestJob
    val root = java.nio.file.Files.createTempDirectory("graft_obs2")
    val dir = root.resolve("issues").toString
    IngestJob.run(spark, "issues", Seq(fixture("issues_page_1.json")), dir)
    val keyless = root.resolve("keyless.json")
    java.nio.file.Files.writeString(keyless,
      """{"startAt": 0, "maxResults": 1, "total": 1,
        | "issues": [{"key": "PROJ-9", "fields": {"summary": "no id"}}]}""".stripMargin)
    val (table, metrics) = IngestJob.runWithMetrics(spark, "issues",
      Seq(fixture("issues_page_2.json"), keyless.toString), dir)
    assert(table.count() === 4)
    assert(metrics === Map("rows" -> 4L, "null_keys" -> 1L))
  }

  test("IngestJob upserts into a file:// URI table dir like a plain path") {
    import graft.etl.IngestJob
    val dir = java.nio.file.Files.createTempDirectory("graft_uri")
      .resolve("issues").toUri.toString
    assert(dir.startsWith("file:"))
    assert(IngestJob.run(spark, "issues",
      Seq(fixture("issues_page_1.json")), dir).count() === 2)
    // page 2 alone: an overwrite would leave its 1 row, the upsert keeps 3
    assert(IngestJob.run(spark, "issues",
      Seq(fixture("issues_page_2.json")), dir).count() === 3)
    val day3 = IngestJob.run(spark, "issues",
      Seq(fixture("issues_page_1.json"), fixture("issues_page_2.json")), dir)
    assert(day3.count() === 3)
    assert(day3.select("issue_id").distinct().count() === 3)
  }

  test("IngestJob swap leaves no staging or backup sibling behind") {
    import graft.etl.IngestJob
    val root = java.nio.file.Files.createTempDirectory("graft_swap")
    val dir = root.resolve("issues").toString
    IngestJob.run(spark, "issues", Seq(fixture("issues_page_1.json")), dir)
    IngestJob.run(spark, "issues",
      Seq(fixture("issues_page_1.json"), fixture("issues_page_2.json")), dir)
    assert(new java.io.File(root.toString).list().toSeq === Seq("issues"))
  }

  test("IngestJob write failure removes staging and keeps the previous table") {
    import graft.etl.IngestJob
    val root = java.nio.file.Files.createTempDirectory("graft_swap_fail")
    val dir = root.resolve("worklogs").toString
    val before = IngestJob.run(spark, "worklogs",
      Seq(fixture("worklogs_page_1.json")), dir)
    val rowsBefore = before.orderBy("tempo_worklog_id").collect().toSeq
    val schemaBefore = before.schema
    // start_date is cast to DATE on the executors; under ANSI a value
    // that is not a date fails the write's task, not its planning
    val bad = root.resolve("bad_date.json")
    java.nio.file.Files.writeString(bad,
      """{"results": [{"tempoWorklogId": 7, "startDate": "not-a-date"}],
        | "metadata": {}}""".stripMargin)
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try intercept[Exception] {
      IngestJob.run(spark, "worklogs", Seq(bad.toString), dir)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert(new java.io.File(root.toString).list().sorted.toSeq ===
      Seq("bad_date.json", "worklogs"))
    val after = spark.read.parquet(dir)
    assert(after.schema === schemaBefore)
    assert(after.orderBy("tempo_worklog_id").collect().toSeq === rowsBefore)
  }

  test("malformed page rows are quarantined, not fatal (PERMISSIVE corrupt column)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bad")
    val f = dir.resolve("bad.json")
    java.nio.file.Files.writeString(f,
      """{"id": 1, "name": "ok"}
        |{"id": oops not json
        |{"id": 3, "name": "also ok"}
        |""".stripMargin)
    val schema = "id LONG, name STRING, _corrupt_record STRING"
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(f.toString).cache()
    try {
      assert(df.count() === 3)
      assert(df.filter(org.apache.spark.sql.functions.col("_corrupt_record").isNotNull).count() === 1)
      val dropped = spark.read.schema("id LONG, name STRING")
        .option("mode", "DROPMALFORMED").json(f.toString)
      assert(dropped.count() === 2)
    } finally df.unpersist()
  }
}
