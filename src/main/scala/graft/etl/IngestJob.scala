package graft.etl

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Upsert
import graft.sources.Observability

/** End-to-end ingest job — the engine's equivalent of the reference's
  * per-DAG `main()` (`dags/fetch_jira_issues.py:40-67`): scan all response
  * pages, flatten per the entity MAPPING, and keyed-upsert into the
  * at-rest table. One Spark job replaces the fetch-loop + per-record
  * INSERT; the upsert makes a daily re-run idempotent (U1 semantics).
  *
  * Each batch runs one action, its write, and nothing else:
  *  - the table is found through the Hadoop `FileSystem` of `tableDir`'s
  *    own URI, so plain paths and `file:`/`hdfs:`/`s3a:` URIs all upsert;
  *  - the existing table is read with the entity's mapped schema (this job
  *    is the table's only writer), so no footer job infers it, and a mapped
  *    column missing from the files reads as NULL — the reference's
  *    "column omission → NULL" rule;
  *  - the merged frame is written to a sibling staging directory
  *    `.<table>.staging-<uuid>` and swapped in by rename. The old table is
  *    never the write's own output, so nothing is cached or counted first,
  *    and it stays whole until the new one is complete: a failed write
  *    leaves the previous table as it was.
  *
  * `spark-submit --class graft.etl.IngestJob app.jar <entity> <pagesGlob> <tableDir>`
  * — see deploy/airflow_graft_dag.py for the orchestration side.
  */
object IngestJob {

  private val keys = Map(
    "issues" -> "issue_id",          // fetch_jira_issues.py:72 UNIQUE
    "users" -> "account_id",         // fetch_jira_users.py:75 UNIQUE
    "worklogs" -> "tempo_worklog_id" // fetch_jira_tempo_worklogs.py:81 UNIQUE
  )

  /** Testable core: returns the merged table state after this batch. */
  def run(spark: SparkSession, entity: String, pagePaths: Seq[String],
      tableDir: String): DataFrame =
    runWithMetrics(spark, entity, pagePaths, tableDir)._1

  /** [[run]] plus single-pass ingest metrics (`rows`, `null_keys`): the
    * counters ride the write itself through `Observability`, so they cost
    * no second scan. (The reference has no ingest metrics at all;
    * per-record INSERT made them free to hand-count,
    * `dags/jira/db_ops.py:32-42`.)
    */
  def runWithMetrics(spark: SparkSession, entity: String,
      pagePaths: Seq[String], tableDir: String): (DataFrame, Map[String, Long]) = {
    val key = keys.getOrElse(entity,
      throw new IllegalArgumentException(s"unknown entity '$entity'"))
    val incoming = entity match {
      case "issues" => JiraEtl.readIssues(spark, pagePaths: _*)
      case "users" => JiraEtl.readUsers(spark, pagePaths: _*)
      case "worklogs" => JiraEtl.readWorklogs(spark, pagePaths: _*)
    }
    val raw = new Path(tableDir)
    val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val table = fs.makeQualified(raw)
    val exists = fs.exists(table)
    val merged =
      if (exists)
        Upsert(spark.read.schema(incoming.schema).parquet(table.toString),
          incoming, Seq(key))
      else incoming
    val (observed, fetch) =
      Observability.withQualityCounters(merged, nullCols = Seq(key))
    val staging = sibling(table, "staging")
    try {
      observed.write.parquet(staging.toString)
      if (exists) swapIn(fs, staging, table) else rename(fs, staging, table)
    } finally fs.delete(staging, true)
    val counts = fetch()
    (spark.read.schema(merged.schema).parquet(table.toString),
      Map("rows" -> counts("rows"), "null_keys" -> counts(s"null_$key")))
  }

  private def sibling(table: Path, kind: String): Path =
    new Path(table.getParent, s".${table.getName}.$kind-${UUID.randomUUID()}")

  /** Replace `table` with `staging` by rename: table → backup, staging →
    * table, drop the backup. If the second rename fails the backup is put
    * back, so the table is always either the old or the new state.
    */
  private def swapIn(fs: FileSystem, staging: Path, table: Path): Unit = {
    val backup = sibling(table, "backup")
    rename(fs, table, backup)
    try rename(fs, staging, table)
    catch { case e: Throwable => rename(fs, backup, table); throw e }
    fs.delete(backup, true)
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"could not rename $from to $to")

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: IngestJob <entity> <pagesGlob> <tableDir>")
    val Array(entity, pagesGlob, tableDir) = args
    val spark = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val n = run(spark, entity, Seq(pagesGlob), tableDir).count()
    println(s"[ingest] $entity: table now has $n rows")
    spark.stop()
  }
}
