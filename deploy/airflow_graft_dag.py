# Example orchestration DAG (documentation artifact — not executed by the
# engine or its tests): the reference's three daily pipelines
# (create-table >> fetch, dags/fetch_jira_issues.py in the reference repo)
# re-expressed as Airflow orchestrating Spark jobs, per the north-star
# architecture ("Airflow orchestrates Spark jobs for ETL").
#
# Each task spark-submits a main from this repo's assembly; the engine owns
# all data semantics (scan -> flatten -> upsert), Airflow owns scheduling,
# retries and task dependencies — the reference's C1/C2 concerns.
from datetime import datetime, timedelta

from airflow import DAG
from airflow.providers.apache.spark.operators.spark_submit import (
    SparkSubmitOperator,
)

default_args = {
    # reference parity: 1 retry, 5 min delay (dags/fetch_jira_issues.py:21-22)
    "retries": 1,
    "retry_delay": timedelta(minutes=5),
}

with DAG(
    dag_id="graft_jira_etl",
    schedule="@daily",  # reference parity: @daily freshness bound
    start_date=datetime(2025, 1, 1),
    catchup=False,
    default_args=default_args,
) as dag:

    def submit(task_id: str, main: str, *args: str) -> SparkSubmitOperator:
        return SparkSubmitOperator(
            task_id=task_id,
            application="target/scala-2.13/airflowjiraetlspark.jar",
            java_class=main,
            application_args=list(args),
            conn_id="spark_default",
            conf={
                "spark.sql.session.timeZone": "UTC",
                "spark.sql.extensions": "graft.plans.GraftExtensions",
            },
        )

    # Daily ingest: IngestJob <entity> <pagesGlob> <tableDir> upserts the
    # run date's landed pages ({{ ds }}, templated by Airflow) by key into
    # the entity's parquet table, so re-running a day is idempotent. One
    # job per entity, independent like the reference's DAGs.
    def ingest(entity: str) -> SparkSubmitOperator:
        return submit(f"ingest_{entity}", "graft.etl.IngestJob", entity,
                      f"/data/pages/{entity}/{{{{ ds }}}}/*.json",
                      f"/data/tables/{entity}")

    ingest_issues = ingest("issues")
    ingest_users = ingest("users")
    ingest_worklogs = ingest("worklogs")

    # Downstream analytics refresh depends on all three tables.
    refresh = submit("refresh_marts", "graft.Verify",
                     "/data/tables", "/data/marts")

    [ingest_issues, ingest_users, ingest_worklogs] >> refresh
