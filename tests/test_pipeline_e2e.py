"""Reference-shaped end-to-end test (SURVEY.md §5.2/§5.3): run the full
pipeline (generate → land → sense → load raw → archive → master → five
business tables), then assert every derived table against DuckDB running
the reference SQL over the exact same raw rows — including the
fan-out-then-COUNT(DISTINCT) interaction and the income=0 retention
branch on real zero-income rows."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import duckdb
import pytest

from datapipeline_gcp_spark.operators import business as biz
from datapipeline_gcp_spark.plans.reference_pipeline import build_reference_pipeline

from tests.conftest import assert_frames_match

RUN_DATE = "20230601"


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("pipeline")
    landing, archive = str(root / "landing"), str(root / "archive")
    for db in ("raw_layer", "master_layer", "business_layer"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    p = build_reference_pipeline(landing, archive, retries=1, retry_delay_s=0.0)
    results = p.run(spark, run_date=RUN_DATE)
    return {"results": results, "landing": landing, "archive": archive}


def _oracle_con(spark):
    """DuckDB over the pipeline's actual raw rows."""
    con = duckdb.connect()
    for t in ("campaigns", "transactions", "sales"):
        pdf = spark.table(f"raw_layer.r_{t}").drop("load_date", "src_format").toPandas()
        con.register(f"r_{t}", pdf)
    return con


def test_all_steps_succeed(pipeline_run):
    bad = {n: r.status for n, r in pipeline_run["results"].items() if r.status != "success"}
    assert not bad, f"non-success steps: {bad}"


def test_raw_tables_loaded(spark, pipeline_run):
    # CSV + TXT generator batches both land in the same raw table.
    assert spark.table("raw_layer.r_campaigns").count() == 1500
    assert spark.table("raw_layer.r_transactions").count() == 1500
    assert spark.table("raw_layer.r_sales").count() > 750


def test_landing_files_archived(pipeline_run):
    assert not glob.glob(f"{pipeline_run['landing']}/*/*_{RUN_DATE}_*")
    archived = os.listdir(pipeline_run["archive"])
    assert len(archived) == 5  # 2×csv + 2×txt + sales snapshot


def test_master_matches_oracle(spark, pipeline_run):
    con = _oracle_con(spark)
    oracle = con.execute(biz.REFERENCE_MASTER_SQL).df()
    got = spark.table("master_layer.m_data_model").drop("dt").toPandas()
    assert len(got) > 0, "master join produced no rows — slot alignment broken"
    assert_frames_match(got, oracle, "m_data_model")


@pytest.mark.parametrize("name", sorted(biz.BUILDERS))
def test_business_table_matches_oracle(spark, pipeline_run, name):
    con = _oracle_con(spark)
    oracle = con.execute(biz.oracle_for(name, biz.REFERENCE_MASTER_SQL)).df()
    got = spark.table(f"business_layer.{name}").toPandas()
    assert len(got) > 0
    assert_frames_match(got, oracle, name)


def test_retention_branches_nonempty(spark, pipeline_run):
    """The generators must emit real zero-income rows so the reference's
    income=0 CASE branch is exercised (FIXTURES.md §1)."""
    pdf = spark.table("business_layer.b_customer_retention").toPandas()
    assert pdf["paying_customers"].sum() > 0
    assert pdf["non_paying_customers"].sum() > 0


def test_append_rerun_doubles_rows(spark, pipeline_run):
    """Reference semantics: WRITE_APPEND reruns double rows (SURVEY §5.3).
    Rerunning just the master step demonstrates it."""
    before = spark.table("master_layer.m_data_model").count()
    from datapipeline_gcp_spark import sinks
    from datapipeline_gcp_spark.operators.master import master_join
    from pyspark.sql import functions as F

    raw = {
        t: spark.table(f"raw_layer.r_{t}").drop("load_date", "src_format")
        for t in ("campaigns", "transactions", "sales")
    }
    m = master_join(raw["campaigns"], raw["transactions"], raw["sales"]).withColumn(
        "dt", F.to_date("transaction_datetime")
    )
    sinks.append_table(m, "master_layer.m_data_model", partition_by=["dt"])
    assert spark.table("master_layer.m_data_model").count() == 2 * before
    # idempotent mode: dynamic partition overwrite restores the count
    sinks.overwrite_partitions(m, "master_layer.m_data_model", ["dt"])
    assert spark.table("master_layer.m_data_model").count() == before


_SMOKE_DAG = """
import sys
from datapipeline_gcp_spark.plans.reference_pipeline import build_reference_pipeline
from datapipeline_gcp_spark.session import get_session

root = sys.argv[1]
spark = get_session(
    master="local[2]",
    warehouse_dir=f"{root}/warehouse",
    extra_conf={
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={root}",
    },
)
p = build_reference_pipeline(
    f"{root}/landing", f"{root}/archive",
    sizes={"campaigns": 100, "transactions": 100, "slots": 50},
)
results = p.run(spark, run_date="20230601")
bad = {n: (r.status, r.error) for n, r in results.items() if r.status != "success"}
assert not bad, bad
spark.stop()
"""


def test_smoke_dag_logs_no_landing_glob_trace(tmp_path):
    """Quiet happy path: a clean DAG run's landing loads log no WARN
    stack trace. A glob path made Spark look for a streaming-sink
    metadata directory under it and log ``WARN FileStreamSink`` with a
    ``java.io.FileNotFoundException`` trace on each of the six loads;
    the loads pass the matched file list instead. Own process, so the
    JVM's stderr is this DAG run's alone."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _SMOKE_DAG, str(tmp_path)],
        capture_output=True,
        text=True,
        cwd=repo,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    noisy = [
        line for line in proc.stderr.splitlines()
        if "FileStreamSink" in line or "FileNotFoundException" in line
    ]
    assert not noisy, noisy[:5]
