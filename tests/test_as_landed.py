"""As-landed (all-STRING) fidelity mode (SURVEY.md §1.3 semantics trap,
§5.3 golden edge case): numeric columns land as strings exactly as the
reference's BigQuery loads declare them, SUBSTR slices the raw string
timestamp, and the CTE report's explicit CASTs do real STRING→numeric
work — verified against DuckDB over the identical string tables, plus an
idempotent (overwrite_run) full-pipeline rerun."""

from __future__ import annotations

import duckdb

from datapipeline_gcp_spark import schemas
from datapipeline_gcp_spark.operators import report
from datapipeline_gcp_spark.plans.reference_pipeline import build_reference_pipeline
from datapipeline_gcp_spark.sources import generators as gen
from datapipeline_gcp_spark.sources import readers

from tests.conftest import assert_frames_match


def test_as_landed_schema_is_all_string():
    landed = schemas.AS_LANDED["r_campaigns"]
    assert [f.dataType.simpleString() for f in landed.fields] == [
        "string", "string", "string", "string"
    ]
    # quantity keeps INTEGER (the reference types it, datapipeline_gcp.py:381)
    sales = dict((f.name, f.dataType.simpleString()) for f in schemas.AS_LANDED["r_sales"].fields)
    assert sales["quantity"] == "int"
    assert sales["price"] == "string"


def test_cte_report_on_string_tables_matches_duckdb(spark, tmp_path):
    landing = str(tmp_path / "landing")
    gen.write_landing_file(gen.gen_campaigns(spark, 300), landing, "campaigns", "csv", "20230601")
    gen.write_landing_file(gen.gen_transactions(spark, 300), landing, "transactions", "csv", "20230601")

    camp = readers.read_landing(
        spark, f"{landing}/csv/campaigns_*.csv", schemas.AS_LANDED["r_campaigns"], "csv"
    )
    tranx = readers.read_landing(
        spark, f"{landing}/csv/transactions_*.csv", schemas.AS_LANDED["r_transactions"], "csv"
    )
    camp.createOrReplaceTempView("r_campaigns_landed")
    tranx.createOrReplaceTempView("r_transactions_landed")
    # all-string in, SUBSTR on the raw string, CAST does the typing
    sql = report.render(
        "SELECT * FROM r_transactions_landed",
        "SELECT * FROM r_campaigns_landed",
        as_landed=True,
    )
    got = spark.sql(sql).toPandas()
    assert (got.date.str.len() == 10).all()  # date is a SUBSTR string here

    con = duckdb.connect()
    con.register("r_transactions_landed", tranx.toPandas())
    con.register("r_campaigns_landed", camp.toPandas())
    want = con.execute(
        report.render(
            "SELECT * FROM r_transactions_landed",
            "SELECT * FROM r_campaigns_landed",
            dialect="duckdb",
            as_landed=True,
        )
    ).df()
    assert_frames_match(got, want, "cte_report_as_landed")


def test_idempotent_pipeline_rerun_is_stable(spark, tmp_path):
    for db in ("raw_layer", "master_layer", "business_layer"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    landing, archive = str(tmp_path / "landing"), str(tmp_path / "archive")
    p = build_reference_pipeline(
        landing, archive, mode="overwrite_run",
        sizes={"campaigns": 200, "transactions": 200},
        retries=1, retry_delay_s=0.0,
    )
    r1 = p.run(spark, run_date="20230601")
    assert all(r.status == "success" for r in r1.values()), {
        n: (r.status, r.error) for n, r in r1.items() if r.status != "success"
    }
    counts1 = {
        t: spark.table(t).count()
        for t in ("raw_layer.r_campaigns", "master_layer.m_data_model",
                  "business_layer.b_sales_kpi")
    }
    # rerun the same run-date: dynamic partition overwrite → same counts
    r2 = p.run(spark, run_date="20230601")
    assert all(r.status == "success" for r in r2.values())
    counts2 = {t: spark.table(t).count() for t in counts1}
    assert counts1 == counts2
    assert counts1["master_layer.m_data_model"] > 0
