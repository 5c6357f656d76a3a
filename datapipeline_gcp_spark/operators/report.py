"""The CTE revenue report (SURVEY.md §2.5 A6/A7, §2.6 U1/C1).

Reference: ``cloud_composer/load_campaigns_csv.py:7-88`` — a WITH chain:
per-source projections with SUBSTR/PARSE_TIME scalar columns (P2/P7) →
per-source daily rollups with literal padding (A6/P8) → positional
UNION ALL (U1) → re-aggregation (A7, a manual partial→final two-level
aggregate) → final projection with post-agg arithmetic
``(income - cost) AS revenue`` (P5).

The reference text references a stale schema (``datetime``/``id``/
``pais``); per SURVEY §1.5.4 it is rewritten against the declared
column names (``date_time``, ``transaction_id``/``campaign_id``,
``country``). ``PARSE_TIME('%T', ...)`` becomes an ``HH:mm:ss`` string
(Spark has no TIME column type; the column is dropped by the final
projection in the reference too). ``CAST(... AS FLOAT64)`` becomes a
deterministic money sum cast to DOUBLE (see ``determinism``).

The same query template renders for Spark SQL and for the DuckDB oracle
(the timestamp-format function differs, and the money sums render as
the engine's unscaled-long sum on the Spark side, which raises outside
the money domain, and as the decimal reference in the oracle; see
``determinism.sql_dsum_fast``), so the WITH chain is executed natively
by both engines — no DataFrame translation layer.

Scale: the whole report is two scan→partial-agg pipelines unioned and
re-aggregated; Spark executes it as hash aggregates with map-side
combine on both branches. The union is metadata-only (no shuffle); only
the rollups shuffle, on (country, date).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datapipeline_gcp_spark.determinism import sql_dsum, sql_dsum_fast

_TEMPLATE = """
WITH tranx AS (
    SELECT
        *,
        SUBSTR({fmt_dt}, 1, 10) AS date,
        SUBSTR({fmt_dt}, 12) AS time
    FROM ({transactions_src}) AS r_transactions
),
tranx_agg AS (
    SELECT
        country,
        {msum_income} AS income,
        CAST(COUNT(transaction_id) AS BIGINT) AS transaction_count,
        CAST(0.00 AS DOUBLE) AS cost,
        CAST(0 AS BIGINT) AS campaign_count,
        date
    FROM tranx
    GROUP BY country, date
),
campaigns AS (
    SELECT
        *,
        SUBSTR({fmt_dt}, 1, 10) AS date,
        SUBSTR({fmt_dt}, 12) AS time
    FROM ({campaigns_src}) AS r_campaigns
),
campaigns_agg AS (
    SELECT
        country,
        CAST(0.00 AS DOUBLE) AS income,
        CAST(0 AS BIGINT) AS transaction_count,
        {msum_cost} AS cost,
        CAST(COUNT(campaign_id) AS BIGINT) AS campaign_count,
        date
    FROM campaigns
    GROUP BY country, date
),
unionall AS (
    SELECT * FROM tranx_agg
    UNION ALL
    SELECT * FROM campaigns_agg
),
unionall_agg AS (
    SELECT
        country,
        SUM(income) AS income,
        CAST(SUM(transaction_count) AS BIGINT) AS transaction_count,
        SUM(cost) AS cost,
        CAST(SUM(campaign_count) AS BIGINT) AS campaign_count,
        date
    FROM unionall
    GROUP BY country, date
)
SELECT
    country,
    transaction_count,
    income,
    cost,
    (income - cost) AS revenue,
    campaign_count,
    date
FROM unionall_agg
"""

_SPARK_FMT = "date_format(date_time, 'yyyy-MM-dd HH:mm:ss')"
_DUCKDB_FMT = "strftime(date_time, '%Y-%m-%d %H:%M:%S')"


def render(
    transactions_src: str,
    campaigns_src: str,
    dialect: str = "spark",
    as_landed: bool = False,
) -> str:
    """Render the report SQL for a dialect over two source relations
    (each a SELECT producing the raw transactions/campaigns shape).

    ``as_landed=True`` is byte-fidelity with the reference: ``date_time``
    is an all-string column and SUBSTR slices it directly
    (``load_campaigns_csv.py:11-12`` — P2's shape), and the explicit
    ``CAST(income AS ...)`` does real STRING→numeric work (the §1.3
    semantics trap). In typed mode the timestamp is formatted first.
    The as-landed SQL is dialect-independent (pure string ops + casts).
    """
    if as_landed:
        fmt = "date_time"
    else:
        fmt = _SPARK_FMT if dialect == "spark" else _DUCKDB_FMT
    # Money sums: the Spark dialect renders the engine's unscaled-long
    # sum (bit-equal on the money domain — determinism.sql_dsum_fast;
    # the oracle/DuckDB dialect keeps the decimal reference, which is
    # exactly what the hash comparison then proves). as_landed
    # keeps the literal CAST chain on BOTH engines — its point is
    # byte-fidelity with the reference's string-typed landing SQL.
    def _msum(expr: str) -> str:
        if dialect == "spark" and not as_landed:
            return sql_dsum_fast(expr)
        return sql_dsum(expr)

    return _TEMPLATE.format(
        fmt_dt=fmt,
        transactions_src=transactions_src,
        campaigns_src=campaigns_src,
        msum_income=_msum("income"),
        msum_cost=_msum("cost"),
    )


# ---------------------------------------------------------------------------
# Driver-testdata wiring: orders split by status plays the two sources
# (shared country/date domain so the union re-aggregation merges groups).
# ---------------------------------------------------------------------------

_TESTDATA_TRANX = """
SELECT o_orderkey AS transaction_id, o_totalprice AS income,
       o_orderpriority AS country, o_orderdate AS date_time
FROM orders WHERE o_orderstatus = 'F'
"""
_TESTDATA_CAMPAIGNS = """
SELECT o_orderkey AS campaign_id, o_totalprice AS cost,
       o_orderpriority AS country, o_orderdate AS date_time
FROM orders WHERE o_orderstatus = 'O'
"""


def report_from_testdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("orders")
    return spark.sql(render(_TESTDATA_TRANX, _TESTDATA_CAMPAIGNS, "spark"))


QUERIES = {"cte_revenue_report": report_from_testdata}
ORACLES = {
    "cte_revenue_report": render(_TESTDATA_TRANX, _TESTDATA_CAMPAIGNS, "duckdb")
}
