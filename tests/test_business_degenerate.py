"""The pipeline's five KPI builders on a hand-built degenerate master,
checked row for row against the DuckDB oracle the end-to-end test uses.

The master (``master.MASTER_COLUMNS``) carries what generated fixtures
never produce together: zero-, NULL- and all-NULL-income groups, a NULL
campaign cost and quantity, NULL customer, country and datetime, one
transaction fanned out over two products, and a customer that is both
paying and non-paying in one group. ``transaction_id`` is never NULL:
the master's inner join on it guarantees that. A weighted count that
counted NULL measures, or a retention count that counted the NULL
customer, changes some group's value and fails here."""

from __future__ import annotations

import datetime as dt

import duckdb
import pyarrow as pa
import pytest

from datapipeline_gcp_spark.operators import business as biz

from tests.conftest import assert_frames_match

_COLUMNS = (
    ("campaign_id", "bigint", pa.int64()),
    ("campaign_cost", "double", pa.float64()),
    ("transaction_id", "bigint", pa.int64()),
    ("income", "double", pa.float64()),
    ("transaction_country", "string", pa.string()),
    ("customer_id", "bigint", pa.int64()),
    ("product_id", "bigint", pa.int64()),
    ("quantity", "int", pa.int32()),
    ("price", "double", pa.float64()),
    ("category", "string", pa.string()),
    ("transaction_datetime", "timestamp", pa.timestamp("us")),
)

_JUN1 = dt.datetime(2023, 6, 1, 10, 0)
_JUN2 = dt.datetime(2023, 6, 2, 23, 30)

# (campaign_id, campaign_cost, transaction_id, income, country,
#  customer_id, product_id, quantity, price, category, datetime)
_ROWS = [
    # ID / Jun 1: a fanned-out paying transaction, a zero-income one,
    # a NULL-income + NULL-cost one, a paying NULL customer, and
    # customer 2 both paying and non-paying
    (1, 10.25, 1, 100.5, "ID", 1, 1, 2, 5.5, "a", _JUN1),
    (1, 10.25, 1, 100.5, "ID", 1, 2, 3, 1.25, "b", _JUN1),
    (1, 10.25, 2, 0.0, "ID", 2, 1, 1, 5.5, "a", _JUN1),
    (1, None, 3, None, "ID", 3, 1, None, 5.5, "a", _JUN1),
    (1, 10.25, 10, 7.0, "ID", 2, 2, 4, 1.25, "b", _JUN1),
    (1, 10.25, 11, 30.0, "ID", None, 1, 1, 5.5, "a", _JUN1),
    # SG / Jun 2: every income NULL
    (2, 3.0, 4, None, "SG", 4, 1, 1, 5.5, "a", _JUN2),
    (2, 2.5, 5, None, "SG", 5, 3, 2, 9.0, "c", _JUN2),
    # MY / Jun 1: only zero incomes
    (3, 1.0, 6, 0.0, "MY", 6, 3, 1, 9.0, "c", _JUN1),
    (3, 1.0, 7, 0.0, "MY", 6, 3, 5, 9.0, "c", _JUN1),
    # NULL country; NULL datetime
    (4, 4.75, 8, 50.0, None, 7, 1, 2, 5.5, "a", _JUN1),
    (5, 0.5, 9, 20.0, "ID", 1, 2, 1, 1.25, "b", None),
]


@pytest.fixture(scope="module")
def degenerate_master(spark):
    spark_schema = ", ".join(f"{n} {t}" for n, t, _ in _COLUMNS)
    # the session clock is UTC; tz-aware values keep the Python
    # process's local zone out of the conversion
    utc = [
        r[:-1] + (r[-1] and r[-1].replace(tzinfo=dt.timezone.utc),) for r in _ROWS
    ]
    master = spark.createDataFrame(utc, spark_schema)
    arrow = pa.Table.from_pylist(
        [dict(zip((n for n, _, _ in _COLUMNS), r)) for r in _ROWS],
        schema=pa.schema([(n, a) for n, _, a in _COLUMNS]),
    )
    con = duckdb.connect()
    con.register("degenerate_master", arrow)
    yield master, con
    con.close()


@pytest.mark.parametrize("name", sorted(biz.BUILDERS))
def test_builder_matches_oracle_on_degenerate_master(degenerate_master, name):
    master, con = degenerate_master
    got = biz.BUILDERS[name](master).toPandas()
    oracle = con.execute(
        biz.oracle_for(name, "SELECT * FROM degenerate_master")
    ).df()
    assert_frames_match(got, oracle, name)
