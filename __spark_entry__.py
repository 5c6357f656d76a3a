"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The engine lives in ``datapipeline_gcp_spark/``; this module only
adapts its registry to the driver contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datapipeline_gcp_spark import registry  # noqa: E402
from datapipeline_gcp_spark.operators.business import BUILDERS  # noqa: E402
from datapipeline_gcp_spark.operators.master import master_from_testdata  # noqa: E402

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the reference's spine — 3-way master join
    (m_data_model, J1+J2) feeding the b_performance_metrics KPI
    aggregate (A2: mixed COUNT DISTINCT + SUM/AVG + post-agg ratio)."""
    return BUILDERS["b_performance_metrics"](
        master_from_testdata(spark, _SMOKE_SF_DIR)
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query. Complete since r5: every
    registered query ships an oracle (sketch-backed ops emit their
    accuracy contracts as deterministic data, so even they hash-check);
    an omitted entry would fall back to the driver's rows-only check."""
    return registry.all_oracles()
