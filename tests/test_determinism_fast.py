"""Money aggregation: the unscaled-long sum must be bit-equal to the
DECIMAL(18,4) reference on the money domain, reproduce the decimal
cast's NULL semantics on the specials (NULL, NaN, ±inf), and fail loudly
outside the domain (decimal overflow, long overflow). See determinism.py
for the domain and proof sketch; tools/check_money_parity.py for the
exhaustive data sweep."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.errors import ArithmeticException, SparkRuntimeException
from pyspark.sql import Row
from pyspark.sql import functions as F

from datapipeline_gcp_spark.determinism import (
    dec,
    dsum,
    money_total,
    money_unscaled,
    sql_dsum_fast,
)
from datapipeline_gcp_spark.operators.business import _wsum, _wsum_diff

# money-domain values: <=4 decimal digits, mixed signs/magnitudes,
# including the awkward binary cases (x*1e4 not exactly integral).
MONEY = [
    0.0,
    -0.0,
    0.01,
    -0.01,
    0.1,
    904.45,
    -994.28,
    1013.7,
    104997.88,
    499978.59,
    -499978.59,
    123.4567,
    -123.4567,
    0.0001,
    -0.0001,
    99999999999.99,  # 1e11 domain edge
    -99999999999.99,
    50.0,
    328.5,  # repr-tie shapes at 1 dp
    0.285,
    -0.285,
]

#: specials where the decimal cast itself is defined (NULL) under the
#: engine's ANSI session. True overflow (e.g. 1e15) raises on both the
#: decimal cast and the unscaled-long sum — see the tests below.
SPECIALS = [None, float("nan"), float("inf"), float("-inf")]


def _halfup_unscaled(x: float) -> int | None:
    """Reference: Spark's cast semantics (shortest repr -> HALF_UP)."""
    if x is None or math.isnan(x) or math.isinf(x):
        return None
    d = Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    return int(d * 10**4)


def test_money_unscaled_matches_decimal_cast(spark):
    rows = [Row(x=v) for v in MONEY + SPECIALS]
    df = spark.createDataFrame(rows, "x double")
    got = df.select(
        "x",
        money_unscaled("x").alias("fast"),
        (dec("x") * F.lit(10000)).cast("long").alias("exact"),
    ).collect()
    for r in got:
        assert r.fast == r.exact, f"x={r.x!r}: fast={r.fast} exact={r.exact}"
        ref = _halfup_unscaled(r.x)
        assert r.fast == ref, f"x={r.x!r}: fast={r.fast} ref={ref}"


def test_dsum_bitwise_equals_exact_path(spark):
    rows = [Row(g=i % 3, x=v, y=MONEY[(i + 5) % len(MONEY)])
            for i, v in enumerate(MONEY + SPECIALS)]
    df = spark.createDataFrame(rows, "g int, x double, y double")
    # the business measures read a multiplicity column; _n = 1 is the
    # master grain
    fast = df.withColumn("_n", F.lit(1)).groupBy("g").agg(
        dsum("x").alias("s"),
        (dsum("x") / F.count("x")).alias("a"),
        _wsum_diff("x", "y").alias("d"),
    )
    exact = df.groupBy("g").agg(
        F.sum(dec("x")).cast("double").alias("s"),
        (F.sum(dec("x")).cast("double") / F.count("x")).alias("a"),
        F.sum(dec("x") - dec("y")).cast("double").alias("d"),
    )
    f = {r.g: r for r in fast.collect()}
    e = {r.g: r for r in exact.collect()}
    assert f.keys() == e.keys()
    for g in f:
        for c in ("s", "a", "d"):
            fv, ev = getattr(f[g], c), getattr(e[g], c)
            assert (fv is None and ev is None) or repr(fv) == repr(ev), (
                f"group {g} col {c}: fast={fv!r} exact={ev!r}"
            )


def _one_row(spark, x: float):
    return spark.createDataFrame([Row(g=0, x=x)], "g int, x double")


def test_overflow_raises_naming_money_domain(spark):
    """A finite value beyond DECIMAL(18,4) (|x·10^4| >= 1e18) fails the
    query with a message naming the money domain and the value — where
    the ANSI decimal cast raises too, never a silent NULL."""
    for x, shown in ((1e15, "1.0E15"), (-1e15, "-1.0E15")):
        df = _one_row(spark, x)
        with pytest.raises(SparkRuntimeException, match="money domain") as ei:
            df.select(money_unscaled("x")).collect()
        assert f"violated: {shown} is outside" in str(ei.value)
        with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
            df.select(dec("x")).collect()


@pytest.mark.parametrize("x", [1e15, -1e15], ids=["pos", "neg"])
def test_overflow_raises_through_dsum_and_sql(spark, x):
    df = _one_row(spark, x)
    with pytest.raises(SparkRuntimeException, match="money domain"):
        df.groupBy("g").agg(dsum("x")).collect()
    df.createOrReplaceTempView("money_overflow")
    q = f"SELECT g, {sql_dsum_fast('x')} AS s FROM money_overflow GROUP BY g"
    with pytest.raises(SparkRuntimeException, match="money domain"):
        spark.sql(q).collect()


def test_sql_dsum_fast_matches_dsum(spark):
    rows = [Row(g=i % 3, x=v) for i, v in enumerate(MONEY + SPECIALS)]
    spark.createDataFrame(rows, "g int, x double").createOrReplaceTempView(
        "money_sql"
    )
    got = spark.sql(
        f"SELECT g, {sql_dsum_fast('x')} AS s FROM money_sql GROUP BY g"
    ).collect()
    ref = spark.table("money_sql").groupBy("g").agg(dsum("x").alias("s"))
    assert {r.g: repr(r.s) for r in got} == {
        r.g: repr(r.s) for r in ref.collect()
    }


def test_group_sum_past_long_range_raises(spark):
    """Every row is in-domain (9e13 -> 9e17 unscaled) but eleven of them
    sum past 2^63 unscaled: SUM(BIGINT) raises under ANSI, not wraps."""
    df = spark.createDataFrame([Row(g=0, x=9e13)] * 11, "g int, x double")
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        df.groupBy("g").agg(dsum("x")).collect()


def test_weighted_sum_product_overflow_raises(spark):
    """business._wsum's per-row money_unscaled(c) * _n is a long
    multiply: an in-domain value times a large multiplicity overflows
    loudly (1e17 unscaled x 100)."""
    df = spark.createDataFrame(
        [Row(g=0, income=1e13, _n=100)], "g int, income double, _n bigint"
    )
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        df.groupBy("g").agg(_wsum("income")).collect()


def test_all_null_and_all_special_groups_sum_to_null(spark):
    df = spark.createDataFrame(
        [Row(g=0, x=None), Row(g=0, x=None),
         Row(g=1, x=float("nan")), Row(g=1, x=float("inf"))],
        "g int, x double",
    )
    got = {r.g: r.s for r in df.groupBy("g").agg(dsum("x").alias("s")).collect()}
    assert got == {0: None, 1: None}


@pytest.mark.parametrize(
    "unscaled",
    [
        0,
        1,
        -1,
        9007199254740993,  # 2^53 + 1: a double-divide would round twice
        -9007199254740993,
        9_200_000_000_000_000_123,  # near long max
        -9_200_000_000_000_000_123,
    ],
)
def test_money_total_single_rounding_beyond_2_53(spark, unscaled):
    got = (
        spark.range(1)
        .select(money_total(F.lit(unscaled).cast("long")).alias("v"))
        .collect()[0]
        .v
    )
    # reference: exact rational S/10^4 -> one correctly-rounded double
    ref = float(Decimal(unscaled) / Decimal(10**4))
    assert repr(got) == repr(ref)
