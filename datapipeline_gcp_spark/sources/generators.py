"""S7 — seeded synthetic data generators (SURVEY.md §2.1).

The reference generates rows with Faker inside Cloud Functions and
uploads one CSV/TSV object per call to GCS
(``cloud_function/create_campaigns/csv/main.py:26-43`` and the three
sibling functions; batch size ``random.randint(500,1000)`` per call,
``cloud_composer/datapipeline_gcp.py:157``). Here generation is a Spark
job over ``spark.range(n)`` with deterministic arithmetic on the row id —
fully reproducible for a given (seed, n), no Python row loop, and it
scales to any n without driver memory.

Value domains mirror FIXTURES.md §1: 8-digit campaign ids, 10-digit
transaction ids, costs/incomes in [10, 1000) with 2 decimals, timestamps
inside a 3-hour window, a hot country ('Peru' dominates — the reference's
CSV generator emits ONLY Peru, which is the skew case the engine must
survive at scale).

Join-key alignment (FIXTURES.md "critical" note): the master join
matches campaigns to transactions on exact (country, date_time)
equality, so both generators draw their (country, date_time) from the
same deterministic slot pool; a configurable minority of transaction
rows lands on slots campaigns never emit (inner-join drop coverage).
"""

from __future__ import annotations

import datetime as dt
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_gcp_spark.landing_format import with_format

COUNTRIES = ("Peru", "Chile", "Colombia", "Mexico", "Argentina", "Bolivia")
#: Probability weight of the hot country: ids ≡ 0..5 (mod 10) → Peru.
_HOT_WEIGHT = 6

# tz-aware: PySpark converts a NAIVE datetime literal to epoch micros via
# the Python process's local time zone (time.mktime), so the instant
# itself would drift with the host TZ; an aware literal is fixed.
BASE_TS = dt.datetime(2023, 6, 1, 9, 0, 0, tzinfo=dt.timezone.utc)
WINDOW_S = 3 * 3600  # generator emits timestamps within the last 3 h


def _slot_cols(slot: F.Column, n_slots: int):
    """(country, date_time) for a slot id — shared by both generators.

    Country: hot-key-weighted pick; date_time: a deterministic second
    inside the 3-hour window. Same slot ⇒ same (country, date_time).
    """
    mod10 = F.pmod(slot, F.lit(10))
    country = F.when(mod10 < _HOT_WEIGHT, F.lit(COUNTRIES[0])).otherwise(
        F.element_at(
            F.array(*[F.lit(c) for c in COUNTRIES[1:]]),
            (F.pmod(mod10 - _HOT_WEIGHT, F.lit(len(COUNTRIES) - 1)) + 1).cast("int"),
        )
    )
    second = F.pmod(slot * 2971, F.lit(WINDOW_S))
    date_time = F.lit(BASE_TS) + F.make_interval(secs=second.cast("double"))
    return country, date_time


def gen_campaigns(
    spark: SparkSession, n: int = 750, n_slots: int = 200, seed: int = 42
) -> DataFrame:
    """Campaign rows: (campaign_id, cost, country, date_time).

    ``campaign_id`` is 8-digit (``create_campaigns/csv/main.py:27``);
    ``cost`` = 2-decimal value in [10, 1000) (``:28``). Multiple
    campaigns share a slot (fan-out coverage for the master join).
    """
    df = spark.range(n).withColumn("slot", F.pmod(F.col("id") * 7 + seed, F.lit(n_slots)))
    country, date_time = _slot_cols(F.col("slot"), n_slots)
    return df.select(
        (F.lit(10_000_000) + F.col("id")).alias("campaign_id"),
        # k/100.0 is already an exact-2-dp value; no round() — its
        # double re-rounding is the one step engines may disagree on
        (F.lit(10.0) + F.pmod(F.col("id") * 9973 + seed, F.lit(99000)) / 100.0).alias(
            "cost"
        ),
        country.alias("country"),
        date_time.alias("date_time"),
    )


def gen_transactions(
    spark: SparkSession,
    n: int = 750,
    n_slots: int = 200,
    unmatched_slots: int = 40,
    seed: int = 42,
) -> DataFrame:
    """Transaction rows: (transaction_id, income, country, date_time).

    10-digit ids (``create_transactions/csv/main.py:27``); income in
    [10, 1000) with exact 0.0 rows every 11th id so the retention KPI's
    ``income = 0`` branch is non-empty (FIXTURES.md §1). Slots range over
    ``n_slots + unmatched_slots`` — the tail slots never appear in
    campaigns, so those rows drop out of the inner master join.
    """
    total_slots = n_slots + unmatched_slots
    df = spark.range(n).withColumn(
        "slot", F.pmod(F.col("id") * 11 + seed, F.lit(total_slots))
    )
    country, date_time = _slot_cols(F.col("slot"), total_slots)
    income = F.when(F.pmod(F.col("id"), F.lit(11)) == 0, F.lit(0.0)).otherwise(
        F.lit(10.0) + F.pmod(F.col("id") * 7919 + seed, F.lit(99000)) / 100.0
    )
    return df.select(
        (F.lit(1_000_000_000) + F.col("id")).alias("transaction_id"),
        income.alias("income"),
        country.alias("country"),
        date_time.alias("date_time"),
    )


def gen_sales(
    spark: SparkSession, transactions: DataFrame, seed: int = 42
) -> DataFrame:
    """Sales rows FK-joined to transactions: ≥1 row per transaction, 3
    rows for every 3rd transaction (fan-out → the COUNT(DISTINCT)
    interaction, SURVEY.md §2.4). ``date_time`` copies the matching
    transaction's timestamp (FIXTURES.md §1)."""
    base = transactions.select("transaction_id", "date_time")
    fanned = base.withColumn(
        "copies",
        F.when(F.pmod(F.col("transaction_id"), F.lit(3)) == 0, F.lit(3)).otherwise(
            F.lit(1)
        ),
    ).withColumn("line", F.explode(F.sequence(F.lit(1), F.col("copies"))))
    tid = F.col("transaction_id")
    return fanned.select(
        tid,
        F.pmod(tid * 13 + F.col("line") + seed, F.lit(150)).alias("customer_id"),
        F.pmod(tid * 17 + F.col("line") * 5, F.lit(50)).alias("product_id"),
        (F.pmod(tid + F.col("line"), F.lit(10)) + 1).cast("int").alias("quantity"),
        (F.lit(1.0) + F.pmod(tid * 31 + F.col("line"), F.lit(49900)) / 100.0).alias(
            "price"
        ),
        F.concat(F.lit("cat_"), F.pmod(tid + F.col("line") * 3, F.lit(8))).alias(
            "category"
        ),
        F.col("date_time"),
    )


# ---------------------------------------------------------------------------
# Registered queries: the generators themselves are oracle-checked (S7 in
# the correctness gate) — DuckDB reproduces the exact arithmetic over
# generate_series, so every generated cell matches bit-for-bit.
# ---------------------------------------------------------------------------

_GEN_N = 1000
_COUNTRY_SQL = (
    "CASE WHEN slot % 10 < 6 THEN 'Peru' "
    "ELSE (['Chile','Colombia','Mexico','Argentina','Bolivia'])"
    "[((slot % 10 - 6) % 5) + 1] END"
)
_TS_SQL = (
    "TIMESTAMP '2023-06-01 09:00:00' + INTERVAL 1 SECOND * ((slot * 2971) % 10800)"
)


def generator_campaigns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..schemas import pin_utc

    pin_utc(spark)  # render date_time in UTC in a vanilla driver session
    return gen_campaigns(spark, n=_GEN_N)


_CAMPAIGNS_ORACLE = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_GEN_N - 1})) AS id),
s AS (SELECT id, (id * 7 + 42) % 200 AS slot FROM ids)
SELECT
  10000000 + id AS campaign_id,
  10.0 + ((id * 9973 + 42) % 99000) / 100.0 AS cost,
  {_COUNTRY_SQL} AS country,
  {_TS_SQL} AS date_time
FROM s
"""


def generator_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..schemas import pin_utc

    pin_utc(spark)
    return gen_transactions(spark, n=_GEN_N)


_TRANSACTIONS_ORACLE = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_GEN_N - 1})) AS id),
s AS (SELECT id, (id * 11 + 42) % 240 AS slot FROM ids)
SELECT
  1000000000 + id AS transaction_id,
  CASE WHEN id % 11 = 0 THEN 0.0
       ELSE 10.0 + ((id * 7919 + 42) % 99000) / 100.0 END AS income,
  {_COUNTRY_SQL} AS country,
  {_TS_SQL} AS date_time
FROM s
"""

QUERIES = {
    "generator_campaigns": generator_campaigns,
    "generator_transactions": generator_transactions,
}
ORACLES = {
    "generator_campaigns": _CAMPAIGNS_ORACLE,
    "generator_transactions": _TRANSACTIONS_ORACLE,
}


# ---------------------------------------------------------------------------
# Landing-file writers (K3): one file per call, reference naming
# ---------------------------------------------------------------------------


def write_landing_file(
    df: DataFrame,
    landing_dir: str,
    table: str,
    fmt: str = "csv",
    run_date: str | None = None,
) -> str:
    """Write one landing file named ``{table}_{yyyymmdd}_{hex}.{ext}``
    (reference naming, ``create_campaigns/csv/main.py:21``): CSV with
    header, TXT tab-separated headerless (``:30-36`` and txt sibling),
    PARQUET for typed/binary payloads (multimodal asset shards — the
    reference consumer routes ANY extension by filename,
    ``messaging/consumer/main.py:51-53``; text formats cannot carry
    ``binary`` columns).

    Single-file output is inherent to the landing contract (the reference
    uploads one object per generator call), so ``coalesce(1)`` here is
    not a scale hazard — landing batches are 500-1000 rows; bulk data
    enters the engine through globbed many-file reads, not this writer.
    """
    import shutil

    run_date = run_date or dt.date.today().strftime("%Y%m%d")
    fname = f"{table}_{run_date}_{uuid.uuid4().hex[:8]}.{fmt}"
    os.makedirs(f"{landing_dir}/{fmt}", exist_ok=True)
    tmp = f"{landing_dir}/.tmp_{uuid.uuid4().hex[:8]}"
    # text timestamps, whitespace and NULLs per the landing contract
    with_format(df.coalesce(1).write.mode("overwrite"), fmt).save(tmp)
    part = next(p for p in os.listdir(tmp) if p.startswith("part-"))
    dest = f"{landing_dir}/{fmt}/{fname}"
    shutil.move(f"{tmp}/{part}", dest)
    shutil.rmtree(tmp)
    return dest
