"""OLAP analytics surface: grouping sets (rollup/cube), pivot/unpivot,
and analytic window functions (lag/lead/running aggregates).

The reference never uses these (SURVEY.md §2.5-§2.6 notes their
absence), but they are table-stakes for a general analytics engine and
all map to single Catalyst operators: rollup/cube plan as one Expand +
hash aggregate (one shuffle); window functions as one sort within the
partition-key shuffle. Running sums accumulate unscaled longs
(``determinism.money_unscaled``) over an explicit ROWS frame with a
unique-key tie-break so results are deterministic (a RANGE frame over
tied timestamps would make running values order-dependent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datapipeline_gcp_spark.determinism import (
    SQL_EVENTS_NANSAFE,
    dsum,
    money_total,
    money_unscaled,
    nan_to_null,
    qround,
    sql_dsum,
    sql_qround,
)
from datapipeline_gcp_spark.schemas import load_testdata


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_testdata(spark, sf_dir, ("orders",))["orders"]


def _grand_total_if_empty(o: DataFrame) -> DataFrame:
    """ANSI patch-up for Spark's grouping-sets-on-empty deviation: the
    standard (and DuckDB) emit the ``()`` grouping-set row even over
    zero input rows, but Spark's Expand-based ROLLUP/CUBE produces
    nothing from nothing. This branch is a global aggregate gated on
    ``COUNT(*) = 0`` — exactly the missing grand-total row on empty
    input, zero rows otherwise, so the hot path (one Expand + one hash
    aggregate) is untouched and the extra cost is a 1-row map-side
    partial aggregate."""
    return (
        o.agg(
            F.count("*").alias("_n"),
            F.count("o_orderkey").alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .filter(F.col("_n") == 0)
        .select(
            F.lit(None).cast("string").alias("o_orderstatus"),
            F.lit(None).cast("string").alias("o_orderpriority"),
            "n_orders",
            "total_price",
            F.lit(1).cast("bigint").alias("g_status"),
            F.lit(1).cast("bigint").alias("g_priority"),
        )
    )


def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (status, priority): subtotals per status and a grand
    total; grouping flags exported explicitly (engine-portable, unlike
    the composite grouping_id bit order)."""
    o = _orders(spark, sf_dir)
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
            F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
            F.grouping("o_orderpriority").cast("bigint").alias("g_priority"),
        )
        .unionByName(_grand_total_if_empty(o))
    )


_ROLLUP_ORACLE = f"""
SELECT
  o_orderstatus, o_orderpriority,
  COUNT(o_orderkey) AS n_orders,
  {sql_dsum('o_totalprice')} AS total_price,
  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders(spark, sf_dir)
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
            F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
            F.grouping("o_orderpriority").cast("bigint").alias("g_priority"),
        )
        .unionByName(_grand_total_if_empty(o))
    )


_CUBE_ORACLE = _ROLLUP_ORACLE.replace("GROUP BY ROLLUP", "GROUP BY CUBE")

# Arbitrary GROUPING SETS (neither a rollup nor a full cube): the
# (status, priority) detail, the per-priority margin, and the grand
# total — one Expand + one hash aggregate in Spark, same as rollup/cube.
# The string is dialect-shared ANSI, run verbatim by both engines.
_GROUPING_SETS_SQL = f"""
SELECT
  o_orderstatus, o_orderpriority,
  COUNT(o_orderkey) AS n_orders,
  {sql_dsum('o_totalprice')} AS total_price,
  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
"""


# Spark-only patch-up for the () grouping set on EMPTY input (see
# _grand_total_if_empty): the oracle string above stays pure ANSI —
# DuckDB already emits the grand-total row, so appending this branch to
# the shared string would double it there.
_GS_EMPTY_PATCH = f"""
UNION ALL
SELECT CAST(NULL AS STRING) AS o_orderstatus,
       CAST(NULL AS STRING) AS o_orderpriority,
       COUNT(o_orderkey) AS n_orders,
       {sql_dsum('o_totalprice')} AS total_price,
       CAST(1 AS BIGINT) AS g_status,
       CAST(1 AS BIGINT) AS g_priority
FROM orders HAVING COUNT(*) = 0
"""


def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS beyond rollup/cube (DataFrame API has no grouping-
    sets builder — SQL is the idiomatic Spark spelling)."""
    _orders(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL + _GS_EMPTY_PATCH)


def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order status into columns per priority (explicit value list
    — an unlisted status would silently widen the schema otherwise)."""
    o = _orders(spark, sf_dir)
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(dsum("o_totalprice"))
    )
    return p.select(
        "o_orderpriority",
        F.col("F").alias("total_f"),
        F.col("O").alias("total_o"),
        F.col("P").alias("total_p"),
    )


_PIVOT_ORACLE = """
SELECT
  o_orderpriority,
  CAST(SUM(CASE WHEN o_orderstatus = 'F'
        THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS total_f,
  CAST(SUM(CASE WHEN o_orderstatus = 'O'
        THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS total_o,
  CAST(SUM(CASE WHEN o_orderstatus = 'P'
        THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS total_p
FROM orders
GROUP BY o_orderpriority
"""


def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) lineitem's four measures into long form."""
    li = load_testdata(spark, sf_dir, ("lineitem",))["lineitem"]
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    )


_UNPIVOT_ORACLE = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
"""


def window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order timeline: lag/lead, rank, and a deterministic
    running total (explicit ROWS frame + unique-key tie-break)."""
    o = _orders(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.row_number().over(w).cast("bigint").alias("order_seq"),
        money_total(F.sum(money_unscaled("o_totalprice")).over(wf)).alias(
            "running_total"
        ),
    )


_WINDOW_ORACLE = """
SELECT
  o_custkey,
  o_orderkey,
  o_totalprice,
  lag(o_totalprice) OVER w AS prev_price,
  lead(o_totalprice) OVER w AS next_price,
  CAST(ROW_NUMBER() OVER w AS BIGINT) AS order_seq,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS DOUBLE) AS running_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""

def events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles (p50/p95/p99 of event value): Spark's
    sort-based exact ``percentile`` aggregate. Exact quantiles are the
    right default for bounded group counts (one sort per group inside
    the hash-aggregate shuffle); at 100 TB with huge groups the escape
    hatch is the mergeable one-pass sketch — registered as
    :func:`events_percentiles_approx` (in rank-contract form, so both
    twins are oracle-checked since r5). Both engines interpolate at
    (n-1)*p, but their interpolation EXPRESSIONS differ in the last
    ULP on some (lo, hi, frac) triples — invisible on the shipped
    fixtures, surfaced by the r10 8× scale probe's duplicated
    multiset — so the quantiles carry the repo-standard 6-dp qround
    equalizer on both sides (data-independent contract instead of a
    bitwise claim scoped to one dataset).
    """
    ev = load_testdata(spark, sf_dir, ("events",))["events"]
    # NaN measure ≡ NULL (r8 nanvalues boundary) — percentile and
    # quantile_cont then both skip it, where NaN placement differs
    ev = ev.withColumn("value", nan_to_null("value"))
    q = F.percentile("value", F.lit([0.5, 0.95, 0.99]))
    return ev.groupBy("event_type").agg(
        qround(q[0], 6).alias("p50"),
        qround(q[1], 6).alias("p95"),
        qround(q[2], 6).alias("p99"),
        F.count("*").alias("n_events"),
    )


_PERCENTILE_ORACLE = f"""
SELECT event_type,
       {sql_qround("quantile_cont(value, 0.5)", 6)}  AS p50,
       {sql_qround("quantile_cont(value, 0.95)", 6)} AS p95,
       {sql_qround("quantile_cont(value, 0.99)", 6)} AS p99,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM {SQL_EVENTS_NANSAFE}
GROUP BY event_type
"""


PCT_ACCURACY = 10_000  # GK sketch accuracy: rank error ≤ n / accuracy


def _percentile_approx_estimates(ev: DataFrame) -> DataFrame:
    """(event_type, p50, p95, p99, n_events) via the mergeable
    Greenwald-Khanna sketch (``percentile_approx``) — the actual 100 TB
    execution shape of per-group quantiles: one pass, map-side partial
    sketches, no per-group sort — the right form when groups no longer
    fit a single aggregation buffer."""
    q = F.percentile_approx(
        "value", F.lit([0.5, 0.95, 0.99]), F.lit(PCT_ACCURACY)
    )
    return ev.groupBy("event_type").agg(
        q[0].alias("p50"), q[1].alias("p95"), q[2].alias("p99"),
        F.count("*").alias("n_events"),
    )


def events_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB escape hatch :func:`events_percentiles` documents,
    registered in the gate-provable contract form (VERDICT r4
    next-steps #1): run the GK sketch
    (:func:`_percentile_approx_estimates` — what a 100 TB deployment
    would run alone), then verify its rank contract IN the job and emit
    the verdict AS DATA: per group, the row count plus a flag per
    quantile that the estimate's empirical rank range [#{v<est}+1,
    #{v<=est}] overlaps the target rank p·n within the GK bound
    n/accuracy (±1 rank for tie runs).

    The raw estimates are engine-specific and deliberately NOT in the
    output; the contract relation is deterministic (GK on fixed input
    is deterministic, and ANY sketch honoring the published bound
    passes), so DuckDB can oracle it directly (group counts + all-true
    flags). Completes the provable sketch family alongside the HLL
    engagement twin and the bloom semi-join: distinct-count, quantile,
    and membership — the three sketches a 100 TB pipeline leans on.

    Cost shape: sketch pass O(N), then one broadcast join of the
    group-cardinality estimates back to the facts for the rank count —
    a second O(N) scan that exists only to carry the proof; tighter
    numeric pins live in ``tests/test_analytics_scale_variants``."""
    ev = load_testdata(spark, sf_dir, ("events",))["events"]
    est = _percentile_approx_estimates(ev).localCheckpoint()

    def lo(c: str):
        return F.sum(
            F.when(F.col("value") < F.col(c), 1).otherwise(0)
        ).alias(f"lo_{c}")

    def hi(c: str):
        return F.sum(
            F.when(F.col("value") <= F.col(c), 1).otherwise(0)
        ).alias(f"hi_{c}")

    # eqNullSafe (<=>): the estimates come from a groupBy, where a NULL
    # event_type IS a group — the proof join must carry that group
    # instead of equi-dropping it (r8 nullkeys sweep). <=> is still a
    # hash-joinable key, so the broadcast plan shape is unchanged.
    ev2 = ev.select(F.col("event_type").alias("__et"), "value")
    ranks = (
        ev2.join(F.broadcast(est), F.col("__et").eqNullSafe(est["event_type"]))
        .groupBy("__et")
        .agg(lo("p50"), hi("p50"), lo("p95"), hi("p95"), lo("p99"), hi("p99"))
    )

    def ok(c: str, p: float):
        n = F.col("n_events").cast("double")
        err = n / F.lit(float(PCT_ACCURACY)) + F.lit(1.0)
        target = F.lit(p) * n
        return (
            F.when(
                (F.col(f"lo_{c}").cast("double") - err <= target)
                & (target <= F.col(f"hi_{c}").cast("double") + err),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias(f"{c}_ok")
        )

    return est.join(
        F.broadcast(ranks), est["event_type"].eqNullSafe(ranks["__et"])
    ).select(
        "event_type",
        "n_events",
        ok("p50", 0.5),
        ok("p95", 0.95),
        ok("p99", 0.99),
    )


_PCT_APPROX_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(1 AS BIGINT) AS p50_ok,
       CAST(1 AS BIGINT) AS p95_ok,
       CAST(1 AS BIGINT) AS p99_ok
FROM events
GROUP BY event_type
"""


N_BINS = 20


def events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of event value per event_type: 20 bins over
    the group's [min, max], top edge folded into the last bin. Two
    aggregates: a 5-row stats table (broadcast back) then the bin
    count — classic two-pass histogram, no sort. All double arithmetic
    is written in the same operation order as the oracle, so bin
    assignment is bit-deterministic without rounding."""
    ev = load_testdata(spark, sf_dir, ("events",))["events"]
    # NaN measure ≡ NULL (r8 nanvalues boundary): a corrupt reading
    # lands in the NULL bin group instead of engine-specific NaN
    # min/max/bin placement
    ev = ev.withColumn("value", nan_to_null("value"))
    stats = ev.groupBy("event_type").agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    # degenerate group (vmax == vmin): 0/0 would be NULL and leak into
    # the NULL-skipping least() as bin 19 — pin such groups to bin 0
    binned = ev.join(F.broadcast(stats), "event_type").withColumn(
        "bin",
        F.when(F.col("vmax") == F.col("vmin"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("value") - F.col("vmin"))
                    / (F.col("vmax") - F.col("vmin"))
                    * N_BINS
                ),
                F.lit(N_BINS - 1),
            )
        )
        .cast("long"),
    )
    return binned.groupBy("event_type", "bin").agg(
        F.count("*").alias("n_events"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )


_HISTOGRAM_ORACLE = f"""
WITH stats AS (
  SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
  FROM {SQL_EVENTS_NANSAFE} GROUP BY event_type
)
SELECT e.event_type,
       CAST(CASE WHEN s.vmax = s.vmin THEN 0
                 ELSE least(floor((e.value - s.vmin) / (s.vmax - s.vmin)
                                  * {N_BINS}), {N_BINS - 1})
            END AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(s.vmin) AS vmin,
       MAX(s.vmax) AS vmax
FROM {SQL_EVENTS_NANSAFE} e JOIN stats s USING (event_type)
GROUP BY 1, 2
"""


SESSION_GAP_MIN = 30


def sessionize(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_minutes: int = SESSION_GAP_MIN,
) -> DataFrame:
    """Batch sessionization by inactivity gap: a new session starts at
    the first event per key and whenever the gap to the previous event
    exceeds ``gap_minutes``. Session ids are the running count of
    session starts (lag + cumulative sum over one per-key sort — both
    windows share the partitioning, so this is a single shuffle and a
    single sort per key). The streaming twin is ``session_window`` in
    ``streaming/windows.py``; identical gap semantics, cross-checked in
    tests."""
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    # timestamp_diff is NTZ-safe (parquet naive timestamps load as
    # TIMESTAMP_NTZ, which unix_micros rejects) and DST-proof: pure
    # naive microsecond arithmetic, matching the DuckDB oracle.
    gap_us = F.timestamp_diff(
        "MICROSECOND", F.lag(F.col(ts_col)).over(w), F.col(ts_col)
    )
    is_start = F.when(
        gap_us.isNull() | (gap_us > gap_minutes * 60_000_000), 1
    ).otherwise(0)
    return events.withColumn(
        "session_idx",
        F.sum(is_start).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_testdata(spark, sf_dir, ("events",))["events"]
    s = sessionize(ev)
    return s.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.timestamp_diff("MICROSECOND", F.min("ts"), F.max("ts")).alias(
            "duration_us"
        ),
    )


_SESSIONIZE_ORACLE = f"""
WITH gapped AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                   > {SESSION_GAP_MIN} * 60000000
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
  SELECT user_id, ts,
         SUM(is_start) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_idx
  FROM gapped
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
FROM sessioned
GROUP BY user_id, session_idx
"""


ROLLING_DAYS = 30


def rolling_window_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer trailing-30-day order revenue: a RANGE frame over
    days-since-epoch (time-valued, unlike the ROWS frames elsewhere —
    all orders inside the interval count, however many there are).
    One shuffle on customer, one sort; the frame slides without
    re-scanning. Money through the unscaled-long sum (``determinism``)."""
    o = _orders(spark, sf_dir)
    day = F.datediff(F.col("o_orderdate"), F.to_date(F.lit("1970-01-01")))
    o = o.withColumn("day", day.cast("bigint"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-(ROLLING_DAYS - 1), 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "day",
        money_total(F.sum(money_unscaled("o_totalprice")).over(w)).alias(
            "rev_30d"
        ),
        F.count("*").over(w).cast("bigint").alias("orders_30d"),
    )


_ROLLING_ORACLE = f"""
SELECT o_custkey, o_orderkey, day,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE)
         AS rev_30d,
       CAST(COUNT(*) OVER w AS BIGINT) AS orders_30d
FROM (
  SELECT *, CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
              AS day
  FROM orders
) t
WINDOW w AS (PARTITION BY o_custkey ORDER BY day
             RANGE BETWEEN {ROLLING_DAYS - 1} PRECEDING AND CURRENT ROW)
"""


def resample_ffill(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Regularize an irregular per-key time series onto a daily grid
    with forward fill (last observation carried forward) — the
    timescale/hypertable-style gap-fill operator. Each key gets one
    grid row per day of ITS OWN [first, last] observation span; days
    with no observation carry the latest prior value, flagged
    ``has_obs = 0``.

    Shape: (1) one hash aggregation picks the day's last observation
    per (key, day) — deterministic via a (ts, id) struct max, not
    ``last()`` — and in the same pass the key's min/max day;
    (2) ``sequence()`` explodes the per-key day grid (no cross join
    against a global calendar — a key spanning 3 days makes 3 rows
    however long the table's history is); (3) a left join puts
    observations on the grid and one ordered window carries values
    forward. Grid join and window share the key partitioning.
    The value is carried verbatim (no arithmetic) → engine-identical.
    """
    day = F.to_date(F.col(ts_col))
    # max of (ts, id, value) structs = the lexicographically-last
    # observation of the day; (ts, id) is unique so the winner — and
    # therefore the carried value — is total-order deterministic.
    daily = (
        events.select(
            F.col(key_col).alias("key"),
            day.alias("day"),
            F.struct(
                F.col(ts_col), F.col(id_col), F.col(val_col).alias("v")
            ).alias("obs"),
        )
        .groupBy("key", "day")
        .agg(F.max("obs").alias("obs"))
        .select("key", "day", F.col("obs.v").alias("obs_val"))
    )
    span = daily.groupBy("key").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "key",
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    w = (
        Window.partitionBy("key")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(daily, ["key", "day"], "left")
        .select(
            F.col("key").alias("user_id"),
            "day",
            F.last("obs_val", ignorenulls=True).over(w).alias("value"),
            F.col("obs_val").isNotNull().cast("bigint").alias("has_obs"),
        )
    )


def events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_testdata(spark, sf_dir, ("events",))["events"]
    return resample_ffill(ev)


_RESAMPLE_ORACLE = """
WITH daily AS (
  SELECT user_id AS key, CAST(ts AS DATE) AS day,
         (MAX(struct_pack(ts := ts, id := event_id, v := value))).v
           AS obs_val
  FROM events
  GROUP BY 1, 2
),
span AS (
  SELECT key, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY key
),
grid AS (
  SELECT key, CAST(g AS DATE) AS day
  FROM span
  CROSS JOIN LATERAL unnest(generate_series(d0, d1, INTERVAL 1 DAY)) t(g)
)
SELECT g.key AS user_id, g.day,
       last_value(d.obs_val IGNORE NULLS) OVER (
         PARTITION BY g.key ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS value,
       CAST(CASE WHEN d.obs_val IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS has_obs
FROM grid g LEFT JOIN daily d ON g.key = d.key AND g.day = d.day
"""


FUNNEL_STAGES = ("view", "click", "purchase")


def funnel(events: DataFrame, stages=FUNNEL_STAGES) -> DataFrame:
    """Strict ordered funnel over per-user event streams: a user reaches
    stage i+1 only with an event of that type strictly AFTER their
    stage-i time (first-touch attribution: each stage time is the
    earliest qualifying event). Counting users whose per-type min
    timestamps merely sort correctly would overcount — a click before
    the first view must not qualify.

    Shape: one aggregation per stage (conditional min), re-joining the
    events to the accumulating per-user stage times. Every shuffle is
    on user_id, so after the first exchange the joins and aggregations
    reuse the same hash partitioning; at scale this is N_stages
    co-partitioned passes over the (filtered) event stream, never a
    window over the whole history. Conversion rates divide two exact
    BIGINTs once → bit-identical doubles in both engines."""
    ev = events.filter(F.col("event_type").isin(*stages)).select(
        "user_id", "event_type", "ts"
    )
    # stage 1: earliest event of the entry type
    acc = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == stages[0], F.col("ts"))).alias(
            "t1"
        )
    )
    for i, stage in enumerate(stages[1:], start=2):
        prev = f"t{i - 1}"
        acc = (
            ev.join(acc, "user_id")
            .groupBy("user_id")
            .agg(
                # constant per user (carried from acc) — min() rather
                # than first() to keep the aggregate formally
                # deterministic
                *[F.min(f"t{j}").alias(f"t{j}") for j in range(1, i)],
                F.min(
                    F.when(
                        (F.col("event_type") == stage)
                        & (F.col("ts") > F.col(prev)),
                        F.col("ts"),
                    )
                ).alias(f"t{i}"),
            )
        )
    counts = acc.agg(
        *[
            F.count(f"t{i}").alias(f"n{i}")
            for i in range(1, len(stages) + 1)
        ]
    )
    per_stage = [
        F.struct(
            F.lit(i).alias("stage_idx"),
            F.lit(stage).alias("stage"),
            F.col(f"n{i}").alias("n_users"),
            # nullif: an empty (or entry-stage-free) event log has
            # n1 = 0 and the rate division THROWS under ANSI; NULL is
            # exactly DuckDB's double/0, so the oracle is unchanged
            (
                F.col(f"n{i}").cast("double")
                / F.nullif(F.col("n1").cast("double"), F.lit(0.0))
            ).alias("conv_rate"),
        )
        for i, stage in enumerate(stages, start=1)
    ]
    return counts.select(
        F.explode(F.array(*per_stage)).alias("s")
    ).select("s.stage_idx", "s.stage", "s.n_users", "s.conv_rate")


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_testdata(spark, sf_dir, ("events",))["events"]
    return funnel(ev)


_FUNNEL_ORACLE = """
WITH ev AS (
  SELECT user_id, event_type, ts FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
s1 AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
  FROM ev GROUP BY user_id
),
s2 AS (
  SELECT ev.user_id, MIN(s1.t1) AS t1,
         MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END) AS t2
  FROM ev JOIN s1 ON ev.user_id = s1.user_id
  GROUP BY ev.user_id
),
s3 AS (
  SELECT ev.user_id, MIN(s2.t1) AS t1, MIN(s2.t2) AS t2,
         MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END) AS t3
  FROM ev JOIN s2 ON ev.user_id = s2.user_id
  GROUP BY ev.user_id
),
c AS (
  SELECT CAST(COUNT(t1) AS BIGINT) AS n1,
         CAST(COUNT(t2) AS BIGINT) AS n2,
         CAST(COUNT(t3) AS BIGINT) AS n3
  FROM s3
)
SELECT u.stage_idx, u.stage, u.n_users,
       CAST(u.n_users AS DOUBLE) / CAST(c.n1 AS DOUBLE) AS conv_rate
FROM c, (
  SELECT 1 AS stage_idx, 'view' AS stage, n1 AS n_users FROM c
  UNION ALL SELECT 2, 'click', n2 FROM c
  UNION ALL SELECT 3, 'purchase', n3 FROM c
) u
"""


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Classic cohort-retention matrix: users are assigned to the DAY
    of their first event (the cohort); each cell counts how many of the
    cohort were active ``day_offset`` days later, as a rate over the
    cohort size. Day granularity suits the fixture's one-month span;
    swap ``date_trunc`` unit for weekly/monthly products.

    Scale shape: two hash aggregates keyed on the user (first-seen, then
    distinct user-weeks — both partial-aggregate map-side), one
    user-keyed join, then a cohort-keyed aggregate whose cardinality is
    #weeks², i.e. metadata-scale however big the event log is. No
    windows, no self-join over the fact table. Week arithmetic is pure
    integer math (``datediff / 7`` on Monday-truncated dates, exact in
    both engines)."""
    u, t = F.col(user_col), F.col(ts_col)
    first = (
        events.groupBy(user_col)
        .agg(F.min(F.to_date(t)).alias("cohort_day"))
    )
    active = events.select(
        user_col, F.to_date(t).alias("active_day")
    ).distinct()
    joined = active.join(first, user_col).select(
        u.alias("user_id"),
        "cohort_day",
        F.datediff(F.col("active_day"), F.col("cohort_day")).alias("day_offset"),
    )
    sizes = first.groupBy("cohort_day").agg(
        F.count("*").alias("n_cohort")
    )
    return (
        joined.groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .join(sizes, "cohort_day")
        .select(
            "cohort_day",
            "day_offset",
            "n_active",
            "n_cohort",
            (F.col("n_active").cast("double") / F.col("n_cohort").cast("double")).alias(
                "retention_rate"
            ),
        )
    )


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_testdata(spark, sf_dir, ("events",))["events"]
    return cohort_retention(ev)


_COHORT_ORACLE = """
WITH first AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day
  FROM events
),
sizes AS (
  SELECT cohort_day, COUNT(*) AS n_cohort FROM first GROUP BY cohort_day
),
cells AS (
  SELECT f.cohort_day,
         CAST(date_diff('day', f.cohort_day, a.active_day) AS BIGINT) AS day_offset,
         CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
  FROM active a JOIN first f ON a.user_id = f.user_id
  GROUP BY 1, 2
)
SELECT c.cohort_day, c.day_offset, c.n_active, s.n_cohort,
       CAST(c.n_active AS DOUBLE) / CAST(s.n_cohort AS DOUBLE) AS retention_rate
FROM cells c JOIN sizes s ON c.cohort_day = s.cohort_day
"""


def last_touch_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_type: str = "click",
) -> DataFrame:
    """Last-touch attribution: each conversion event is credited to the
    most recent preceding touch event (same user), the standard
    marketing-attribution join. One window over a user-keyed sort —
    single shuffle, no self-join of the event log against itself (the
    naive formulation is an inequality join that explodes at 100 TB).
    Ordering ties on ``ts`` break by ``event_id`` so the credited touch
    is deterministic across engines and partitionings."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch_id = F.last(
        F.when(F.col("event_type") == touch_type, F.col("event_id")),
        ignorenulls=True,
    ).over(w)
    touch_ts = F.last(
        F.when(F.col("event_type") == touch_type, F.col("ts")),
        ignorenulls=True,
    ).over(w)
    return (
        events.select(
            "event_id", "user_id", "ts", "event_type", "value",
            touch_id.alias("touch_event_id"),
            touch_ts.alias("touch_ts"),
        )
        .filter(F.col("event_type") == conversion_type)
        .select(
            F.col("event_id").alias("purchase_event_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "value",
            "touch_event_id",
            "touch_ts",
        )
    )


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_testdata(spark, sf_dir, ("events",))["events"]
    return last_touch_attribution(ev)


_ATTRIBUTION_ORACLE = """
WITH w AS (
  SELECT event_id, user_id, ts, event_type, value,
         LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch_event_id,
         LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch_ts
  FROM events
)
SELECT event_id AS purchase_event_id, user_id, ts AS purchase_ts, value,
       touch_event_id, touch_ts
FROM w WHERE event_type = 'purchase'
"""


def events_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-completeness monitor: hours with ZERO events per type
    between that type's first and last active hour — the freshness /
    data-loss alarm a pipeline checks before trusting a day's ingest
    (the reference's sensor waits for FILES to exist,
    `datapipeline_gcp.py` poke loop; this checks the CONTENT landed).

    Shape (r8 redesign): distinct (type, hour) is one pre-aggregated
    projection of the fact table, then ONE lead() window per type turns
    consecutive active hours into gap RUNS — (event_type, gap_start,
    gap_end, missing_hours). The previous design exploded the full
    expected-hour GRID and anti-joined: output cardinality = hours in
    the bounds span, which a single corrupt far-future timestamp turns
    into millions of rows per type (the r8 extremes sweep OOM'd first
    the boxed timestamp sequence() array and then the result
    collection). Runs are bounded by the ACTIVE hour count regardless
    of the time span — the report stays readable and the plan stays
    result-bounded under arbitrarily dirty clocks, which is the 100 TB
    property a completeness monitor actually needs."""
    ev = load_testdata(spark, sf_dir, ("events",))["events"]
    actual = ev.select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    return (
        actual.withColumn("nxt", F.lead("h").over(w))
        .filter(F.col("nxt") > F.expr("h + INTERVAL 1 HOUR"))
        .select(
            "event_type",
            F.expr("h + INTERVAL 1 HOUR").alias("gap_start"),
            F.expr("nxt - INTERVAL 1 HOUR").alias("gap_end"),
            (F.expr("timestampdiff(HOUR, h, nxt)") - 1)
            .cast("bigint")
            .alias("missing_hours"),
        )
    )


_GAP_ORACLE = """
WITH actual AS (
  SELECT DISTINCT event_type, date_trunc('hour', ts) AS h FROM events
),
runs AS (
  SELECT event_type, h,
         lead(h) OVER (PARTITION BY event_type ORDER BY h) AS nxt
  FROM actual
)
SELECT event_type,
       h + INTERVAL 1 HOUR AS gap_start,
       nxt - INTERVAL 1 HOUR AS gap_end,
       CAST(date_diff('hour', h, nxt) - 1 AS BIGINT) AS missing_hours
FROM runs
WHERE nxt > h + INTERVAL 1 HOUR
"""


def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency: per user, the gap between FIRST view and FIRST
    subsequent purchase; rolled up to exact p50/p90/p99 latency (plus
    conversion count and mean) — the time-to-convert readout that
    turns `events_funnel`'s "did they convert" into "how fast".

    Shape: one (user, type) min-timestamp aggregation over a pushed
    two-type filter, a user-keyed self-join of its two slices (AQE
    broadcasts the smaller), ``timestamp_diff`` microsecond arithmetic
    (NTZ-safe, DST-proof), then one exact-percentile aggregate —
    identical interpolation in both engines (see events_percentiles).
    Negative gaps (purchase before any view) are excluded — those
    users never converted THROUGH the funnel."""
    ev = load_testdata(spark, sf_dir, ("events",))["events"]
    firsts = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("first_ts"))
    )
    v = firsts.filter(F.col("event_type") == "view").select(
        "user_id", F.col("first_ts").alias("view_ts")
    )
    p = firsts.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("first_ts").alias("purchase_ts")
    )
    lat = (
        v.join(p, "user_id")
        .select(
            "user_id",
            F.timestamp_diff(
                "MICROSECOND", F.col("view_ts"), F.col("purchase_ts")
            ).alias("latency_us"),
        )
        .filter(F.col("latency_us") >= 0)
    )
    q = F.percentile(
        F.col("latency_us").cast("double"), F.lit([0.5, 0.9, 0.99])
    )
    return lat.agg(
        F.count("*").alias("n_converted"),
        (F.sum("latency_us").cast("double") / F.count("*")).alias(
            "mean_latency_us"
        ),
        q[0].alias("p50_us"),
        q[1].alias("p90_us"),
        q[2].alias("p99_us"),
    )


_CONV_LATENCY_ORACLE = """
WITH firsts AS (
  SELECT user_id, event_type, MIN(ts) AS first_ts
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY user_id, event_type
),
lat AS (
  SELECT v.user_id,
         epoch_us(p.first_ts) - epoch_us(v.first_ts) AS latency_us
  FROM firsts v JOIN firsts p
    ON v.user_id = p.user_id
   AND v.event_type = 'view' AND p.event_type = 'purchase'
  WHERE epoch_us(p.first_ts) - epoch_us(v.first_ts) >= 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       CAST(SUM(latency_us) AS DOUBLE) / COUNT(*) AS mean_latency_us,
       quantile_cont(CAST(latency_us AS DOUBLE), 0.5)  AS p50_us,
       quantile_cont(CAST(latency_us AS DOUBLE), 0.9)  AS p90_us,
       quantile_cont(CAST(latency_us AS DOUBLE), 0.99) AS p99_us
FROM lat
"""


def orders_priority_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-distribution drift monitor: per month, each order
    priority's share vs its corpus-wide baseline share, as a log-ratio
    (the per-cell term of a KL/PSI drift score) — the alert that
    catches an upstream product change or broken enum long before a
    schema check would (the profiler covers schema drift; this covers
    DISTRIBUTION drift).

    Shape: one (month, priority) aggregation; monthly totals and
    baseline shares ride windows over the month×priority rollup —
    metadata cardinality; the fact table is scanned once. All shares
    are exact-count ratios; the ln is qround'd (repo standard)."""
    from datapipeline_gcp_spark.determinism import qround

    o = load_testdata(spark, sf_dir, ("orders",))["orders"]
    cells = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        "o_orderpriority",
    ).agg(F.count("*").alias("n"))
    month_tot = F.sum("n").over(Window.partitionBy("month"))
    prio_tot = F.sum("n").over(Window.partitionBy("o_orderpriority"))
    grand_tot = F.sum("n").over(Window.partitionBy())
    share = F.col("n").cast("double") / month_tot.cast("double")
    baseline = prio_tot.cast("double") / grand_tot.cast("double")
    enriched = cells.select(
        "month",
        "o_orderpriority",
        "n",
        share.alias("share_raw"),
        baseline.alias("baseline_raw"),
    )
    return enriched.select(
        "month",
        "o_orderpriority",
        "n",
        qround(F.col("share_raw"), 9).alias("share"),
        qround(F.col("baseline_raw"), 9).alias("baseline"),
        qround(
            F.log(F.col("share_raw") / F.col("baseline_raw")), 6
        ).alias("log_drift"),
    )


_DRIFT_ORACLE = f"""
WITH cells AS (
  SELECT date_trunc('month', o_orderdate) AS month, o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
),
enriched AS (
  SELECT month, o_orderpriority, n,
    CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY month) AS DOUBLE)
      AS share_raw,
    CAST(SUM(n) OVER (PARTITION BY o_orderpriority) AS DOUBLE)
      / CAST(SUM(n) OVER () AS DOUBLE) AS baseline_raw
  FROM cells
)
SELECT month, o_orderpriority, n,
  {sql_qround("share_raw", 9)} AS share,
  {sql_qround("baseline_raw", 9)} AS baseline,
  {sql_qround("ln(share_raw / baseline_raw)", 6)} AS log_drift
FROM enriched
"""


def _day_user(ev: DataFrame) -> DataFrame:
    """(day_num, day, user_id) projection shared by the exact and HLL
    engagement twins — integer epoch-days, DST-proof and
    engine-identical. One definition so the 5%-tolerance accuracy test
    between the twins can never be skewed by a projection mismatch."""
    return ev.select(
        F.date_diff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("day_num"),
        F.to_date("ts").alias("day"),
        "user_id",
    )


def _active_users_exact_agg(ev: DataFrame) -> DataFrame:
    """Exact (day, dau, wau, mau) rolling-distinct aggregate shared by
    :func:`events_active_users` and the HLL twin's in-job accuracy
    contract: dedup to (day, user) pairs once, broadcast the tiny day
    spine against them with an integer range predicate, count distinct
    per anchor day."""
    pairs = _day_user(ev).distinct()
    spine = pairs.select("day_num", "day").distinct()
    joined = pairs.alias("p").join(
        F.broadcast(spine.alias("s")),
        (F.col("p.day_num") <= F.col("s.day_num"))
        & (F.col("p.day_num") > F.col("s.day_num") - 30),
    )
    return joined.groupBy(F.col("s.day").alias("day")).agg(
        F.countDistinct(
            F.when(F.col("p.day_num") == F.col("s.day_num"), F.col("p.user_id"))
        ).alias("dau"),
        F.countDistinct(
            F.when(
                F.col("p.day_num") > F.col("s.day_num") - 7, F.col("p.user_id")
            )
        ).alias("wau"),
        F.countDistinct("p.user_id").alias("mau"),
    )


def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling engagement: per calendar day, DAU plus trailing-7-day
    WAU and trailing-30-day MAU (windows inclusive of the day) and the
    DAU/MAU stickiness ratio — the product-health headline metric.

    Rolling DISTINCT counts don't merge like sums, so the exact shape
    is: dedup the log to (day, user) pairs once, broadcast-join the
    (tiny) day spine against the pairs with an integer range predicate,
    and count distinct per anchor day — cost = spine × pairs, the
    honest exact form. At 100 TB the standard swap is a per-day HLL
    sketch union (mergeable, one pass) — registered as
    :func:`events_active_users_hll`; this exact form stays as the
    oracle-checkable spec. Day arithmetic is integer epoch-days —
    DST-proof and engine-identical."""
    from datapipeline_gcp_spark.determinism import qround

    ev = load_testdata(spark, sf_dir, ("events",))["events"]
    agg = _active_users_exact_agg(ev)
    return agg.select(
        "day",
        "dau",
        "wau",
        "mau",
        qround(
            F.col("dau").cast("double") / F.col("mau").cast("double"), 6
        ).alias("stickiness"),
    )


_ACTIVE_AGG_CTE = """
WITH pairs AS (
  SELECT DISTINCT
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
         CAST(ts AS DATE) AS day,
         user_id
  FROM events
),
spine AS (SELECT DISTINCT day_num, day FROM pairs),
joined AS (
  SELECT s.day, s.day_num AS anchor, p.day_num, p.user_id
  FROM pairs p JOIN spine s
    ON p.day_num <= s.day_num AND p.day_num > s.day_num - 30
),
agg AS (
  SELECT day,
    CAST(COUNT(DISTINCT CASE WHEN day_num = anchor THEN user_id END)
         AS BIGINT) AS dau,
    CAST(COUNT(DISTINCT CASE WHEN day_num > anchor - 7 THEN user_id END)
         AS BIGINT) AS wau,
    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
  FROM joined GROUP BY day
)
"""

_ACTIVE_ORACLE = f"""
{_ACTIVE_AGG_CTE}
SELECT day, dau, wau, mau,
  {sql_qround("CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE)", 6)} AS stickiness
FROM agg
"""

#: Registered accuracy contract of the HLL twin: every estimate within
#: 5% relative error of the exact rolling distinct count (default lgK
#: gives ±~2%, so 5% holds with margin; the same bound is pinned
#: numerically by ``tests/test_analytics_scale_variants``).
HLL_REL_TOL = 0.05


def _active_users_hll_estimates(ev: DataFrame) -> DataFrame:
    """(day, dau_est, wau_est, mau_est) — the actual 100 TB execution
    shape of rolling engagement: per-day HyperLogLog sketches of the
    user set, merged over the trailing 7-/30-day windows, estimated
    once.

    Why this is the at-scale shape: the exact query joins the day spine
    against ALL (day, user) pairs — cost spine × pairs, with a 30-way
    re-count of every user row. Sketches are mergeable where DISTINCT
    is not, so here the fact table is touched ONCE (one hash aggregate
    to a per-day sketch, map-side partial merges, Datasketches HLL via
    the built-in ``hll_sketch_agg``), and the rolling windows operate
    on day-cardinality sketch rows (~365/year, a broadcast range join)
    — fact-table cost O(N), window cost O(days²) on tiny rows."""
    day_sketch = (
        _day_user(ev)
        .groupBy("day_num", "day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        # day-cardinality result (~365 rows/year); checkpoint so the
        # spine and the join probe reuse it instead of re-scanning the
        # fact table (same policy as dedup_semantic's prepped corpus —
        # without this the plan scans events twice)
        .localCheckpoint()
    )
    spine = day_sketch.select("day_num", "day")
    joined = day_sketch.alias("p").join(
        F.broadcast(spine.alias("s")),
        (F.col("p.day_num") <= F.col("s.day_num"))
        & (F.col("p.day_num") > F.col("s.day_num") - 30),
    )
    return joined.groupBy(F.col("s.day").alias("day")).agg(
        F.hll_sketch_estimate(
            F.hll_union_agg(
                F.when(F.col("p.day_num") == F.col("s.day_num"), F.col("p.sk"))
            )
        ).alias("dau_est"),
        F.hll_sketch_estimate(
            F.hll_union_agg(
                F.when(
                    F.col("p.day_num") > F.col("s.day_num") - 7, F.col("p.sk")
                )
            )
        ).alias("wau_est"),
        F.hll_sketch_estimate(F.hll_union_agg(F.col("p.sk"))).alias("mau_est"),
    )


def events_active_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB swap of :func:`events_active_users`, registered in the
    gate-provable contract form (VERDICT r4 next-steps #1): run the HLL
    sketch pipeline (:func:`_active_users_hll_estimates` — the shape a
    100 TB deployment would run alone) AND the exact twin in the same
    job, and emit the accuracy contract AS DATA: per day, the exact
    counts plus within-``HLL_REL_TOL`` flags for each estimate and a
    nestedness flag (dau_est ≤ wau_est ≤ mau_est — HLL union only
    raises registers, so estimate ordering is deterministic, not just
    expected).

    The raw estimates are engine-specific and deliberately NOT in the
    output; the contract relation is deterministic and engine-neutral,
    so DuckDB can oracle it directly (exact counts + all-true flags) —
    a wrong sketch pipeline, a broken union, or a drifting estimator
    flips a flag and reds the gate. Tighter numeric bounds stay pinned
    in ``tests/test_analytics_scale_variants``."""
    ev = load_testdata(spark, sf_dir, ("events",))["events"]
    est = _active_users_hll_estimates(ev)
    exact = _active_users_exact_agg(ev)

    def ok(est_col: str, exact_col: str):
        x = F.col(exact_col).cast("double")
        rel = F.abs(F.col(est_col).cast("double") - x) / F.greatest(
            x, F.lit(1.0)
        )
        return (
            F.when(rel <= HLL_REL_TOL, 1).otherwise(0).cast("bigint")
        )

    joined = exact.join(F.broadcast(est), "day")
    return joined.select(
        "day",
        "dau",
        "wau",
        "mau",
        ok("dau_est", "dau").alias("dau_ok"),
        ok("wau_est", "wau").alias("wau_ok"),
        ok("mau_est", "mau").alias("mau_ok"),
        F.when(
            (F.col("dau_est") <= F.col("wau_est"))
            & (F.col("wau_est") <= F.col("mau_est")),
            1,
        )
        .otherwise(0)
        .cast("bigint")
        .alias("nested_ok"),
    )


_ACTIVE_HLL_ORACLE = f"""
{_ACTIVE_AGG_CTE}
SELECT day, dau, wau, mau,
  CAST(1 AS BIGINT) AS dau_ok,
  CAST(1 AS BIGINT) AS wau_ok,
  CAST(1 AS BIGINT) AS mau_ok,
  CAST(1 AS BIGINT) AS nested_ok
FROM agg
"""


def supplier_service_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier service scorecard: per (supplier, nation), shipment
    volume, return rate (``l_returnflag = 'R'``), and discounted
    revenue — the vendor-management KPI the reference's business layer
    pattern (group → derive → ratio) applies to a table it never had.

    Shape: ONE fact aggregation keyed on suppkey (return counts fused
    as a conditional sum — no second scan), then broadcast joins to
    supplier and nation. Revenue multiplies in double per row
    (IEEE-exact) and sums through ``dsum``; the rate is one qround'd
    division of exact counts."""
    from datapipeline_gcp_spark.determinism import qround

    t = load_testdata(spark, sf_dir, ("lineitem", "supplier", "nation"))
    per_supp = t["lineitem"].groupBy("l_suppkey").agg(
        F.count("*").alias("n_lineitems"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("n_returned"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        ),
    )
    out = (
        per_supp.join(
            F.broadcast(
                t["supplier"].select("s_suppkey", "s_name", "s_nationkey")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    )
    return out.select(
        F.col("s_suppkey").alias("supp_key"),
        F.col("s_name").alias("supplier"),
        F.col("n_name").alias("nation"),
        "n_lineitems",
        "n_returned",
        qround(
            F.col("n_returned").cast("double")
            / F.col("n_lineitems").cast("double"),
            6,
        ).alias("return_rate"),
        "revenue",
    )


_SERVICE_ORACLE = f"""
WITH per_supp AS (
  SELECT l_suppkey,
         CAST(COUNT(*) AS BIGINT) AS n_lineitems,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_returned,
         {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
  FROM lineitem GROUP BY l_suppkey
)
SELECT s_suppkey AS supp_key, s_name AS supplier, n_name AS nation,
       n_lineitems, n_returned,
       {sql_qround(
           "CAST(n_returned AS DOUBLE) / CAST(n_lineitems AS DOUBLE)", 6
       )} AS return_rate,
       revenue
FROM per_supp
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
"""


def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap: Jaccard similarity of the distinct-user sets
    behind every pair of event types — the segmentation readout that
    answers "are clickers and purchasers the same people?" without
    materializing user sets anywhere.

    Scale shape: the pair expansion is USER-local
    (`within_block_pairs` on user_id — a user touches at most
    |event types| types, so pairs are ≤ T²/2 per user), then one
    (type, type) aggregation; set sizes ride in via a broadcast of the
    type-cardinality rollup. The user-set intersection is NEVER built
    as a set — it's counted distributively. Exact integers + one
    qround'd division."""
    from datapipeline_gcp_spark.determinism import qround
    from datapipeline_gcp_spark.functions.dedup import within_block_pairs

    ev = load_testdata(spark, sf_dir, ("events",))["events"]
    users = ev.select("event_type", "user_id").distinct()
    sizes = users.groupBy("event_type").agg(F.count("*").alias("n_users"))
    pairs = within_block_pairs(users, ["user_id"], ["event_type"])
    inter = (
        pairs.select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    joined = (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("event_type").alias("type_a"),
                    F.col("n_users").alias("n_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("event_type").alias("type_b"),
                    F.col("n_users").alias("n_b"),
                )
            ),
            "type_b",
        )
    )
    jac = qround(
        F.col("n_both").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double"),
        9,
    )
    return joined.select(
        "type_a", "type_b", "n_a", "n_b", "n_both", jac.alias("jaccard")
    )


_OVERLAP_ORACLE = f"""
WITH users AS (
  SELECT DISTINCT event_type, user_id FROM events
),
sizes AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM users GROUP BY 1
),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM users a JOIN users b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, sa.n_users AS n_a, sb.n_users AS n_b, n_both,
  {sql_qround(
      "CAST(n_both AS DOUBLE)"
      " / CAST(sa.n_users + sb.n_users - n_both AS DOUBLE)", 9
  )} AS jaccard
FROM inter
JOIN sizes sa ON sa.event_type = type_a
JOIN sizes sb ON sb.event_type = type_b
"""


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral Markov chain: per-user event sequences →
    (current, next) transition counts → row-normalized probabilities.
    The model behind next-action prediction, funnel-drop diagnosis, and
    bot detection (bots have near-deterministic rows).

    Shape: one user-keyed window (lead with a (ts, event_id) total
    order — ties are real in event data and must break
    deterministically), one (cur, next) aggregation, and the row
    normalization rides a window over the TYPE-cardinality rollup —
    event-log scale is touched exactly once."""
    from datapipeline_gcp_spark.determinism import qround

    ev = load_testdata(spark, sf_dir, ("events",))["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy("event_type", "next_type").agg(
        F.count("*").alias("n")
    )
    row_total = F.sum("n").over(Window.partitionBy("event_type"))
    return counts.select(
        "event_type",
        "next_type",
        "n",
        qround(F.col("n").cast("double") / row_total.cast("double"), 9).alias(
            "p"
        ),
    )


_MARKOV_ORACLE = f"""
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
counts AS (
  SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
)
SELECT event_type, next_type, n,
  {sql_qround(
      "CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY event_type)"
      " AS DOUBLE)", 9
  )} AS p
FROM counts
"""


def orders_monthly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with month-over-month and year-over-year change —
    the seasonality readout finance teams put on every dashboard (and a
    lag-window composition the reference's monthly SQL rollups stop
    short of).

    The lag windows are GLOBAL but run at MONTH cardinality (the heavy
    lifting is the one ``dsum`` aggregation below them); lag(12)
    is valid because TPC-H order dates populate every month — a gapped
    calendar would need the `events_resample_ffill` grid first, which
    is why that operator exists."""
    from datapipeline_gcp_spark.determinism import qround

    o = load_testdata(spark, sf_dir, ("orders",))["orders"]
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )
    w = Window.orderBy("month")
    # nullif: a zero-revenue month (all-zero prices — possible with
    # free orders in production data, never in the fixture) made both
    # change ratios THROW under ANSI; NULL is DuckDB's double/0, so
    # the oracle is unchanged
    mom = (
        F.col("revenue") / F.nullif(F.lag("revenue", 1).over(w), F.lit(0.0))
        - 1.0
    )
    yoy = (
        F.col("revenue") / F.nullif(F.lag("revenue", 12).over(w), F.lit(0.0))
        - 1.0
    )
    return monthly.select(
        "month",
        "n_orders",
        "revenue",
        qround(mom, 6).alias("mom_change"),
        qround(yoy, 6).alias("yoy_change"),
    )


_SEASONALITY_ORACLE = f"""
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         {sql_dsum('o_totalprice')} AS revenue
  FROM orders GROUP BY 1
)
SELECT month, n_orders, revenue,
  {sql_qround("revenue / lag(revenue, 1) OVER (ORDER BY month) - 1.0", 6)}
    AS mom_change,
  {sql_qround("revenue / lag(revenue, 12) OVER (ORDER BY month) - 1.0", 6)}
    AS yoy_change
FROM monthly
"""


BASKET_MIN_COUNT = 2
BASKET_TOP_K = 100


def parts_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: part pairs co-occurring in the same
    order, ranked by lift ``P(ab)·N / (P(a)·P(b)·N²)`` — the
    co-purchase signal behind recommendations and shelf planning.

    Scale shape: the pair explosion is ORDER-local
    (`within_block_pairs` on the order key — the dedup family's
    candidate generator applied to relational data): baskets are small,
    so pair cardinality is ~(basket size)²·orders, never parts². The
    count/lift math is exact integers with one qround'd division;
    top-k plans as TakeOrderedAndProject (rank by lift with pair-id
    tie-breaks). Pairs below ``BASKET_MIN_COUNT`` support are cut
    before ranking — the standard noise floor."""
    from datapipeline_gcp_spark.determinism import qround
    from datapipeline_gcp_spark.functions.dedup import within_block_pairs

    li = load_testdata(spark, sf_dir, ("lineitem",))["lineitem"]
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    pairs = within_block_pairs(baskets, ["l_orderkey"], ["l_partkey"])
    pair_counts = (
        pairs.select(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_COUNT)
    )
    item_counts = baskets.groupBy("l_partkey").agg(
        F.count("*").alias("n_item")
    )
    n_orders = baskets.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_orders")
    )
    lift = qround(
        F.col("n_ab").cast("double")
        * F.col("n_orders").cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
        9,
    )
    scored = (
        pair_counts.join(
            F.broadcast(
                item_counts.select(
                    F.col("l_partkey").alias("part_a"),
                    F.col("n_item").alias("n_a"),
                )
            ),
            "part_a",
        )
        .join(
            F.broadcast(
                item_counts.select(
                    F.col("l_partkey").alias("part_b"),
                    F.col("n_item").alias("n_b"),
                )
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select("part_a", "part_b", "n_ab", "n_a", "n_b", lift.alias("lift"))
    )
    return scored.orderBy(
        F.col("lift").desc(), "part_a", "part_b"
    ).limit(BASKET_TOP_K)


_BASKET_ORACLE = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pair_counts AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {BASKET_MIN_COUNT}
),
item_counts AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
  FROM baskets GROUP BY 1
),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM baskets),
scored AS (
  SELECT part_a, part_b, n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
    {sql_qround(
        "CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE)"
        " / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE))", 9
    )} AS lift
  FROM pair_counts
  JOIN item_counts ia ON ia.l_partkey = part_a
  JOIN item_counts ib ON ib.l_partkey = part_b
  CROSS JOIN n
)
SELECT * FROM scored
ORDER BY lift DESC, part_a, part_b
LIMIT {BASKET_TOP_K}
"""


def _rfm_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer RFM rollup shared by the ntile and broadcast-cuts
    twins: (o_custkey, r_days vs the corpus max date, n_orders,
    ``dsum`` monetary). One definition so a future change to the
    reference date or the spend aggregation cannot desynchronize the
    twins (their agreement test assumes identical ingredients)."""
    o = load_testdata(spark, sf_dir, ("orders",))["orders"]
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("monetary"),
    )
    ref = o.agg(F.max("o_orderdate").alias("ref_date"))
    return per_cust.crossJoin(F.broadcast(ref)).select(
        "o_custkey",
        F.date_diff(F.col("ref_date"), F.col("last_order"))
        .cast("bigint")
        .alias("r_days"),
        "n_orders",
        "monetary",
    )


#: the SQL twin of :func:`_rfm_base` — shared by both RFM oracles
_RFM_BASE_SQL = f"""per_cust AS (
  SELECT o_custkey,
         MAX(o_orderdate) AS last_order,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         {sql_dsum('o_totalprice')} AS monetary
  FROM orders GROUP BY o_custkey
),
rfm_base AS (
  SELECT o_custkey,
         CAST(date_diff('day', last_order,
              (SELECT MAX(o_orderdate) FROM orders)) AS BIGINT) AS r_days,
         n_orders, monetary
  FROM per_cust
)"""


def customers_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary) — the classic
    customer-scoring rollup the reference's KPI layer stops just short
    of (`b_customer_retention` computes the ingredients; this assigns
    the segments marketing actually consumes).

    Per customer: days since last order (vs the corpus max date —
    data-derived, so the query is reproducible), order count,
    ``dsum`` spend; each metric quintiled with ``ntile(5)`` over a TOTAL
    order (metric + custkey tie-break — without the tie-break ntile is
    partition-order-dependent and hash-unstable), oriented so 5 = best;
    then a rule-based segment label. One aggregation + three window
    passes over the customer-cardinality rollup (NOT the fact table) +
    a 1-row broadcast for the reference date. The quintile windows are
    GLOBAL (single partition) — fine at customer cardinality locally;
    the 100 TB variant — registered as
    :func:`customers_rfm_segments_cuts` — computes the 4 quintile cut
    values with one percentile aggregate and broadcasts them back (no
    global sort), the same two-pass shape as `corpus_ppl_buckets`."""
    base = _rfm_base(spark, sf_dir)
    w_r = Window.orderBy(F.col("r_days").desc(), F.col("o_custkey"))
    w_f = Window.orderBy(F.col("n_orders"), F.col("o_custkey"))
    w_m = Window.orderBy(F.col("monetary"), F.col("o_custkey"))
    scored = base.select(
        "o_custkey",
        "r_days",
        "n_orders",
        "monetary",
        F.ntile(5).over(w_r).cast("bigint").alias("r_q"),
        F.ntile(5).over(w_f).cast("bigint").alias("f_q"),
        F.ntile(5).over(w_m).cast("bigint").alias("m_q"),
    )
    seg = (
        F.when(
            (F.col("r_q") >= 4) & (F.col("f_q") >= 4) & (F.col("m_q") >= 4),
            F.lit("champion"),
        )
        .when((F.col("r_q") <= 2) & (F.col("f_q") >= 4), F.lit("at_risk_loyal"))
        .when((F.col("r_q") >= 4) & (F.col("f_q") <= 2), F.lit("new"))
        .otherwise(F.lit("regular"))
    )
    return scored.select("*", seg.alias("segment"))


_RFM_ORACLE = f"""
WITH {_RFM_BASE_SQL},
scored AS (
  SELECT *,
    CAST(ntile(5) OVER (ORDER BY r_days DESC, o_custkey) AS BIGINT) AS r_q,
    CAST(ntile(5) OVER (ORDER BY n_orders, o_custkey) AS BIGINT) AS f_q,
    CAST(ntile(5) OVER (ORDER BY monetary, o_custkey) AS BIGINT) AS m_q
  FROM rfm_base
)
SELECT *,
  CASE WHEN r_q >= 4 AND f_q >= 4 AND m_q >= 4 THEN 'champion'
       WHEN r_q <= 2 AND f_q >= 4 THEN 'at_risk_loyal'
       WHEN r_q >= 4 AND f_q <= 2 THEN 'new'
       ELSE 'regular' END AS segment
FROM scored
"""


def customers_rfm_segments_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of :func:`customers_rfm_segments` (the swap its
    docstring promises): quintile CUT VALUES computed with one exact
    percentile aggregate per metric and broadcast back, replacing the
    three global single-partition ``ntile`` windows.

    Same two-pass shape as :func:`~..functions.corpus.ppl_buckets`:
    pass 1 computes 12 doubles (4 cuts × 3 metrics, rounded at 6 dp so
    the comparison cannot flip on last-ulp interpolation differences),
    pass 2 assigns quintiles with stateless comparisons — the customer
    rollup never passes through a global sort. Semantics differ from
    ``ntile`` exactly where values tie across a boundary: value-based
    cuts put equal metrics in equal quintiles (arguably more honest for
    marketing segments), while ntile force-splits ties to balance
    bucket sizes. Both variants stay registered; this one is what a
    1000-executor deployment runs. Recency is oriented so 5 = most
    recent, matching the exact variant."""
    base = _rfm_base(spark, sf_dir).withColumn(
        # double + 6dp rounding so cut comparisons are engine-exact
        "monetary", qround(F.col("monetary").cast("double"), 6)
    )
    probs = F.lit([0.2, 0.4, 0.6, 0.8])
    cuts = base.agg(
        *[
            qround(F.percentile(metric, probs)[i], 6).alias(f"{metric[0]}c{i}")
            for metric in ("r_days", "n_orders", "monetary")
            for i in range(4)
        ]
    )

    def quint(col: str, prefix: str, invert: bool):
        above = sum(
            (F.col(col) > F.col(f"{prefix}c{i}")).cast("bigint") for i in range(4)
        )
        return (F.lit(5) - above if invert else F.lit(1) + above).cast("bigint")

    scored = base.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        "r_days",
        "n_orders",
        "monetary",
        # large r_days = stale customer = LOW recency score
        quint("r_days", "r", invert=True).alias("r_q"),
        quint("n_orders", "n", invert=False).alias("f_q"),
        quint("monetary", "m", invert=False).alias("m_q"),
    )
    seg = (
        F.when(
            (F.col("r_q") >= 4) & (F.col("f_q") >= 4) & (F.col("m_q") >= 4),
            F.lit("champion"),
        )
        .when((F.col("r_q") <= 2) & (F.col("f_q") >= 4), F.lit("at_risk_loyal"))
        .when((F.col("r_q") >= 4) & (F.col("f_q") <= 2), F.lit("new"))
        .otherwise(F.lit("regular"))
    )
    return scored.select("*", seg.alias("segment"))


def _rfm_cuts_sql_quint(col: str, cuts: list[str], invert: bool) -> str:
    above = " + ".join(
        f"CAST({col} > {c} AS BIGINT)" for c in cuts
    )
    return f"CAST({'5 - ' if invert else '1 + '}({above}) AS BIGINT)"


_RFM_CUTS_ORACLE = f"""
WITH {_RFM_BASE_SQL},
base AS (
  SELECT o_custkey, r_days, n_orders,
         {sql_qround('CAST(monetary AS DOUBLE)', 6)} AS monetary
  FROM rfm_base
),
cuts AS (
  SELECT
    {", ".join(
        f"{sql_qround(f'quantile_cont({m}, {p!r})', 6)} AS {m[0]}c{i}"
        for m in ("r_days", "n_orders", "monetary")
        for i, p in enumerate((0.2, 0.4, 0.6, 0.8))
    )}
  FROM base
),
scored AS (
  SELECT o_custkey, r_days, n_orders, monetary,
    {_rfm_cuts_sql_quint('r_days', ['rc0', 'rc1', 'rc2', 'rc3'], True)} AS r_q,
    {_rfm_cuts_sql_quint('n_orders', ['nc0', 'nc1', 'nc2', 'nc3'], False)} AS f_q,
    {_rfm_cuts_sql_quint('monetary', ['mc0', 'mc1', 'mc2', 'mc3'], False)} AS m_q
  FROM base, cuts
)
SELECT *,
  CASE WHEN r_q >= 4 AND f_q >= 4 AND m_q >= 4 THEN 'champion'
       WHEN r_q <= 2 AND f_q >= 4 THEN 'at_risk_loyal'
       WHEN r_q >= 4 AND f_q <= 2 THEN 'new'
       ELSE 'regular' END AS segment
FROM scored
"""


ANOM_LOOKBACK = 24  # trailing hours in the baseline window
ANOM_MIN_POINTS = 12  # don't score until the baseline has this many hours
ANOM_Z = 3.0


def events_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection on the event stream: per (type, hour),
    z-score the hourly count against the trailing 24 ACTIVE hours and
    flag |z| > 3 — the ingest-monitoring twin of `events_gap_detection`
    (gaps find silence; this finds surges and partial outages).

    Determinism is engineered, not hoped for: hourly counts are
    integers, and the trailing mean/variance come from exact BIGINT
    Σcnt and Σcnt² over a RANGE frame keyed on the integer epoch-hour
    (a ROWS frame would silently mis-window over missing hours), so
    both engines compute identical doubles; the z-score is qround'd
    before the flag comparison. Population variance (the monitoring
    convention), guarded to NULL when the baseline is flat or short.

    Scale: one pre-aggregation to (type, hour) — metadata-cardinality —
    then a per-type window; the event log is scanned once."""
    from datapipeline_gcp_spark.determinism import qround

    ev = load_testdata(spark, sf_dir, ("events",))["events"]
    hourly = (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "hnum",
            (F.timestamp_diff("HOUR", F.lit("1970-01-01 00:00:00").cast(
                "timestamp_ntz"
            ), F.col("h").cast("timestamp_ntz"))).cast("long"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hnum")
        .rangeBetween(-ANOM_LOOKBACK, -1)
    )
    stats = hourly.select(
        "event_type",
        "h",
        "cnt",
        F.count("cnt").over(w).alias("n_base"),
        F.sum("cnt").over(w).alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w).alias("s2"),
    )
    n = F.col("n_base").cast("double")
    mean = F.col("s1").cast("double") / n
    var = F.col("s2").cast("double") / n - mean * mean
    z = qround((F.col("cnt").cast("double") - mean) / F.sqrt(var), 6)
    scored = stats.filter(F.col("n_base") >= ANOM_MIN_POINTS).select(
        "event_type",
        F.col("h").alias("hour"),
        "cnt",
        qround(mean, 6).alias("baseline_mean"),
        F.when(var > 0, z).alias("z"),
        F.when(var > 0, F.abs(z) > ANOM_Z).otherwise(F.lit(False)).alias(
            "is_anomaly"
        ),
    )
    return scored


_ANOMALY_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         epoch(date_trunc('hour', ts)) // 3600 AS hnum
  FROM events GROUP BY 1, 2, 4
),
stats AS (
  SELECT event_type, h, cnt,
    COUNT(cnt) OVER w AS n_base,
    SUM(cnt) OVER w AS s1,
    SUM(cnt * cnt) OVER w AS s2
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hnum
               RANGE BETWEEN {ANOM_LOOKBACK} PRECEDING AND 1 PRECEDING)
),
scored AS (
  SELECT event_type, h AS hour, cnt,
    CAST(n_base AS DOUBLE) AS n,
    CAST(s1 AS DOUBLE) / CAST(n_base AS DOUBLE) AS mean,
    CAST(s2 AS DOUBLE) / CAST(n_base AS DOUBLE)
      - (CAST(s1 AS DOUBLE) / CAST(n_base AS DOUBLE))
        * (CAST(s1 AS DOUBLE) / CAST(n_base AS DOUBLE)) AS var
  FROM stats WHERE n_base >= {ANOM_MIN_POINTS}
)
SELECT event_type, hour, cnt,
  {sql_qround("mean", 6)} AS baseline_mean,
  CASE WHEN var > 0
       THEN {sql_qround("(CAST(cnt AS DOUBLE) - mean) / sqrt(var)", 6)}
  END AS z,
  CASE WHEN var > 0
       THEN abs({sql_qround("(CAST(cnt AS DOUBLE) - mean) / sqrt(var)", 6)})
              > {ANOM_Z}
       ELSE FALSE END AS is_anomaly
FROM scored
"""


QUERIES = {
    "events_conversion_latency": events_conversion_latency,
    "orders_priority_drift": orders_priority_drift,
    "events_active_users": events_active_users,
    "events_active_users_hll": events_active_users_hll,
    "supplier_service_quality": supplier_service_quality,
    "events_audience_overlap": events_audience_overlap,
    "events_markov_transitions": events_markov_transitions,
    "orders_monthly_seasonality": orders_monthly_seasonality,
    "parts_basket_affinity": parts_basket_affinity,
    "customers_rfm_segments": customers_rfm_segments,
    "customers_rfm_segments_cuts": customers_rfm_segments_cuts,
    "events_anomaly_hours": events_anomaly_hours,
    "events_gap_detection": events_gap_detection,
    "events_cohort_retention": events_cohort_retention,
    "events_attribution": events_attribution,
    "events_sessionize": events_sessionize,
    "rolling_window_revenue": rolling_window_revenue,
    "events_percentiles": events_percentiles,
    "events_percentiles_approx": events_percentiles_approx,
    "events_histogram": events_histogram,
    "rollup_agg": rollup_agg,
    "cube_agg": cube_agg,
    "grouping_sets_agg": grouping_sets_agg,
    "pivot_agg": pivot_agg,
    "unpivot_measures": unpivot_measures,
    "window_analytics": window_analytics,
    "events_funnel": events_funnel,
    "events_resample_ffill": events_resample_ffill,
}

ORACLES = {
    "events_gap_detection": _GAP_ORACLE,
    "events_anomaly_hours": _ANOMALY_ORACLE,
    "customers_rfm_segments": _RFM_ORACLE,
    "customers_rfm_segments_cuts": _RFM_CUTS_ORACLE,
    # r5: both sketch twins emit their accuracy contract as data, so
    # they now carry real oracles (exact counts + all-true flags).
    "events_active_users_hll": _ACTIVE_HLL_ORACLE,
    "events_percentiles_approx": _PCT_APPROX_ORACLE,
    "parts_basket_affinity": _BASKET_ORACLE,
    "events_markov_transitions": _MARKOV_ORACLE,
    "events_audience_overlap": _OVERLAP_ORACLE,
    "supplier_service_quality": _SERVICE_ORACLE,
    "events_active_users": _ACTIVE_ORACLE,
    "orders_priority_drift": _DRIFT_ORACLE,
    "events_conversion_latency": _CONV_LATENCY_ORACLE,
    "orders_monthly_seasonality": _SEASONALITY_ORACLE,
    "events_cohort_retention": _COHORT_ORACLE,
    "events_attribution": _ATTRIBUTION_ORACLE,
    "events_funnel": _FUNNEL_ORACLE,
    "events_resample_ffill": _RESAMPLE_ORACLE,
    "events_sessionize": _SESSIONIZE_ORACLE,
    "rolling_window_revenue": _ROLLING_ORACLE,
    "events_percentiles": _PERCENTILE_ORACLE,
    "events_histogram": _HISTOGRAM_ORACLE,
    "rollup_agg": _ROLLUP_ORACLE,
    "cube_agg": _CUBE_ORACLE,
    "grouping_sets_agg": _GROUPING_SETS_SQL,
    "pivot_agg": _PIVOT_ORACLE,
    "unpivot_measures": _UNPIVOT_ORACLE,
    "window_analytics": _WINDOW_ORACLE,
}
