"""Deterministic numeric aggregation helpers.

Floating-point SUM/AVG is order-dependent; after a shuffle join the
partial-aggregation order differs run-to-run and engine-to-engine (we
measured ~1e-16 relative drift vs a DuckDB oracle on sf0.01). To make
aggregate VALUES exactly reproducible — bitwise, across engines and
across partitionings — money-like measures are summed as integers:
each row contributes its value rounded to 4 decimal places as an
UNSCALED 64-bit long (x·10^4), and only the per-group total is rescaled
and cast back to DOUBLE. On the money domain (documented below) that is
value-identical to the decimal reference the oracles spell:

    SUM(x)  ->  CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)
    AVG(x)  ->  CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) / COUNT(x)

Integer addition is associative and commutative, so the result is
independent of row order and of the partial/final aggregation split —
the same number comes out on 1 partition or 10,000. The external type
stays DOUBLE so downstream schemas are unchanged. Data outside the
domain fails the query loudly instead of summing to a wrong value.

This matters at scale beyond testing: deterministic aggregates make
reruns/backfills byte-identical, so downstream diffing and caching work.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Scale 4 preserves 2-decimal money exactly and tolerates derived
# values (price * (1 - discount)) to 4 places.
_DECIMAL = "DECIMAL(18,4)"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dec(c: Column | str) -> Column:
    """Cast a double measure to the decimal reference type (what the
    oracles and the parity proof compare :func:`money_unscaled` with)."""
    return _col(c).cast(_DECIMAL)


#: r8 nanvalues boundary — the MEASURE twin of similarity.finite_vectors:
#: an IEEE NaN measurement is a corrupt reading and becomes NULL (absent)
#: at the load projection of every events-measure query, which the whole
#: NULL-skipping aggregate surface then handles identically in both
#: engines. Applied per-query (not inside dsum) so the boundary is
#: visible in each query's plan and oracle string.
def nan_to_null(c: Column | str) -> Column:
    return F.nanvl(_col(c), F.lit(None).cast("double"))


#: oracle twin: DuckDB `SELECT * REPLACE` keeps every other column
SQL_EVENTS_NANSAFE = (
    "(SELECT * REPLACE (CASE WHEN isnan(value) THEN NULL ELSE value END"
    " AS value) FROM events)"
)


# --- money aggregation: unscaled longs -----------------------------------
#
# SUM over DECIMAL(18,4) widens to DECIMAL(28,4), past Spark's compact
# long-backed decimals, so each row would pay a Double.toString ->
# BigDecimal parse, a HALF_UP rescale and a non-compact BigDecimal add.
# For money-domain inputs the identical value is reachable without any
# BigDecimal: accumulate the UNSCALED value (x·10^4) as a plain long and
# rescale once per group through an exact decimal division. This is the
# only Spark-side money sum; the decimal spelling lives on only in the
# oracle strings (sql_dsum/sql_davg/sql_dsum_diff) it is proven against.
#
# Parity proof (committed: tools/check_money_parity.py sweep over every
# consumed (table, expression) at sf0.001/0.01/0.1 + the degenerate
# fixtures, in both engines; summarized in OPTIMIZATION_r14.md):
#
# - Domain: x is the nearest double to a value v whose decimal expansion
#   terminates within 4 fractional digits (money and money products),
#   |v| <= 1e11. Then k := v·10^4 is an integer and the computed
#   p = fl(fl(x·10^4) + 0.5) lies within |k|·3.5e-16 + eps of k + 0.5,
#   which is < 0.5 away for |k| < 1.4e15 — so FLOOR(p) == k exactly, and
#   k is also what BigDecimal HALF_UP (Spark) and binary rounding
#   (DuckDB) produce. Ties cannot occur (a ≤4-digit v has no 5th digit).
# - NULL/NaN/±inf map to NULL, as the decimal cast does even under ANSI
#   (they fail the range predicate and the finiteness test behind it).
#   A finite x with |x·10^4| >= 1e18 overflows DECIMAL(18,4), where the
#   ANSI cast raises NUMERIC_VALUE_OUT_OF_RANGE; money_unscaled raises
#   MONEY_DOMAIN_ERROR instead (double granularity at 1e18 is 128, so no
#   boundary leak). The in-range row pays only the range comparison.
# - Finisher: SUM(long) -> DECIMAL(38,4) -> /10000 is one HALF_UP
#   decimal division per GROUP (exact: the quotient has <=4 fractional
#   digits <= the result scale), then one correctly-rounded cast to
#   DOUBLE — the same single rounding CAST(SUM(decimal) AS DOUBLE)
#   performs, valid beyond 2^53 where a double-divide would round twice.
# - Long-overflow bound: per-group |sum| <= 9.2e18 unscaled = 9.2e14
#   currency units. At 100 TB TPC-H (SF ~1e5) the largest headline group
#   (country x date) sums ~1.9e12 units — 480x inside the bound. Past it,
#   SUM(BIGINT) and long products raise ARITHMETIC_OVERFLOW under ANSI
#   mode (the Spark 4 default), so nothing wraps silently.
# ---------------------------------------------------------------------------

#: raise_error text for a finite value beyond DECIMAL(18,4); ``%s`` is
#: the offending value. Shared by the Column and SQL spellings.
MONEY_DOMAIN_ERROR = (
    "money domain violated: %s is outside DECIMAL(18,4) (|x * 1e4| < 1e18)"
)


def money_unscaled(c: Column | str) -> Column:
    """BIGINT unscaled value of ``CAST(c AS DECIMAL(18,4))`` for
    money-domain doubles: ``FLOOR(x·10^4 + 0.5)``. NULL, NaN and ±inf map
    to NULL like the decimal cast; a finite value beyond ±10^18 unscaled
    raises :data:`MONEY_DOMAIN_ERROR`. See the domain/parity notes above."""
    x = _col(c)
    p = x * F.lit(1e4) + F.lit(0.5)
    return F.when((p > F.lit(-1e18)) & (p < F.lit(1e18)), F.floor(p)).when(
        F.abs(p) < F.lit(float("inf")),
        F.raise_error(F.format_string(MONEY_DOMAIN_ERROR, x)),
    )


def money_total(s: Column) -> Column:
    """Exact DOUBLE of an unscaled-long sum: one decimal division per
    group keeps the single correctly-rounded S/10^4 even when |S| > 2^53
    (a double divide would round twice)."""
    return (s.cast("decimal(38,4)") / F.lit(10000)).cast("double")


def dsum(c: Column | str) -> Column:
    """Order-independent SUM for double measures: unscaled-long
    accumulation, bit-equal to the DECIMAL(18,4) sum on the money domain
    (see above), DOUBLE externally."""
    return money_total(F.sum(money_unscaled(c)))


# --- SQL-side mirrors (for oracle strings and spark.sql text) -------------


def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS {_DECIMAL})) AS DOUBLE)"


def sql_dsum_fast(expr: str) -> str:
    """Spark-dialect SQL spelling of :func:`dsum` — value-identical to
    :func:`sql_dsum` on the money domain and raising outside it, like
    :func:`money_unscaled` (oracle strings keep the decimal form).
    FLOOR on DOUBLE already returns BIGINT in Spark SQL."""
    p = f"({expr}) * 1e4 + 0.5"
    return (
        f"CAST(CAST(SUM(CASE WHEN {p} > -1e18 AND {p} < 1e18 THEN FLOOR({p}) "
        f"WHEN abs({p}) < double('inf') THEN raise_error(format_string("
        f"'{MONEY_DOMAIN_ERROR}', {expr})) END) AS DECIMAL(38,4)) / 10000 "
        "AS DOUBLE)"
    )


def sql_davg(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS {_DECIMAL})) AS DOUBLE) / COUNT({expr})"


def qround(c: Column | str, digits: int) -> Column:
    """Cross-engine-safe rounding of a double to ``digits`` decimals:
    ``floor(x·10^d + 0.5) / 10^d`` — every step is an IEEE operation
    with one correctly-rounded result, so Spark and DuckDB produce the
    SAME double for the same input, always.

    ``F.round`` is NOT safe as a cross-engine equalizer: Spark rounds
    the shortest decimal representation (``BigDecimal`` HALF_UP via
    ``Double.toString``) while DuckDB rounds the binary value — for
    doubles whose shortest repr ends at the tie digit (0.285 at 2 dp:
    Spark 0.29, DuckDB 0.28) the engines disagree even on bit-identical
    inputs. Use this for any rounded float the oracle gate compares.
    Halves round toward +inf (same formula both engines — symmetric by
    construction, not by convention). Inputs must satisfy
    |x|·10^d < 2^53 (all current uses are ≪ that)."""
    p = float(10**digits)
    return F.floor(_col(c) * p + F.lit(0.5)) / p


def sql_qround(expr: str, digits: int) -> str:
    """DuckDB/ANSI mirror of :func:`qround` — textually the same
    arithmetic, so the doubles match bitwise. The scale is written as an
    exponent literal (``1e6``) because a plain ``1000000.0`` parses as
    DECIMAL in Spark SQL (decimal contagion would change the output
    type); ``1eN`` is DOUBLE in both dialects."""
    return f"(floor(({expr}) * 1e{digits} + 0.5) / 1e{digits})"


def sql_dsum_diff(left: str, right: str) -> str:
    """SUM(left - right) with exact internal arithmetic."""
    return (
        f"CAST(SUM(CAST({left} AS {_DECIMAL}) - CAST({right} AS {_DECIMAL}))"
        " AS DOUBLE)"
    )
