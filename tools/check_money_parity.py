"""Rounding-parity proof sweep for the engine's unscaled-long money sums.

The engine's money sum (determinism.money_unscaled) computes

    FLOOR(x * 1e4 + 0.5)              -- pure double/long codegen

per row where the decimal reference the oracles spell computes

    CAST(x AS DECIMAL(18,4))          -- Double.toString -> BigDecimal
                                      --   .setScale(4, HALF_UP)

The two agree whenever x is a "money-domain" double: the nearest double
to a value whose decimal expansion terminates within 4 fractional
digits, with |x| <= ~1e11 (see determinism.py for the error bound).
This sweep *proves the data parity* exhaustively: for every (table,
expression) that any dsum call site, business weighted sum or window
money sum feeds, it counts rows where

    CAST(CAST(x AS DECIMAL(18,4)) * 10000 AS BIGINT)   -- decimal cast
is not null-safe-equal to
    money_unscaled(x)                                   -- engine form

in BOTH Spark and DuckDB, over every SF dir given (plus the degenerate
fixture variants when present). Exit 0 iff zero mismatches everywhere.
A value outside DECIMAL(18,4) makes both Spark forms raise, which stops
the sweep loudly rather than counting it.

Usage: python tools/check_money_parity.py [sf_dir ...]
       (default: /root/testdata/sf0.001 sf0.01 sf0.1 + /tmp/degenerate/*)
"""

import glob
import os
import sys

import duckdb
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datapipeline_gcp_spark.determinism import dec, money_unscaled  # noqa: E402

#: every (table, SQL expression) a money sum consumes anywhere in the
#: engine (dsum call sites, business weighted sums, the window
#: running/rolling sums).
EXPRS = [
    ("orders", "o_totalprice"),
    ("orders", "o_totalprice * 0.1"),          # relational.commission
    ("customer", "c_acctbal"),
    ("supplier", "s_acctbal"),
    ("part", "p_retailprice"),
    ("lineitem", "l_quantity"),
    ("lineitem", "l_extendedprice"),
    ("lineitem", "l_discount"),
    ("lineitem", "l_extendedprice * (1 - l_discount)"),  # revenue (4 dp)
    ("events", "value"),
]


def main(dirs):
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("money-parity")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    bad = 0
    checked = 0
    for d in dirs:
        for table, expr in EXPRS:
            p = os.path.join(d, f"{table}.parquet")
            if not os.path.exists(p):
                continue
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            # --- Spark: decimal-cast unscaled vs engine form, null-safe ---
            df = spark.read.parquet(p)
            x = F.expr(expr)
            dec_u = (dec(x) * F.lit(10000)).cast("long")
            n_spark = df.where(~dec_u.eqNullSafe(money_unscaled(x))).count()
            n_rows = df.count()
            # --- DuckDB: same comparison (oracle-side cast semantics).
            # NaN is nulled FIRST, exactly like the oracles' nansafe
            # boundary (determinism.SQL_EVENTS_NANSAFE): DuckDB 1.0
            # raises even on TRY_CAST(NaN AS DECIMAL), so a NaN measure
            # never legally reaches a decimal cast in any oracle. ---
            e = f"(CASE WHEN isnan({expr}) THEN NULL ELSE ({expr}) END)"
            n_duck = con.execute(
                f"""
                SELECT count(*) FROM read_parquet('{src}') WHERE NOT (
                  CAST(TRY_CAST({e} AS DECIMAL(18,4)) * 10000 AS BIGINT)
                  IS NOT DISTINCT FROM
                  CASE WHEN {e} * 1e4 + 0.5 > -1e18
                        AND {e} * 1e4 + 0.5 <  1e18
                       THEN TRY_CAST(floor({e} * 1e4 + 0.5) AS BIGINT)
                  END
                )
                """
            ).fetchone()[0]
            checked += 1
            flag = "" if n_spark == 0 and n_duck == 0 else "  <-- MISMATCH"
            print(
                f"{d} {table}.{expr}: rows={n_rows} "
                f"spark_mismatch={n_spark} duckdb_mismatch={n_duck}{flag}"
            )
            bad += n_spark + n_duck
    print(f"\n{checked} (dir, expr) pairs checked; total mismatches: {bad}")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    dirs = sys.argv[1:] or (
        [f"/root/testdata/sf{s}" for s in ("0.001", "0.01", "0.1")]
        + sorted(glob.glob("/tmp/degenerate/*"))
    )
    main([d for d in dirs if os.path.isdir(d)])
