"""DuckDB comparisons for the benchmark's correctness checks.

A Spark result is handed over as an Arrow table and compared with the
oracle SQL's rows as a multiset (``EXCEPT ALL`` both ways, plus row
counts and column sets). Values compare exactly: the engine's aggregates
are bitwise-deterministic, so no float tolerance is needed.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # Spark writes instants in UTC; cast them to dates in UTC as well.
    con.execute("SET TimeZone = 'UTC'")
    return con


def register_parquet_views(con, data_dir: str, tables) -> None:
    for name in tables:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{data_dir}/{name}.parquet')"
        )


def mismatch(con, name: str, got: pa.Table, oracle_sql: str) -> str | None:
    """None when ``got`` equals the oracle's rows, else a one-line reason."""
    con.register("_got", got)
    try:
        con.execute(f"CREATE OR REPLACE TEMP TABLE _want AS {oracle_sql}")
        want_cols = [r[0] for r in con.execute("DESCRIBE _want").fetchall()]
        if sorted(want_cols) != sorted(got.column_names):
            return f"{name}: columns {sorted(got.column_names)} != {sorted(want_cols)}"
        n_want = con.execute("SELECT count(*) FROM _want").fetchone()[0]
        if n_want != got.num_rows:
            return f"{name}: {got.num_rows} rows, oracle has {n_want}"
        cols = ", ".join(f'"{c}"' for c in sorted(want_cols))
        for a, b in (("_got", "_want"), ("_want", "_got")):
            n = con.execute(
                f"SELECT count(*) FROM (SELECT {cols} FROM {a} "
                f"EXCEPT ALL SELECT {cols} FROM {b})"
            ).fetchone()[0]
            if n:
                return f"{name}: {n} rows of {a[1:]} missing from {b[1:]}"
        return None
    finally:
        con.unregister("_got")
        con.execute("DROP TABLE IF EXISTS _want")
