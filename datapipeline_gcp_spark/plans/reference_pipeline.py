"""The reference pipeline, end-to-end (SURVEY.md §3.1), Spark-native.

Reproduces the ``datapipeline_gcp`` DAG shape with canonical names
(SURVEY §1.5): three concurrent ingestion groups (CSV, TSV, database
snapshot) → sense → load raw → archive → master join → five concurrent
business aggregates. Local filesystem plays GCS; the Spark catalog plays
BigQuery; the ``plans.runner`` plays Composer.

Differences from the reference, all deliberate and documented:

- Path scheme unified to ``{landing}/{fmt}/{table}_{date}_{hex}.{ext}``
  → ``{archive}/`` (the reference mixes ``ingested/local``/
  ``ingested/csv``/``loaded`` inconsistently, SURVEY §1.5.5).
- All five business tables are wired (the reference DAG executes only
  two; the other three exist as SQL files, SURVEY §3.1 step 6).
- Raw tables carry a ``load_date`` partition column and master/business
  carry a ``dt``/their ``date`` partition — the physical-layout policy
  BigQuery hid from the reference; at 100 TB this is what makes
  per-run processing and date-filtered queries prune instead of scan.
- ``mode="append"`` reproduces the reference's WRITE_APPEND semantics
  (reruns double rows — documented behavior); ``mode="overwrite_run"``
  is the idempotent variant: dynamic partition overwrite keyed on
  ``load_date``/``dt``, so re-running one run date replaces exactly that
  run's partitions.
"""

from __future__ import annotations

import glob as globlib

from pyspark.sql import functions as F

from datapipeline_gcp_spark import schemas, sinks
from datapipeline_gcp_spark.operators import business as biz
from datapipeline_gcp_spark.operators.master import master_join
from datapipeline_gcp_spark.plans.runner import Context, Pipeline
from datapipeline_gcp_spark.sources import generators as gen
from datapipeline_gcp_spark.sources import readers


def _landed(pattern: str) -> list[str]:
    """The sorted landing files matching *pattern*. Spark gets the file
    list, not the glob: a glob path makes it look for a streaming-sink
    metadata directory under a path that does not exist, and log a WARN
    with a FileNotFoundException stack trace on every load."""
    files = sorted(globlib.glob(pattern))
    if not files:
        raise FileNotFoundError(f"no landing file matches {pattern}")
    return files


def _load_raw(ctx: Context, fmt: str, table: str, schema, landing_dir: str, mode: str):
    """Read one (table, format) landing glob and land it in raw_layer."""
    files = _landed(f"{landing_dir}/{fmt}/{table}_{ctx.run_date}_*.{fmt}")
    df = (
        readers.read_landing(ctx.spark, files, schema, fmt)
        .withColumn("load_date", F.lit(ctx.run_date))
        # src_format keeps the CSV and TXT loads of the same run date on
        # disjoint partitions: in overwrite_run mode each format replaces
        # only its own prior rows instead of racing the other load for
        # the (run_date) partition (last-writer-wins was nondeterministic
        # under the concurrent ingestion groups).
        .withColumn("src_format", F.lit(fmt))
    )
    target = f"raw_layer.r_{table}"
    if mode == "overwrite_run":
        sinks.overwrite_partitions(df, target, ["load_date", "src_format"])
    else:
        sinks.append_table(df, target, partition_by=["load_date", "src_format"])


def build_reference_pipeline(
    landing_dir: str,
    archive_dir: str,
    mode: str = "append",
    sizes: dict | None = None,
    retries: int = 1,
    retry_delay_s: float = 0.0,
) -> Pipeline:
    """Assemble the full DAG. ``sizes`` tunes generator row counts
    (default mirrors the reference's 500-1000 rows/call)."""
    sz = {"campaigns": 750, "transactions": 750, "slots": 200, **(sizes or {})}
    p = Pipeline("datapipeline_gcp", max_parallelism=6)
    kw = {"retries": retries, "retry_delay_s": retry_delay_s}

    p.step("start")
    p.step("ensure_layers", lambda c: sinks.ensure_layers(c.spark), deps=["start"], **kw)

    # --- ingestion groups (reference: api_local / api_global / database_sql
    # TaskGroups run concurrently, datapipeline_gcp.py:449) ---------------
    def ingest(table: str, fmt: str, n_key: str, seed_off: int):
        def _run(c: Context):
            if table == "campaigns":
                df = gen.gen_campaigns(c.spark, sz[n_key], sz["slots"], seed=42 + seed_off)
            else:
                df = gen.gen_transactions(c.spark, sz[n_key], sz["slots"], seed=42 + seed_off)
            gen.write_landing_file(df, landing_dir, table, fmt, c.run_date)

        return _run

    for grp, fmt, seed_off in (("api_local", "csv", 0), ("api_global", "txt", 1)):
        for table in ("campaigns", "transactions"):
            ing = p.step(f"ingest_{table}_{fmt}", ingest(table, fmt, table, seed_off),
                         deps=["ensure_layers"], group=grp, **kw)
            sense = p.step(
                f"sense_{table}_{fmt}",
                lambda c, t=table, f=fmt: readers.sense_files(
                    f"{landing_dir}/{f}/{t}_{c.run_date}_*.{f}", timeout_s=15
                )
                or (_ for _ in ()).throw(FileNotFoundError(f"{t}.{f} never landed")),
                deps=[ing],
                group=grp,
                **kw,
            )
            p.step(
                f"load_{table}_{fmt}",
                lambda c, t=table, f=fmt: _load_raw(
                    c, f, t, schemas.TYPED[f"r_{t}"], landing_dir, mode
                ),
                deps=[sense],
                group=grp,
                **kw,
            )

    # database_sql group: the Cloud SQL export → snapshot-CSV → load path
    # (sales derives from the CSV transactions batch, FK-aligned).
    def export_sales(c: Context):
        tranx = readers.read_landing(
            c.spark,
            _landed(f"{landing_dir}/csv/transactions_{c.run_date}_*.csv"),
            schemas.TRANSACTIONS,
            "csv",
        )
        sales = gen.gen_sales(c.spark, tranx)
        gen.write_landing_file(sales, landing_dir, "sales", "csv", c.run_date)

    exp = p.step(
        "export_sales", export_sales,
        deps=["api_local.load_transactions_csv"], group="database_sql", **kw
    )
    load_sales = p.step(
        "load_sales",
        lambda c: _load_raw(c, "csv", "sales", schemas.SALES, landing_dir, mode),
        deps=[exp],
        group="database_sql",
        **kw,
    )

    # --- archive after every load that reads the landing dir -------------
    arch = p.step(
        "archive_landing",
        lambda c: [
            sinks.archive_files(f"{landing_dir}/{f}/*_{c.run_date}_*.{f}", archive_dir)
            for f in ("csv", "txt")
        ],
        deps=[
            "api_local.load_campaigns_csv",
            "api_local.load_transactions_csv",
            "api_global.load_campaigns_txt",
            "api_global.load_transactions_txt",
            load_sales,
        ],
        **kw,
    )

    # --- master join (J1+J2) → m_data_model ------------------------------
    def master(c: Context):
        raw = {
            t: c.spark.table(f"raw_layer.r_{t}").drop("load_date", "src_format")
            for t in ("campaigns", "transactions", "sales")
        }
        m = master_join(raw["campaigns"], raw["transactions"], raw["sales"])
        m = m.withColumn("dt", F.to_date("transaction_datetime"))
        if mode == "overwrite_run":
            sinks.overwrite_partitions(m, "master_layer.m_data_model", ["dt"])
        else:
            sinks.append_table(m, "master_layer.m_data_model", partition_by=["dt"])

    mst = p.step("build_master", master, deps=[arch], **kw)

    # --- five business aggregates, concurrent (reference wires two;
    # all five are part of the declared surface) --------------------------
    def business(name: str):
        def _run(c: Context):
            m = c.spark.table("master_layer.m_data_model").drop("dt")
            out = biz.BUILDERS[name](m)
            target = f"business_layer.{name}"
            if mode == "overwrite_run":
                out.write.mode("overwrite").saveAsTable(target)
            else:
                sinks.append_table(out, target)

        return _run

    biz_steps = [
        p.step(name, business(name), deps=[mst], group="business", **kw)
        for name in biz.BUILDERS
    ]
    p.step("end", deps=biz_steps)
    return p
