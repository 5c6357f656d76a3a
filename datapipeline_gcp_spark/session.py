"""SparkSession factory.

The reference delegates all execution to BigQuery / an ephemeral Dataproc
cluster (reference ``cloud_composer/datapipeline_gcp.py:64-83``); here the
SparkSession *is* the engine. Defaults are chosen for correctness first
(UTC session time zone so timestamp semantics match an external oracle)
and scale second (AQE + skew-join handling on — the reference's generator
emits a single hot country key, ``cloud_function/create_campaigns/csv/
main.py:29``, so skew handling is a first-class concern at scale).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(
    app_name: str = "datapipeline_gcp_spark",
    master: str | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Parameters
    ----------
    master:
        Cluster master; defaults to ``local[$SPARK_GRAFT_CPUS]``, and to
        one thread per CPU this process may run on when the variable is
        unset. On a real cluster pass e.g. ``yarn`` / ``k8s://...`` —
        nothing else in the engine assumes local mode.
    warehouse_dir:
        Spark SQL warehouse location for the layer databases
        (``raw_layer`` / ``master_layer`` / ``business_layer``). The
        catalog plays the role BigQuery datasets play in the reference.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- correctness-critical ---
        .config("spark.sql.session.timeZone", "UTC")
        # Dynamic partition overwrite is a session-wide invariant: an
        # INSERT OVERWRITE replaces only the partitions present in the
        # incoming data. Nothing in the engine wants static truncation,
        # and per-write toggling of this conf races under the pipeline's
        # concurrent load legs (see sinks.overwrite_partitions).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # --- adaptive execution: runtime re-planning, partition
        # coalescing, skew-join splitting. At 100 TB these are the main
        # defense against mis-sized shuffles and hot keys.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing: ~cores locally; on a real cluster ~2-3x
        # total executor cores, or a high initial value AQE coalesces down.
        .config("spark.sql.shuffle.partitions", cpus)
        # --- Arrow for every pandas_udf / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- parquet scans: vectorized reader + pushdown are on by
        # default; keep timestamps physical INT96-free for interop.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # Local mode = single JVM: driver memory is the only heap knob.
        # Spark's 1g default OOMs real work; overridable via env or
        # extra_conf (a cluster deployment sets executor memory instead).
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
        )
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
