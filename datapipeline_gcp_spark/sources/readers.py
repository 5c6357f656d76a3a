"""Landing-file readers (SURVEY.md §2.1).

- S1 CSV: header row, comma-separated, explicit schema — the Spark-native
  form of the reference's BQ load with ``skip_leading_rows=1``
  (``cloud_composer/datapipeline_gcp.py:224-256``).
- S2 TSV: tab-separated, NO header — the format the reference routed
  through an ephemeral Dataproc cluster + external PySpark script
  (``datapipeline_gcp.py:77-83,320-325``; file format produced at
  ``cloud_function/create_campaigns/txt/main.py:30``). Here it is just
  another landing format; no cluster lifecycle exists.

  S1 and S2 are one reader, :func:`read_landing` with ``fmt="csv"`` or
  ``fmt="txt"``. The format's options and its FAILFAST parse mode come
  from ``landing_format.FORMATS``, the table the writer and the
  event-path streams use too, so the DAG load and the stream parse a
  landing file identically.
- S3 snapshot: the Cloud SQL ``SELECT *``-export-then-load path
  (``datapipeline_gcp.py:36,85-93,372-388``) — the exported snapshot
  is a plain landing CSV read by :func:`read_landing`; a JDBC reader
  covers live databases (needs a JDBC driver jar on the classpath;
  gated, since none ships in this environment).
- S5 batch sensor: glob-nonempty existence check with timeout
  (``datapipeline_gcp.py:204-218``).

All readers take explicit StructTypes (``schemas.TYPED`` /
``schemas.AS_LANDED``) — never ``inferSchema``, which would add a full
extra pass over 100 TB of text and produce drifting types.

Scale note: a glob of many small CSVs parallelizes by file;
``spark.sql.files.maxPartitionBytes`` governs split sizing for large
files. Schema is enforced at read so malformed rows fail fast
(``mode=FAILFAST`` default here; pass ``permissive=True`` to quarantine
instead — corrupt rows land in ``_corrupt_record``).
"""

from __future__ import annotations

import glob as globlib
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from datapipeline_gcp_spark.landing_format import with_format


def _reader(reader, schema: T.StructType, permissive: bool):
    """Declare *schema*; ``permissive=True`` quarantines instead of
    failing: malformed rows land in ``_corrupt_record``."""
    if not permissive:
        return reader.schema(schema)
    schema = T.StructType(
        schema.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    return reader.schema(schema).option("mode", "PERMISSIVE")


def read_landing(
    spark: SparkSession,
    paths: str | list[str],
    schema: T.StructType,
    fmt: str,
    permissive: bool = False,
    external: bool = False,
    external_multiline: bool = True,
) -> DataFrame:
    """S1/S2 — landing files of format *fmt* (``csv``, ``txt`` or
    ``parquet``) with a declared schema, parsed by the landing contract
    (``landing_format.FORMATS``): the same options and FAILFAST mode the
    event-path streams use, and the round trip of ``write_landing_file``
    (\\N NULL sentinel, "" stays a string, multiLine for quoted embedded
    newlines). *paths* is a path, a glob or a list of files.

    ``external=True`` reads text files produced by OTHER writers (e.g.
    the reference's plain ``csv.writer``, which encodes NULL as a bare
    empty field): the sentinel options are skipped, so an empty field is
    NULL for every type — the standard CSV reading (ADVICE r10: under the
    default convention such files would ingest NULL string fields as
    ``""`` and could FAILFAST on empty typed fields). ``multiLine`` is
    KEPT in external mode (ADVICE r11): RFC-4180 writers quote embedded
    newlines, and without it Spark shears such records mid-field — but
    multiLine parsing is NOT SPLITTABLE (one parse task per file), so
    for bulk external files KNOWN to be newline-free pass
    ``external_multiline=False`` to restore intra-file parallelism;
    correctness-by-default, splittability as the declared opt-in."""
    reader = with_format(spark.read, fmt, external, external_multiline)
    return _reader(reader, schema, permissive).load(paths)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    schema: T.StructType | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **properties: str,
) -> DataFrame:
    """S3 (live form) — JDBC table read.

    For scale, pass ``partition_column`` (+ bounds) so Spark issues
    ``num_partitions`` range-partitioned queries instead of one giant
    serial result set. Requires the database's JDBC driver jar on the
    Spark classpath; raises a clear error otherwise.
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("numPartitions", num_partitions)
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partition_column requires lower_bound/upper_bound")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", lower_bound)
            .option("upperBound", upper_bound)
        )
    for k, v in properties.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    try:
        return reader.load()
    except Exception as ex:  # driver jar missing is the common failure here
        raise RuntimeError(
            "JDBC read failed — is the database's JDBC driver jar on the "
            "classpath? (spark.jars / --jars). Underlying error: " + str(ex)
        ) from ex


def read_jsonl(
    spark: SparkSession,
    path_glob: str,
    schema: T.StructType,
    permissive: bool = False,
) -> DataFrame:
    """JSON-lines landing files with a declared schema (never inferred —
    inference costs a full extra pass and drifts types at 100 TB)."""
    reader = spark.read.option("mode", "FAILFAST")
    return _reader(reader, schema, permissive).json(path_glob)


def read_orc(
    spark: SparkSession, path_glob: str, schema: T.StructType | None = None
) -> DataFrame:
    """ORC files. ORC is self-describing, but passing the expected schema
    pins column types at the read boundary like every other reader here."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.orc(path_glob)


# ---------------------------------------------------------------------------
# Format round-trip queries (registered): write the documents table out
# in an interchange format, read it back through the typed reader, and
# aggregate a content checksum per (lang, source). The oracle runs the
# same aggregation on the ORIGINAL parquet — a hash match proves the
# write→read cycle is lossless for every row, not just row-countable.
# The checksum is the repo-standard md5→60-bit-integer reduction
# (engine-independent; see functions/dedup.base_hash).
# ---------------------------------------------------------------------------


def _roundtrip_agg(back: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    from datapipeline_gcp_spark.functions.dedup import base_hash

    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(base_hash(F.col("text"))).cast("bigint").alias("text_checksum"),
    )


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    import os

    from datapipeline_gcp_spark.schemas import load_testdata

    docs = load_testdata(spark, sf_dir, ("documents",))["documents"]
    out = "/tmp/spark_graft_roundtrip/{}/documents_{}".format(
        os.path.basename(sf_dir.rstrip("/")), fmt
    )
    # multi-file layout on write, directory read on the way back — the
    # shape a real landing zone has (readers parallelize by file)
    docs.repartition(4).write.mode("overwrite").format(fmt).save(out)
    back = (
        read_jsonl(spark, out, docs.schema)
        if fmt == "json"
        else read_orc(spark, out, docs.schema)
    )
    return _roundtrip_agg(back)


def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "json")


def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "orc")


_ROUNDTRIP_ORACLE = """
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN text IS NOT NULL THEN
                 (CAST(concat('0x', substr(md5(text),1,15)) AS BIGINT)
                  % 1000000007) END) AS BIGINT) AS text_checksum
FROM documents
GROUP BY lang, source
"""

QUERIES = {
    "source_jsonl_roundtrip": source_jsonl_roundtrip,
    "source_orc_roundtrip": source_orc_roundtrip,
}
ORACLES = {
    "source_jsonl_roundtrip": _ROUNDTRIP_ORACLE,
    "source_orc_roundtrip": _ROUNDTRIP_ORACLE,
}


def sense_files(path_glob: str, timeout_s: float = 15.0, poll_s: float = 1.0) -> bool:
    """S5/E4 — batch-mode existence sensor: poll a glob until it matches
    or the timeout elapses (the reference's GCS prefix sensor with its
    15 s timeout, ``datapipeline_gcp.py:204-218``). Returns whether files
    exist — callers branch, mirroring the reference DAG's failure branch.
    """
    deadline = time.monotonic() + timeout_s
    while True:
        if globlib.glob(path_glob):
            return True
        if time.monotonic() >= deadline:
            return False
        time.sleep(poll_s)
