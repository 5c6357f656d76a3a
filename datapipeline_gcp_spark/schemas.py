"""Fixed schemas for the raw layer, mirroring the reference's declared
BigQuery ``schema_fields`` lists (no inference, no evolution).

Reference declarations:
- r_campaigns    — ``cloud_composer/datapipeline_gcp.py:230-235``
- r_transactions — ``cloud_composer/datapipeline_gcp.py:247-252``
- r_sales        — ``cloud_composer/datapipeline_gcp.py:377-385``

The reference lands numeric columns as STRING and relies on BigQuery's
implicit coercion at query time (SURVEY.md §1.3 "semantics trap"). Our
canonical mode types columns at the source boundary (``TYPED``); the
``AS_LANDED`` all-string variants exist for cast-fidelity tests of the
CTE report's explicit ``CAST(... AS FLOAT64)`` (reference
``cloud_composer/load_campaigns_csv.py:19,43``).
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Typed (canonical) raw schemas
# --------------------------------------------------------------------------

CAMPAIGNS = T.StructType(
    [
        T.StructField("campaign_id", T.LongType()),
        T.StructField("cost", T.DoubleType()),
        T.StructField("country", T.StringType()),
        T.StructField("date_time", T.TimestampType()),
    ]
)

TRANSACTIONS = T.StructType(
    [
        T.StructField("transaction_id", T.LongType()),
        T.StructField("income", T.DoubleType()),
        T.StructField("country", T.StringType()),
        T.StructField("date_time", T.TimestampType()),
    ]
)

SALES = T.StructType(
    [
        T.StructField("transaction_id", T.LongType()),
        T.StructField("customer_id", T.LongType()),
        T.StructField("product_id", T.LongType()),
        T.StructField("quantity", T.IntegerType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("category", T.StringType()),
        T.StructField("date_time", T.TimestampType()),
    ]
)

# The reference never declares the Cloud SQL ``stations`` schema (it is a
# ``SELECT *`` pass-through, ``datapipeline_gcp.py:36``); FIXTURES.md
# suggests this minimal shape for testing the S3 source path.
STATIONS = T.StructType(
    [
        T.StructField("station_id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("country", T.StringType()),
    ]
)


def as_landed(schema: T.StructType) -> T.StructType:
    """All-string variant of a raw schema — byte-fidelity with the
    reference's BigQuery loads, which declare numeric/timestamp columns
    as STRING (``datapipeline_gcp.py:232,250,382``). INTEGER columns
    keep their type (the reference types ``quantity`` INTEGER too,
    ``datapipeline_gcp.py:381``)."""
    fields = []
    for f in schema.fields:
        if isinstance(f.dataType, T.IntegerType):
            fields.append(f)
        else:
            fields.append(T.StructField(f.name, T.StringType(), f.nullable))
    return T.StructType(fields)


TYPED = {
    "r_campaigns": CAMPAIGNS,
    "r_transactions": TRANSACTIONS,
    "r_sales": SALES,
    "stations": STATIONS,
}

AS_LANDED = {name: as_landed(s) for name, s in TYPED.items()}

# --------------------------------------------------------------------------
# Layer / table naming (canonical per SURVEY.md §1.5)
# --------------------------------------------------------------------------

RAW_LAYER = "raw_layer"
MASTER_LAYER = "master_layer"
BUSINESS_LAYER = "business_layer"

# §1.5.2: the DAG writes m_performance_model but everything reads
# m_data_model — canonical name is m_data_model.
MASTER_TABLE = f"{MASTER_LAYER}.m_data_model"

BUSINESS_TABLES = (
    f"{BUSINESS_LAYER}.b_sales_kpi",
    f"{BUSINESS_LAYER}.b_performance_metrics",
    f"{BUSINESS_LAYER}.b_customer_retention",
    f"{BUSINESS_LAYER}.b_profitability_kpi",
    # §1.5.3: canonical b_ prefix (DAG used bare product_performance).
    f"{BUSINESS_LAYER}.b_product_performance",
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def pin_utc(spark) -> None:
    """Pin the session time zone to UTC (runtime-settable).

    Contract semantics are UTC: the oracle (DuckDB) treats parquet
    timestamps as naive wall-clock values, while Spark's TIMESTAMP is
    instant-typed and renders in the session time zone. The external
    driver builds a vanilla session that inherits the JVM's local zone,
    whatever that happens to be — every engine entry point that touches
    timestamps calls this so results are identical in any caller's
    session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")


#: Parquet leaf ``(physical type, logical type)`` -> the Spark type that
#: Spark 4.1's parquet schema inference gives it. Int, Decimal and
#: Timestamp leaves are resolved in :func:`_leaf_type`.
_LEAF = {
    ("BOOLEAN", "None"): T.BooleanType(),
    ("INT32", "None"): T.IntegerType(),
    ("INT64", "None"): T.LongType(),
    ("INT96", "None"): T.TimestampType(),
    ("FLOAT", "None"): T.FloatType(),
    ("DOUBLE", "None"): T.DoubleType(),
    ("BYTE_ARRAY", "None"): T.BinaryType(),
    ("FIXED_LEN_BYTE_ARRAY", "None"): T.BinaryType(),
    ("BYTE_ARRAY", "String"): T.StringType(),
    ("INT32", "Date"): T.DateType(),
}

#: ``(bitWidth, isSigned)`` of a parquet Int annotation -> Spark type.
_INT = {
    (8, True): T.ByteType(),
    (16, True): T.ShortType(),
    (32, True): T.IntegerType(),
    (64, True): T.LongType(),
    (8, False): T.ShortType(),
    (16, False): T.IntegerType(),
    (32, False): T.LongType(),
    (64, False): T.DecimalType(20, 0),
}


def _leaf_type(leaf, ntz: bool) -> T.DataType:
    logical = json.loads(leaf.logical_type.to_json())
    kind = logical["Type"]
    if kind == "Decimal":
        return T.DecimalType(leaf.precision, leaf.scale)
    if kind == "Int":
        return _INT[(logical["bitWidth"], logical["isSigned"])]
    if kind == "Timestamp":
        if logical["timeUnit"] == "nanoseconds":
            return T.LongType()
        if ntz and not logical["isAdjustedToUTC"]:
            return T.TimestampNTZType()
        return T.TimestampType()
    try:
        return _LEAF[(leaf.physical_type, kind)]
    except KeyError:
        raise ValueError(
            f"parquet column {leaf.path!r} has type {leaf.physical_type} "
            f"{leaf.logical_type}, which the footer schema resolver does not map"
        ) from None


def _spark_type(t: pa.DataType, leaves, ntz: bool, name: str) -> T.DataType:
    """Spark type of an arrow field; ``leaves`` yields the footer's leaf
    columns in order, so each primitive reads its own parquet types."""
    if pa.types.is_struct(t):
        return T.StructType(
            [T.StructField(f.name, _spark_type(f.type, leaves, ntz, name)) for f in t]
        )
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return T.ArrayType(_spark_type(t.value_type, leaves, ntz, name))
    if pa.types.is_nested(t):
        raise ValueError(
            f"parquet column {name!r} has type {t}, which the footer schema "
            "resolver does not map"
        )
    return _leaf_type(next(leaves), ntz)


#: Footer key under which Spark's own parquet writer stores the Spark
#: schema; inference takes it verbatim (made nullable) when present.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _nullable(schema_json):
    """A Spark schema's JSON with every field, element and value nullable."""
    if isinstance(schema_json, list):
        return [_nullable(v) for v in schema_json]
    if not isinstance(schema_json, dict):
        return schema_json
    return {
        k: True if k in ("nullable", "containsNull", "valueContainsNull") else _nullable(v)
        for k, v in schema_json.items()
    }


def _footer_file(path: str) -> str | None:
    """The local file whose footer Spark reads for ``path`` without
    ``mergeSchema``: the path itself, or a directory's first data file
    (names starting ``_`` or ``.`` are not data). None for a URI or a
    directory without data files at its top level (partitioned)."""
    if "://" in path:
        return None
    if not os.path.isdir(path):
        return path
    data = sorted(
        n
        for n in os.listdir(path)
        if not n.startswith(("_", ".")) and os.path.isfile(os.path.join(path, n))
    )
    return os.path.join(path, data[0]) if data else None


def parquet_schema(spark, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, resolved on the
    driver from one parquet footer, so it starts no Spark job.

    The mapping is Spark 4.1's inference: every field is nullable, lists
    become ``ArrayType(containsNull=True)``, a naive µs/ms timestamp is
    TIMESTAMP_NTZ (TIMESTAMP when the session turns
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` off), a UTC-adjusted
    or INT96 one is TIMESTAMP, and a NANOS timestamp is ``bigint`` raw
    nanos (inference rejects NANOS unless a legacy conf is set, but the
    reader takes it under a declared long with none). A type outside the
    mapping raises ``ValueError`` naming the column. A path pyarrow
    cannot open (a URI, a partitioned directory) falls back to Spark's
    own inference. A footer written by Spark carries its Spark schema,
    which inference (and so this) takes as it is."""
    footer = _footer_file(path)
    try:
        meta = pq.read_metadata(footer) if footer else None
    except (OSError, pa.ArrowInvalid):
        meta = None
    if meta is None:
        return spark.read.parquet(path).schema
    written_by_spark = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if written_by_spark:
        return T.StructType.fromJson(_nullable(json.loads(written_by_spark)))
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled").lower() == "true"
    leaves = (meta.schema.column(i) for i in range(meta.num_columns))
    return T.StructType(
        [
            T.StructField(f.name, _spark_type(f.type, leaves, ntz, f.name))
            for f in meta.schema.to_arrow_schema()
        ]
    )


def load_testdata(spark, sf_dir: str, tables=TESTDATA_TABLES) -> dict:
    """Read the driver-provided parquet tables and register temp views.

    Returns ``{name: DataFrame}``. Each table is read under the schema
    :func:`parquet_schema` resolves from its footer on the driver, so
    loading starts no Spark job and sets no session conf. Parquet scans
    get column pruning and predicate pushdown from Catalyst
    automatically.

    ``events.ts`` is naive TIMESTAMP(MICROS) in current fixtures (read as
    TIMESTAMP_NTZ); older ones store TIMESTAMP(NANOS), which resolves to
    raw nanos as ``bigint`` and is converted here to a microsecond
    TIMESTAMP — the data is µs-resolution, so the conversion is lossless.
    """
    from pyspark.sql import functions as F

    pin_utc(spark)

    out = {}
    for name in tables:
        path = f"{sf_dir}/{name}.parquet"
        schema = parquet_schema(spark, path)
        df = spark.read.schema(schema).parquet(path)
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
