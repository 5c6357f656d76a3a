"""``schemas.parquet_schema``: the schema of a testdata parquet, resolved
on the driver from its footer. It must equal what
``spark.read.parquet(p).schema`` infers on every table, layout and
timestamp encoding the engine reads, so plans built on it are the
inferred-schema plans; and ``load_testdata`` must start no Spark job."""

from __future__ import annotations

import datetime as dt
import importlib.util
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datapipeline_gcp_spark import schemas
from datapipeline_gcp_spark.streaming.harness import events_stream

from tests.conftest import SF_CORRECTNESS, SF_SMOKE

NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
DEGENERATE = ("manyfiles", "empty", "dst")


def _assert_resolves_as_inferred(spark, path: str) -> None:
    assert schemas.parquet_schema(spark, path) == spark.read.parquet(path).schema, path


@pytest.fixture
def conf(spark):
    """Set session confs for one test; put each back (or unset it)
    afterwards."""
    saved = {}

    def set_(key: str, value: str) -> None:
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)

    try:
        yield set_
    finally:
        for key, value in saved.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


@pytest.fixture(scope="module")
def degenerate_root(tmp_path_factory):
    tool = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "make_degenerate_fixtures.py",
    )
    spec = importlib.util.spec_from_file_location("make_degenerate_fixtures", tool)
    mk = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mk)
    mk.VARIANTS = DEGENERATE
    root = tmp_path_factory.mktemp("degenerate")
    mk.main(str(root))
    return root


@pytest.fixture(scope="module")
def nanos_events(tmp_path_factory) -> str:
    """An sf dir whose events.parquet stores ``ts`` as TIMESTAMP(NANOS),
    the encoding of the first driver fixtures."""
    root = tmp_path_factory.mktemp("nanos")
    tbl = pq.read_table(f"{SF_SMOKE}/events.parquet")
    i = tbl.schema.get_field_index("ts")
    ts = tbl.column(i).cast(pa.timestamp("ns"))
    tbl = tbl.set_column(i, pa.field("ts", pa.timestamp("ns")), ts)
    pq.write_table(tbl, f"{root}/events.parquet", version="2.6")
    return str(root)


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_CORRECTNESS], ids=["sf0.001", "sf0.01"])
@pytest.mark.parametrize("table", schemas.TESTDATA_TABLES)
def test_resolved_schema_equals_inferred(spark, sf_dir, table):
    _assert_resolves_as_inferred(spark, f"{sf_dir}/{table}.parquet")


@pytest.mark.parametrize("variant", DEGENERATE)
def test_resolved_schema_equals_inferred_on_degenerate(spark, degenerate_root, variant):
    for table in schemas.TESTDATA_TABLES:
        _assert_resolves_as_inferred(spark, f"{degenerate_root}/{variant}/{table}.parquet")


def test_nanos_timestamp_resolves_as_long(spark, conf, nanos_events):
    path = f"{nanos_events}/events.parquet"
    resolved = schemas.parquet_schema(spark, path)
    assert spark.conf.get(NANOS_AS_LONG, "false") == "false"
    conf(NANOS_AS_LONG, "true")
    assert resolved == spark.read.parquet(path).schema


def test_nanos_events_load_and_stream_without_legacy_conf(spark, nanos_events):
    """The ``ts div 1000`` shim turns resolved nanos into the µs values
    the micros fixture holds, in the batch and the streaming reader."""
    assert spark.conf.get(NANOS_AS_LONG, "false") == "false"
    want = schemas.load_testdata(spark, SF_SMOKE, ("events",))["events"]
    got = schemas.load_testdata(spark, nanos_events, ("events",))["events"]
    assert dict(got.dtypes)["ts"] == "timestamp"
    assert sorted(got.select("event_id", "ts").collect()) == sorted(
        want.selectExpr("event_id", "cast(ts as timestamp) ts").collect()
    )
    assert dict(events_stream(spark, nanos_events).dtypes)["ts"] == "timestamp"
    assert spark.conf.get(NANOS_AS_LONG, "false") == "false"


def test_resolved_schema_follows_infer_ntz_off(spark, conf, tmp_path):
    conf(NTZ, "false")
    for table in ("events", "orders", "lineitem"):
        path = f"{SF_SMOKE}/{table}.parquet"
        _assert_resolves_as_inferred(spark, path)
        assert "timestamp_ntz" not in schemas.parquet_schema(spark, path).simpleString()
    # a footer written by Spark keeps its own schema (NTZ stays NTZ)
    out = str(tmp_path / "spark_written")
    spark.range(2).selectExpr(
        "id", "cast(cast(id as timestamp) as timestamp_ntz) tn", "map(id, array(id)) m"
    ).write.parquet(out)
    _assert_resolves_as_inferred(spark, out)


def test_timestamp_encodings_resolve_as_inferred(spark, tmp_path):
    ts = [dt.datetime(2024, 3, 10, 2, 30, s) for s in range(3)]
    cases = {
        "naive_ms": (pa.timestamp("ms"), {}),
        "utc_us": (pa.timestamp("us", tz="UTC"), {}),
        "int96": (pa.timestamp("us"), {"use_deprecated_int96_timestamps": True}),
        "legacy_v1": (pa.timestamp("us"), {"version": "1.0"}),
    }
    for name, (typ, opts) in cases.items():
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({"ts": pa.array(ts, typ), "xs": [[1.5]] * 3}), path, **opts)
        _assert_resolves_as_inferred(spark, path)


def test_unmapped_type_raises_naming_the_column(spark, tmp_path):
    path = str(tmp_path / "time.parquet")
    pq.write_table(pa.table({"clock": pa.array([1, 2], pa.time64("us"))}), path)
    with pytest.raises(ValueError, match="'clock'"):
        schemas.parquet_schema(spark, path)


def test_uri_path_falls_back_to_inference(spark):
    _assert_resolves_as_inferred(spark, f"file://{SF_SMOKE}/orders.parquet")


def test_load_testdata_starts_no_spark_job(spark):
    sc = spark.sparkContext
    group = "test_load_testdata_starts_no_spark_job"
    sc.setJobGroup(group, group)
    try:
        schemas.load_testdata(spark, SF_SMOKE)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
