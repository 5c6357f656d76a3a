"""Tests for the scale utilities: salted joins must be result-identical
to plain joins, compaction must preserve content while reducing files,
and permissive reads must quarantine corrupt rows instead of failing."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from datapipeline_gcp_spark import schemas
from datapipeline_gcp_spark.operators.relational import salted_join
from datapipeline_gcp_spark.sources import readers
from datapipeline_gcp_spark.streaming.ingest import compact_table

from tests.conftest import SF_SMOKE


def test_salted_join_equals_plain_join(spark):
    """Salting redistributes work; it must never change the result —
    including duplicate multiplicity on a skewed many-to-many join."""
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"),
        "o_totalprice",
    )
    plain = li.join(orders, on=["l_orderkey"], how="inner")
    salted = salted_join(li, orders, keys=["l_orderkey"], salt_buckets=8)
    assert plain.count() == salted.count()
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, salted.select(*plain.columns).collect()))
    assert a == b


def test_salted_join_rejects_right_and_full_outer(spark):
    """Replicating the salted right side is only multiplicity-preserving
    for inner/left-family joins; right/full outer must raise."""
    import pytest as _pytest

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select("l_orderkey")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    for how in ("right", "rightouter", "full", "fullouter", "outer"):
        with _pytest.raises(ValueError, match="salted_join does not support"):
            salted_join(li, orders, keys=["l_orderkey"], how=how)
    # the left family passes validation and executes
    assert salted_join(li, orders, keys=["l_orderkey"], how="left_semi").count() > 0


def test_compact_table_reduces_files_preserves_rows(spark, tmp_path):
    spark.sql("CREATE DATABASE IF NOT EXISTS raw_layer")
    spark.sql("DROP TABLE IF EXISTS raw_layer.frag")
    df = spark.range(1000).select(F.col("id"), (F.col("id") * 2).alias("v"))
    # simulate streaming appends: many tiny files
    for i in range(6):
        df.filter(F.col("id") % 6 == i).repartition(4).write.mode(
            "append"
        ).saveAsTable("raw_layer.frag")
    before_files = len(glob.glob(_table_dir(spark, "raw_layer.frag") + "/*.parquet"))
    before = sorted(r.id for r in spark.table("raw_layer.frag").collect())
    compact_table(spark, "raw_layer.frag", target_file_rows=10_000)
    after_files = len(glob.glob(_table_dir(spark, "raw_layer.frag") + "/*.parquet"))
    after = sorted(r.id for r in spark.table("raw_layer.frag").collect())
    assert after == before
    assert after_files < before_files
    assert after_files == 1


def _table_dir(spark, table):
    row = spark.sql(f"DESCRIBE FORMATTED {table}").filter(
        F.col("col_name") == "Location"
    ).first()
    return row.data_type.removeprefix("file:")


def test_permissive_read_quarantines_corrupt_rows(spark, tmp_path):
    path = tmp_path / "bad.csv"
    path.write_text(
        "campaign_id,cost,country,date_time\n"
        "1,10.5,Peru,2023-06-01 09:00:00\n"
        "not_a_number,xx,Chile,whenever\n"
        "2,20.0,Chile,2023-06-01 10:00:00\n"
    )
    df = readers.read_landing(
        spark, str(path), schemas.CAMPAIGNS, "csv", permissive=True
    )
    rows = df.collect()
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(good) == 2 and len(bad) == 1
    assert bad[0].campaign_id is None
    # failfast mode raises instead
    import pytest as _pytest

    with _pytest.raises(Exception):
        readers.read_landing(spark, str(path), schemas.CAMPAIGNS, "csv").collect()


def test_permissive_jsonl_quarantines_corrupt_lines(spark, tmp_path):
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    path = tmp_path / "docs.jsonl"
    path.write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        "this is not json at all\n"
        '{"doc_id": 2, "text": "beta"}\n'
    )
    rows = readers.read_jsonl(spark, str(path), schema, permissive=True).collect()
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(good) == 2 and len(bad) == 1
    assert {r.text for r in good} == {"alpha", "beta"}
    import pytest as _pytest

    with _pytest.raises(Exception):
        readers.read_jsonl(spark, str(path), schema).collect()


def test_bucketed_tables_join_without_exchange(spark):
    """Co-bucketed tables must join shuffle-free: the physical plan has
    no Exchange on either join side (the whole point of paying the
    clustering shuffle once at write time), and results equal the
    plain-join ground truth."""
    from datapipeline_gcp_spark import sinks

    spark.sql("CREATE DATABASE IF NOT EXISTS scratch")
    for t in ("scratch.b_orders", "scratch.b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    t = schemas.load_testdata(spark, SF_SMOKE, ("orders", "lineitem"))
    sinks.write_bucketed(
        t["orders"], "scratch.b_orders", ["o_orderkey"], 8,
        sort_cols=["o_orderkey"],
    )
    sinks.write_bucketed(
        t["lineitem"], "scratch.b_lineitem", ["l_orderkey"], 8,
        sort_cols=["l_orderkey"],
    )
    bo, bl = spark.table("scratch.b_orders"), spark.table("scratch.b_lineitem")
    joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey).groupBy(
        "o_orderdate"
    ).agg(F.count("*").alias("n"))
    # disable auto-broadcast: at test scale the sides fit a broadcast,
    # which hides the property under test — at 100 TB neither side would
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # bucketed scans already satisfy the join's required distribution:
        # the ONLY hash exchange allowed is the groupBy on o_orderdate —
        # the join itself (sort-merge over bucketed reads) is shuffle-free
        assert "SortMergeJoin" in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, (
            f"bucketed join shuffled:\n{plan}"
        )
        assert "Exchange hashpartitioning(o_orderdate" in plan
        got = {(r.o_orderdate, r.n) for r in joined.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # correctness: same result as the unbucketed join
    plain = (
        t["orders"].join(
            t["lineitem"], t["orders"].o_orderkey == t["lineitem"].l_orderkey
        ).groupBy("o_orderdate").agg(F.count("*").alias("n"))
    )
    want = {(r.o_orderdate, r.n) for r in plain.collect()}
    assert got == want


def test_neardup_fixture_guards_plant_floor(spark):
    """A corpus whose ids reach the +500k exact-plant offset must fail
    LOUDLY (r10 8x-remap probe: colliding planted/real ids silently
    merge two documents into one id-keyed signature)."""
    import pytest

    from datapipeline_gcp_spark.functions.dedup import (
        _assert_fixture_ids_below_plant_floor,
    )

    ok = spark.createDataFrame([(499_999, "t")], "doc_id long, text string")
    _assert_fixture_ids_below_plant_floor(spark, "_floor_ok", ok)
    bad = spark.createDataFrame([(500_000, "t")], "doc_id long, text string")
    with pytest.raises(AssertionError, match="exact-plant offset"):
        _assert_fixture_ids_below_plant_floor(spark, "_floor_bad", bad)


def test_scale_fixture_key_collision_guard(tmp_path):
    """ADVICE r11: per-copy key offsets must be validated against KOFF —
    a source whose keys reach the offset would silently collide copy k's
    high keys with copy k+1's low keys, corrupting preserved fan-out."""
    import importlib.util

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    spec = importlib.util.spec_from_file_location(
        "make_scale_fixture",
        os.path.join(os.path.dirname(__file__), "..", "tools",
                     "make_scale_fixture.py"),
    )
    msf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(msf)

    # sane keys: remap succeeds and preserves per-copy disjointness
    ok = tmp_path / "ok.parquet"
    pq.write_table(
        pa.table({"o_orderkey": pa.array([1, 2, 3], type=pa.int64()),
                  "o_custkey": pa.array([7, 8, 9], type=pa.int64())}),
        ok,
    )
    out = tmp_path / "out.parquet"
    n = msf.scale_table(str(ok), str(out), "orders", 3)
    assert n == 9
    got = pq.read_table(out).column("o_orderkey").to_pylist()
    assert len(set(got)) == 9  # offsets kept all copies disjoint

    # colliding keys: max >= KOFF must fail loudly, not wrap/collide
    bad = tmp_path / "bad.parquet"
    pq.write_table(
        pa.table({"o_orderkey": pa.array([1, msf.KOFF + 5], type=pa.int64()),
                  "o_custkey": pa.array([7, 8], type=pa.int64())}),
        bad,
    )
    with _pytest.raises(SystemExit, match="KOFF"):
        msf.scale_table(str(bad), str(tmp_path / "x.parquet"), "orders", 2)


def test_compact_table_refuses_idempotent_ingest_tables(spark):
    """compact_table's unpartitioned rewrite would let a replayed
    batch's partition overwrite truncate the whole table — it must
    refuse and point at compact_ingest_table."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    spark.sql("DROP TABLE IF EXISTS t_idem_guard")
    (
        spark.range(10)
        .withColumn("_ingest_stream", F.lit("s"))
        .withColumn("_ingest_batch", F.lit(0))
        .write.partitionBy("_ingest_stream", "_ingest_batch")
        .saveAsTable("t_idem_guard")
    )
    try:
        with _pytest.raises(ValueError, match="compact_ingest_table"):
            compact_table(spark, "t_idem_guard")
        assert spark.table("t_idem_guard").count() == 10  # untouched
    finally:
        spark.sql("DROP TABLE IF EXISTS t_idem_guard")


def test_compact_ingest_table_multi_stream_and_refold(spark, tmp_path):
    """Two streams' committed frontiers read independently; a second
    compaction re-folds the reserved partition with newer batches."""
    import os

    from pyspark.sql import functions as F

    from datapipeline_gcp_spark.streaming.ingest import (
        COMPACTED_BATCH,
        compact_ingest_table,
    )

    def fake_ckpt(root, upto):
        c = os.path.join(root, "commits")
        os.makedirs(c, exist_ok=True)
        for i in range(upto + 1):
            with open(os.path.join(c, str(i)), "w") as fh:
                fh.write("v1\n{}")
        return root

    ck_a = fake_ckpt(str(tmp_path / "a"), 1)  # stream a: 0,1 committed
    ck_b = fake_ckpt(str(tmp_path / "b"), 0)  # stream b: only 0
    spark.sql("DROP TABLE IF EXISTS t_idem_multi")
    rows = []
    for s, batches in (("a", [0, 1, 2]), ("b", [0, 1])):
        for b in batches:
            rows.append((f"{s}{b}", s, b))
    df = spark.createDataFrame(rows, "v string, _ingest_stream string, _ingest_batch int")
    df.write.partitionBy("_ingest_stream", "_ingest_batch").saveAsTable(
        "t_idem_multi"
    )
    try:
        compact_ingest_table(
            spark, "t_idem_multi", {"a": ck_a, "b": ck_b}
        )
        out = spark.table("t_idem_multi")
        assert out.count() == 5
        parts = {
            (r._ingest_stream, r._ingest_batch)
            for r in out.select("_ingest_stream", "_ingest_batch").distinct().collect()
        }
        # a: 0,1 folded; 2 orphan. b: 0 folded; 1 orphan.
        assert parts == {
            ("a", COMPACTED_BATCH), ("a", 2),
            ("b", COMPACTED_BATCH), ("b", 1),
        }
        # stream b's batch 1 commits later; re-fold merges it into the
        # reserved partition alongside the already-folded history
        fake_ckpt(ck_b, 1)
        compact_ingest_table(
            spark, "t_idem_multi", {"a": ck_a, "b": ck_b}
        )
        out = spark.table("t_idem_multi")
        assert out.count() == 5
        parts = {
            (r._ingest_stream, r._ingest_batch)
            for r in out.select("_ingest_stream", "_ingest_batch").distinct().collect()
        }
        assert parts == {
            ("a", COMPACTED_BATCH), ("a", 2), ("b", COMPACTED_BATCH),
        }
        vals = {r.v for r in out.select("v").collect()}
        assert vals == {"a0", "a1", "a2", "b0", "b1"}
    finally:
        spark.sql("DROP TABLE IF EXISTS t_idem_multi")


def test_compact_table_guard_covers_batch_only_tables(spark):
    """Code-review r12: tables written by the pre-r12 single-stream
    idempotent sink carry only _ingest_batch — the truncate hazard is
    identical, so the guard must catch them too."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    spark.sql("DROP TABLE IF EXISTS t_idem_guard_r11")
    (
        spark.range(5)
        .withColumn("_ingest_batch", F.lit(0))
        .write.partitionBy("_ingest_batch")
        .saveAsTable("t_idem_guard_r11")
    )
    try:
        with _pytest.raises(ValueError, match="compact_ingest_table"):
            compact_table(spark, "t_idem_guard_r11")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_idem_guard_r11")


def test_latest_committed_batch_on_file_uri(spark, tmp_path):
    """Code-review r12: a URI checkpoint must list commits via the
    Hadoop FS (os.listdir on a URI silently reports none, turning
    compaction into a fold-nothing no-op); file:// forces that path."""
    import os

    from datapipeline_gcp_spark.streaming.ingest import (
        _latest_committed_batch,
    )

    c = tmp_path / "ckpt" / "commits"
    os.makedirs(c)
    for i in (0, 1, 2):
        (c / str(i)).write_text("v1\n{}")
    local = str(tmp_path / "ckpt")
    assert _latest_committed_batch(local) == 2
    assert _latest_committed_batch(f"file://{local}", spark) == 2
    assert (
        _latest_committed_batch(f"file://{tmp_path}/absent", spark) is None
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="SparkSession"):
        _latest_committed_batch(f"file://{local}")


def _fake_ckpt(root: str, upto: int) -> str:
    c = os.path.join(root, "commits")
    os.makedirs(c, exist_ok=True)
    for i in range(upto + 1):
        with open(os.path.join(c, str(i)), "w") as fh:
            fh.write("v1\n{}")
    return root


def test_compact_ingest_table_keeps_null_partition_rows(spark, tmp_path):
    """ADVICE r12: a row whose _ingest_stream/_ingest_batch is NULL
    (__HIVE_DEFAULT_PARTITION__ from an out-of-band write) makes the
    fold predicate NULL — both filter(fold) and filter(~fold) would
    exclude it, silently losing the row. The null-safe complement must
    keep it, unfolded."""
    from datapipeline_gcp_spark.streaming.ingest import (
        COMPACTED_BATCH,
        compact_ingest_table,
    )

    ck = _fake_ckpt(str(tmp_path / "ck"), 0)
    spark.sql("DROP TABLE IF EXISTS t_idem_nullpart")
    rows = [("a0", "a", 0), ("a1", "a", 1), ("oob", None, None)]
    df = spark.createDataFrame(
        rows, "v string, _ingest_stream string, _ingest_batch int"
    )
    df.write.partitionBy("_ingest_stream", "_ingest_batch").saveAsTable(
        "t_idem_nullpart"
    )
    try:
        compact_ingest_table(spark, "t_idem_nullpart", {"a": ck})
        out = spark.table("t_idem_nullpart")
        assert out.count() == 3  # nothing lost
        got = {
            (r.v, r._ingest_stream, r._ingest_batch)
            for r in out.collect()
        }
        # a0 committed -> folded; a1 orphan -> kept; NULL row -> kept
        assert got == {
            ("a0", "a", COMPACTED_BATCH),
            ("a1", "a", 1),
            ("oob", None, None),
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS t_idem_nullpart")


def test_compact_swap_recovery_completes_interrupted_rename(spark, tmp_path):
    """ADVICE r12: a crash between DROP TABLE and RENAME leaves the rows
    only under {table}__compact_tmp and nothing under the original name.
    The next compaction entry must finish the swap (rename back + MSCK
    for partitioned tables) before compacting — zero rows lost."""
    from datapipeline_gcp_spark.streaming.ingest import (
        COMPACTED_BATCH,
        compact_ingest_table,
    )

    ck = _fake_ckpt(str(tmp_path / "ck"), 1)
    spark.sql("DROP TABLE IF EXISTS t_idem_crash")
    spark.sql("DROP TABLE IF EXISTS t_idem_crash__compact_tmp")
    rows = [("a0", "a", 0), ("a1", "a", 1), ("a2", "a", 2)]
    df = spark.createDataFrame(
        rows, "v string, _ingest_stream string, _ingest_batch int"
    )
    # simulate the crash window: the rewritten table committed as tmp,
    # the original name already dropped, rename never ran
    df.write.partitionBy("_ingest_stream", "_ingest_batch").saveAsTable(
        "t_idem_crash__compact_tmp"
    )
    try:
        assert not spark.catalog.tableExists("t_idem_crash")
        compact_ingest_table(spark, "t_idem_crash", {"a": ck})
        out = spark.table("t_idem_crash")
        assert out.count() == 3
        got = {
            (r.v, r._ingest_stream, r._ingest_batch) for r in out.collect()
        }
        assert got == {
            ("a0", "a", COMPACTED_BATCH),
            ("a1", "a", COMPACTED_BATCH),
            ("a2", "a", 2),
        }
        assert not spark.catalog.tableExists("t_idem_crash__compact_tmp")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_idem_crash")
        spark.sql("DROP TABLE IF EXISTS t_idem_crash__compact_tmp")


def test_compact_swap_recovery_discards_stale_tmp(spark, tmp_path):
    """ADVICE r12, the other crash window: a failure BEFORE the DROP
    leaves base + tmp both present (base authoritative, tmp possibly
    stale). Recovery must drop the tmp and compact from the live base;
    compact_table (unpartitioned) heals the rename window the same way."""
    from datapipeline_gcp_spark.streaming.ingest import compact_table

    spark.sql("DROP TABLE IF EXISTS t_flat_crash")
    spark.sql("DROP TABLE IF EXISTS t_flat_crash__compact_tmp")
    spark.range(10).write.saveAsTable("t_flat_crash")
    # stale tmp from an interrupted earlier run (different content)
    spark.range(3).write.saveAsTable("t_flat_crash__compact_tmp")
    try:
        compact_table(spark, "t_flat_crash", target_file_rows=100)
        assert spark.table("t_flat_crash").count() == 10  # base wins
        assert not spark.catalog.tableExists("t_flat_crash__compact_tmp")
        # and the rename window for the unpartitioned path
        spark.sql(
            "ALTER TABLE t_flat_crash RENAME TO t_flat_crash__compact_tmp"
        )
        compact_table(spark, "t_flat_crash", target_file_rows=100)
        assert spark.table("t_flat_crash").count() == 10
    finally:
        spark.sql("DROP TABLE IF EXISTS t_flat_crash")
        spark.sql("DROP TABLE IF EXISTS t_flat_crash__compact_tmp")


def test_table_lock_serializes_across_processes(spark):
    """VERDICT r12 #7: the per-table lock was process-local, so two
    DRIVER PROCESSES appending the same catalog table could race
    saveAsTable's create-if-needed. With a local warehouse the lock now
    also holds an advisory flock on <warehouse>/_locks/<table>.lock —
    a second process holding that file must block this one."""
    import subprocess
    import sys
    import time

    from datapipeline_gcp_spark import sinks

    lock_dir = sinks._warehouse_lock_dir()
    assert lock_dir is not None, "test session warehouse must be local"
    os.makedirs(lock_dir, exist_ok=True)
    lock_file = os.path.join(lock_dir, "t_xproc_lock.lock")

    hold = 2.0
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import fcntl, sys, time\n"
            "fh = open(sys.argv[1], 'w')\n"
            "fcntl.flock(fh, fcntl.LOCK_EX)\n"
            "print('locked', flush=True)\n"
            "time.sleep(float(sys.argv[2]))\n",
            lock_file,
            str(hold),
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert child.stdout.readline().strip() == "locked"
        t0 = time.monotonic()
        with sinks._table_lock("t_xproc_lock"):
            waited = time.monotonic() - t0
        # the child held the flock for `hold` seconds after announcing;
        # acquisition must have blocked for most of that window
        assert waited > hold * 0.5, f"lock did not serialize: {waited:.2f}s"
    finally:
        child.wait()
