"""Streaming tests (SURVEY.md §5.4): file-arrival ingestion with archive
semantics, and stream ≡ batch for the windowed aggregations."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapipeline_gcp_spark import schemas
from datapipeline_gcp_spark.sources import generators as gen
from datapipeline_gcp_spark.streaming import harness, ingest, windows

from tests.conftest import SF_CORRECTNESS, assert_frames_match


@pytest.fixture()
def stream_dirs(tmp_path):
    return {
        "landing": str(tmp_path / "landing"),
        "archive": str(tmp_path / "archive"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def test_stream_ingest_appends_and_archives(spark, stream_dirs):
    spark.sql("CREATE DATABASE IF NOT EXISTS raw_layer")
    spark.sql("DROP TABLE IF EXISTS raw_layer.r_stream_campaigns")

    df1 = gen.gen_campaigns(spark, n=200, seed=1)
    gen.write_landing_file(df1, stream_dirs["landing"], "campaigns", "csv", "20230601")
    # a transactions file in the same dir must NOT be picked up (routing)
    gen.write_landing_file(
        gen.gen_transactions(spark, n=50, seed=2),
        stream_dirs["landing"], "transactions", "csv", "20230601",
    )

    q = ingest.stream_landing_table(
        spark, stream_dirs["landing"], "campaigns", "csv", schemas.CAMPAIGNS,
        "raw_layer.r_stream_campaigns", stream_dirs["archive"], stream_dirs["ckpt"],
    )
    ingest.drain(q)
    assert spark.table("raw_layer.r_stream_campaigns").count() == 200
    archived = os.listdir(stream_dirs["archive"])
    assert any(f.startswith("campaigns_") for f in archived)
    assert not any(f.startswith("transactions_") for f in archived)

    # second file arrives → incremental batch picks up only the new file
    df2 = gen.gen_campaigns(spark, n=100, seed=3)
    gen.write_landing_file(df2, stream_dirs["landing"], "campaigns", "csv", "20230602")
    q = ingest.stream_landing_table(
        spark, stream_dirs["landing"], "campaigns", "csv", schemas.CAMPAIGNS,
        "raw_layer.r_stream_campaigns", stream_dirs["archive"], stream_dirs["ckpt"],
    )
    ingest.drain(q)
    assert spark.table("raw_layer.r_stream_campaigns").count() == 300
    # stream-vs-batch equivalence on content
    got = set(
        r.campaign_id
        for r in spark.table("raw_layer.r_stream_campaigns").select("campaign_id").collect()
    )
    want = set(r.campaign_id for r in df1.unionAll(df2).select("campaign_id").collect())
    assert got == want
    # manifest recorded per batch
    assert os.listdir(f"{stream_dirs['archive']}/_manifests")


def test_stream_router_routes_by_table(spark, stream_dirs):
    spark.sql("CREATE DATABASE IF NOT EXISTS raw_layer")
    for t in ("r_route_campaigns", "r_route_transactions"):
        spark.sql(f"DROP TABLE IF EXISTS raw_layer.{t}")
    gen.write_landing_file(
        gen.gen_campaigns(spark, n=60, seed=4),
        stream_dirs["landing"], "campaigns", "csv", "20230601",
    )
    gen.write_landing_file(
        gen.gen_transactions(spark, n=40, seed=5),
        stream_dirs["landing"], "transactions", "txt", "20230601",
    )
    qs = ingest.stream_landing_router(
        spark,
        stream_dirs["landing"],
        {
            ("campaigns", "csv"): (schemas.CAMPAIGNS, "raw_layer.r_route_campaigns"),
            ("transactions", "txt"): (
                schemas.TRANSACTIONS, "raw_layer.r_route_transactions",
            ),
        },
        stream_dirs["archive"],
        stream_dirs["ckpt"],
    )
    ingest.drain(qs)
    assert spark.table("raw_layer.r_route_campaigns").count() == 60
    assert spark.table("raw_layer.r_route_transactions").count() == 40
    # BOTH streams' files must be archived (pending records are
    # namespaced per stream — a shared record would let one stream
    # clobber the other's and strand its files in landing forever)
    assert os.listdir(f"{stream_dirs['landing']}/csv") == []
    assert os.listdir(f"{stream_dirs['landing']}/txt") == []
    pending = f"{stream_dirs['archive']}/_pending"
    assert not os.path.exists(pending) or os.listdir(pending) == []
    manifests = os.listdir(f"{stream_dirs['archive']}/_manifests")
    assert any("campaigns_csv" in m for m in manifests)
    assert any("transactions_txt" in m for m in manifests)


def test_on_batch_hook_refreshes_downstream(spark, stream_dirs):
    """E3 semantics: a committed batch triggers the dependent transform
    (the reference's DAG-trigger REST call, in-process)."""
    spark.sql("CREATE DATABASE IF NOT EXISTS raw_layer")
    for t in ("r_hook_campaigns", "hook_rollup"):
        spark.sql(f"DROP TABLE IF EXISTS raw_layer.{t}")
    gen.write_landing_file(
        gen.gen_campaigns(spark, n=30, seed=6),
        stream_dirs["landing"], "campaigns", "csv", "20230601",
    )
    seen_batches = []

    def refresh(sess, batch_id):
        seen_batches.append(batch_id)
        sess.table("raw_layer.r_hook_campaigns").groupBy("country").count().write.mode(
            "overwrite"
        ).saveAsTable("raw_layer.hook_rollup")

    q = ingest.stream_landing_table(
        spark, stream_dirs["landing"], "campaigns", "csv", schemas.CAMPAIGNS,
        "raw_layer.r_hook_campaigns", stream_dirs["archive"], stream_dirs["ckpt"],
        on_batch=refresh,
    )
    ingest.drain(q)
    assert seen_batches == [0]
    rollup = spark.table("raw_layer.hook_rollup").toPandas()
    assert rollup["count"].sum() == 30


def test_archival_deferred_until_commit(spark, stream_dirs):
    """Crash-safety: a batch's input files must remain in landing until
    the batch's checkpoint commit is durable — otherwise a crash between
    append and commit leaves the offset log pointing at moved files and
    the replay fails. The observable contract: files are still present
    while the batch (here, its on_batch hook) is running, and are
    archived by drain()/the next batch."""
    spark.sql("CREATE DATABASE IF NOT EXISTS raw_layer")
    spark.sql("DROP TABLE IF EXISTS raw_layer.r_defer_campaigns")
    gen.write_landing_file(
        gen.gen_campaigns(spark, n=20, seed=9),
        stream_dirs["landing"], "campaigns", "csv", "20230601",
    )
    landing_csv = f"{stream_dirs['landing']}/csv"
    seen_during_batch = []

    def snoop(sess, batch_id):
        seen_during_batch.append(sorted(os.listdir(landing_csv)))

    q = ingest.stream_landing_table(
        spark, stream_dirs["landing"], "campaigns", "csv", schemas.CAMPAIGNS,
        "raw_layer.r_defer_campaigns", stream_dirs["archive"], stream_dirs["ckpt"],
        on_batch=snoop,
    )
    ingest.drain(q)
    # inside the batch, the input file had not been moved yet
    assert seen_during_batch and any(
        f.startswith("campaigns_") for f in seen_during_batch[0]
    )
    # after drain, it is archived and gone from landing
    assert any(f.startswith("campaigns_") for f in os.listdir(stream_dirs["archive"]))
    assert not any(f.startswith("campaigns_") for f in os.listdir(landing_csv))
    # and no pending record remains
    assert not os.path.exists(f"{stream_dirs['archive']}/_pending") or not os.listdir(
        f"{stream_dirs['archive']}/_pending"
    )


def test_replay_after_crash_between_append_and_commit(spark, stream_dirs):
    """Kill-window e2e (VERDICT r2 #6): simulate a crash AFTER a batch's
    append + pending-record but BEFORE its checkpoint commit became
    durable, by deleting the commit-log entry the finished batch wrote.
    The restart must replay the batch from the offset log's recorded
    file paths — which deferred archival guarantees still exist — with
    no FileNotFoundException and no row loss (append sink is
    at-least-once on replay, so duplicates are allowed; loss is not)."""
    spark.sql("CREATE DATABASE IF NOT EXISTS raw_layer")
    spark.sql("DROP TABLE IF EXISTS raw_layer.r_replay_campaigns")
    df = gen.gen_campaigns(spark, n=120, seed=11)
    gen.write_landing_file(df, stream_dirs["landing"], "campaigns", "csv", "20230601")
    landing_csv = f"{stream_dirs['landing']}/csv"

    q = ingest.stream_landing_table(
        spark, stream_dirs["landing"], "campaigns", "csv", schemas.CAMPAIGNS,
        "raw_layer.r_replay_campaigns", stream_dirs["archive"], stream_dirs["ckpt"],
    )
    q.awaitTermination()  # batch 0 appended + pending recorded + committed
    q.query.stop()  # release the checkpoint so the "restarted process" can own it

    # --- crash simulation: the commit-log write never became durable ---
    commit0 = os.path.join(stream_dirs["ckpt"], "commits", "0")
    assert os.path.exists(commit0)
    os.remove(commit0)
    # a never-written commit has no Hadoop checksum twin either
    crc0 = os.path.join(stream_dirs["ckpt"], "commits", ".0.crc")
    if os.path.exists(crc0):
        os.remove(crc0)

    # archival bounded by the commit log must now refuse to move anything:
    # the batch counts as uncommitted, its files must stay for the replay
    assert q.flush_archive() == []
    assert any(f.startswith("campaigns_") for f in os.listdir(landing_csv))
    pending = f"{stream_dirs['archive']}/_pending"
    assert os.listdir(pending)  # the pending record survives the crash

    # --- restart: offset log has batch 0, commit log does not → replay ---
    q2 = ingest.stream_landing_table(
        spark, stream_dirs["landing"], "campaigns", "csv", schemas.CAMPAIGNS,
        "raw_layer.r_replay_campaigns", stream_dirs["archive"], stream_dirs["ckpt"],
    )
    ingest.drain(q2)  # must not raise (no FileNotFoundException)

    out = spark.table("raw_layer.r_replay_campaigns")
    got = {r.campaign_id for r in out.select("campaign_id").collect()}
    want = {r.campaign_id for r in df.select("campaign_id").collect()}
    assert got == want  # zero row loss across the crash + replay
    assert out.count() >= 120  # at-least-once: duplicates allowed, loss not
    # replayed batch 0 is now durably committed → drain archived its files
    assert any(f.startswith("campaigns_") for f in os.listdir(stream_dirs["archive"]))
    assert not any(f.startswith("campaigns_") for f in os.listdir(landing_csv))
    assert not os.path.exists(pending) or not os.listdir(pending)


def test_parse_landing_filename(spark):
    df = spark.createDataFrame(
        [("/data/landing/csv/campaigns_20230601_ab12cd34.csv",)], ["path"]
    )
    table, ext = ingest.parse_landing_filename(F.col("path"))
    row = df.select(table.alias("t"), ext.alias("e")).first()
    assert (row.t, row.e) == ("campaigns", "csv")


@pytest.mark.parametrize(
    "stream_fn,batch_fn",
    [
        (windows.streaming_tumbling, windows.events_tumbling),
        (windows.streaming_session, windows.events_session),
    ],
    ids=["tumbling", "session"],
)
def test_streaming_equals_batch(spark, tmp_path, stream_fn, batch_fn, request):
    name = f"stream_out_{request.node.callspec.id}"
    schemas.pin_utc(spark)
    agg = stream_fn(harness.events_stream(spark, SF_CORRECTNESS))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(f"SELECT * FROM {name}").toPandas()
    want = batch_fn(spark, SF_CORRECTNESS).toPandas()
    assert_frames_match(got, want, name)


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    from datapipeline_gcp_spark.streaming import joins

    schemas.pin_utc(spark)
    src = harness.events_stream(spark, SF_CORRECTNESS)
    joined = joins.streaming_interval_join(
        src.filter(F.col("event_type") == "purchase"),
        src.filter(F.col("event_type") == "click"),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_interval_join")
        .option("checkpointLocation", str(tmp_path / "ckpt_ij"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM stream_interval_join").toPandas()
    want = joins.events_interval_join(spark, SF_CORRECTNESS).toPandas()
    assert_frames_match(got, want, "stream_interval_join")


def test_stream_static_enrichment_equals_batch(spark, tmp_path):
    from datapipeline_gcp_spark.streaming import joins

    dim = schemas.load_testdata(spark, SF_CORRECTNESS, ("customer",))["customer"]
    schemas.pin_utc(spark)
    enriched = joins.enrich_with_dim(
        harness.events_stream(spark, SF_CORRECTNESS), dim
    )
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_enriched")
        .option("checkpointLocation", str(tmp_path / "ckpt_en"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM stream_enriched").toPandas()
    want = joins.events_enriched(spark, SF_CORRECTNESS).toPandas()
    assert_frames_match(got, want, "stream_enriched")


def test_enrichment_preserves_events_for_unknown_users(spark):
    from datapipeline_gcp_spark.streaming import joins

    ev = spark.createDataFrame(
        [(1, 10, "click", 1.0), (2, 999, "click", 2.0)],
        ["event_id", "user_id", "event_type", "value"],
    )
    dim = spark.createDataFrame(
        [(10, "Customer#10", "BUILDING")],
        ["c_custkey", "c_name", "c_mktsegment"],
    )
    out = joins.enrich_with_dim(ev, dim).toPandas().set_index("event_id")
    # the fixture data never exercises the null-extension path (every
    # events.user_id matches a customer), so pin LEFT semantics here:
    # unknown users keep their events with null dim columns
    assert len(out) == 2
    assert out.loc[1, "customer_name"] == "Customer#10"
    assert out.loc[2, "customer_name"] is None or out.loc[2, "customer_name"] != out.loc[2, "customer_name"]  # null/NaN


def test_stream_dedup_gate_exactly_once_under_redelivery(spark):
    """The redelivery-storm gate: every event delivered twice must
    come out exactly once — equal to the batch DISTINCT of the key."""
    from datapipeline_gcp_spark.streaming.dedup import events_stream_dedup_gate

    got = events_stream_dedup_gate(spark, SF_CORRECTNESS).toPandas()
    want = (
        spark.read.parquet(f"{SF_CORRECTNESS}/events.parquet")
        .select("event_id")
        .distinct()
        .toPandas()
    )
    assert len(got) == len(want)
    assert len(got) == got["event_id"].nunique()  # no duplicate survived
    assert set(got["event_id"]) == set(want["event_id"])


def test_source_log_files_parses_and_falls_back(tmp_path):
    """The archival record's authoritative source: map the query batch
    to its FileStreamSource log-offset range through ``offsets/``, parse
    the source log files (v1 header + JSON lines, batchId filter for
    compacted files), and return None - the row-derived fallback - on
    ANY format drift rather than failing the query inside foreachBatch."""
    from datapipeline_gcp_spark.streaming.ingest import _source_log_files

    ckpt = tmp_path / "ckpt"
    d = ckpt / "sources" / "0"
    o = ckpt / "offsets"
    d.mkdir(parents=True)
    o.mkdir(parents=True)
    meta = '{"batchWatermarkMs":0,"batchTimestampMs":1}\n'

    def offset(batch: int, log_offset: int) -> None:
        (o / str(batch)).write_text(f"v1\n{meta}{{\"logOffset\":{log_offset}}}\n")

    # plain case: query batch == source batch
    offset(0, 0)
    (d / "0").write_text(
        'v1\n{"path":"file:///a.csv","timestamp":1,"batchId":0}\n'
        '{"path":"file:/b.csv","timestamp":2,"batchId":0}\n'
    )
    assert _source_log_files(str(ckpt), 0) == ["file:///a.csv", "file:/b.csv"]

    # the cross-run drift seam: an empty watermark-advance batch (1)
    # does not move the source offset, so query batch 2's files live
    # under SOURCE batch 1 — the old <query batch> lookup found nothing
    # and stranded redelivered files in landing
    offset(1, 0)
    offset(2, 1)
    (d / "1").write_text('v1\n{"path":"file:///redelivered.csv","batchId":1}\n')
    assert _source_log_files(str(ckpt), 1) == []  # no new files
    assert _source_log_files(str(ckpt), 2) == ["file:///redelivered.csv"]

    # compacted source log: only the requested source batch's entries,
    # resolved from the oldest compact at-or-after it
    offset(9, 9)
    offset(10, 10)
    (d / "10.compact").write_text(
        'v1\n{"path":"file:///old.csv","batchId":4}\n'
        '{"path":"file:///new.csv","batchId":10}\n'
    )
    assert _source_log_files(str(ckpt), 10) == ["file:///new.csv"]

    # missing offsets entry for the batch or its predecessor
    assert _source_log_files(str(ckpt), 99) is None
    offset(50, 20)
    assert _source_log_files(str(ckpt), 50) is None  # no offsets/49

    # format drift in the source log: not JSON / not a dict / missing
    # "path" / missing "batchId" (defaulting the latter would claim
    # other batches' compacted-log files as pending for archival)
    offset(6, 6)
    offset(7, 7)
    for bad in (
        "not json\n",
        "[1,2]\n",
        '{"timestamp":1,"batchId":7}\n',
        '{"path":"file:///x.csv","timestamp":1}\n',
    ):
        (d / "7").write_text("v1\n" + bad)
        assert _source_log_files(str(ckpt), 7) is None

    # format drift in the offset log itself
    (o / "8").write_text("v1\n" + meta + '{"weird":true}\n')
    assert _source_log_files(str(ckpt), 8) is None


def test_local_path_uri_forms():
    from datapipeline_gcp_spark.streaming.ingest import _local_path

    assert _local_path("file:/x/y.csv") == "/x/y.csv"
    assert _local_path("file:///x/y.csv") == "/x/y.csv"
    assert _local_path("/x/y.csv") == "/x/y.csv"


def test_crash_between_append_and_pending_record_is_exactly_once(
    spark, stream_dirs, monkeypatch
):
    """Fault-injection of the OTHER kill window (VERDICT r10 #1): the
    process dies AFTER the batch's sink write but BEFORE its pending-
    archive record (and therefore before its checkpoint commit). The
    batch replays on restart; with the idempotent partition-overwrite
    sink the replay overwrites its own orphaned partition, so the table
    holds every row EXACTLY once and every landing file is archived
    exactly once — no duplicate, no loss, no stranded file."""
    spark.sql("CREATE DATABASE IF NOT EXISTS raw_layer")
    spark.sql("DROP TABLE IF EXISTS raw_layer.r_crash_campaigns")
    dfs = [gen.gen_campaigns(spark, n=40, seed=20 + d) for d in range(3)]
    for d, df in enumerate(dfs):
        gen.write_landing_file(
            df, stream_dirs["landing"], "campaigns", "csv", f"2023060{d + 1}"
        )
    landing_csv = f"{stream_dirs['landing']}/csv"
    basenames = sorted(os.listdir(landing_csv))
    assert len(basenames) == 3

    # crash simulation: die once, mid-protocol, in batch 1
    real_record = ingest._record_pending
    armed = {"fail": True}

    def dying_record(files, archive_dir, stream_id, batch_id):
        if batch_id == 1 and armed["fail"]:
            armed["fail"] = False
            raise RuntimeError("simulated crash between append and record")
        real_record(files, archive_dir, stream_id, batch_id)

    monkeypatch.setattr(ingest, "_record_pending", dying_record)

    def start():
        return ingest.stream_landing_table(
            spark, stream_dirs["landing"], "campaigns", "csv",
            schemas.CAMPAIGNS, "raw_layer.r_crash_campaigns",
            stream_dirs["archive"], stream_dirs["ckpt"],
            max_files_per_trigger=1, idempotent=True,
        )

    q = start()
    with pytest.raises(Exception):
        q.awaitTermination()  # batch 1's foreachBatch raised → query dies
    q.query.stop()

    # mid-crash invariants: batch 0 committed and (at batch 1's start)
    # archived; batch 1's write left an ORPHAN partition but no pending
    # record, and its file is still in landing for the replay
    table = spark.table("raw_layer.r_crash_campaigns")
    assert table.count() == 80  # batch 0 + batch 1's orphan, no commit
    still_landing = sorted(os.listdir(landing_csv))
    assert basenames[1] in still_landing and basenames[2] in still_landing
    pending = f"{stream_dirs['archive']}/_pending"
    assert not os.path.exists(pending) or not os.listdir(pending)

    # restart from the same checkpoint: batch 1 REPLAYS (offset log has
    # it, commit log does not), overwrites its orphan partition, records,
    # commits; batch 2 proceeds; drain archives the tail
    ingest.drain(start())

    out = spark.table("raw_layer.r_crash_campaigns")
    assert out.count() == 120  # exactly once: no duplicate, no loss
    got = {r.campaign_id for r in out.select("campaign_id").collect()}
    want = {
        r.campaign_id
        for df in dfs
        for r in df.select("campaign_id").collect()
    }
    assert got == want
    # every landing file archived EXACTLY once
    assert not os.listdir(landing_csv)
    archived = sorted(
        f for f in os.listdir(stream_dirs["archive"])
        if f.startswith("campaigns_")
    )
    assert archived == basenames
    assert not os.path.exists(pending) or not os.listdir(pending)
    # one manifest per data batch
    manifests = os.listdir(f"{stream_dirs['archive']}/_manifests")
    assert len([m for m in manifests if m.startswith("batch_campaigns_csv")]) == 3


def test_idempotent_replay_after_lost_commit_has_no_duplicates(
    spark, stream_dirs
):
    """The commit-log kill window (the existing append-mode test allows
    duplicates there — at-least-once); with ``idempotent=True`` the same
    replay must land EXACTLY the original rows."""
    spark.sql("CREATE DATABASE IF NOT EXISTS raw_layer")
    spark.sql("DROP TABLE IF EXISTS raw_layer.r_idem_campaigns")
    df = gen.gen_campaigns(spark, n=70, seed=31)
    gen.write_landing_file(df, stream_dirs["landing"], "campaigns", "csv", "20230601")

    def start():
        return ingest.stream_landing_table(
            spark, stream_dirs["landing"], "campaigns", "csv",
            schemas.CAMPAIGNS, "raw_layer.r_idem_campaigns",
            stream_dirs["archive"], stream_dirs["ckpt"], idempotent=True,
        )

    q = start()
    q.awaitTermination()
    q.query.stop()
    # the batch ran to completion but its commit never became durable
    os.remove(os.path.join(stream_dirs["ckpt"], "commits", "0"))
    crc = os.path.join(stream_dirs["ckpt"], "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)

    ingest.drain(start())  # replay overwrites partition 0

    out = spark.table("raw_layer.r_idem_campaigns")
    assert out.count() == 70  # exactly once, not at-least-once
    assert not os.listdir(f"{stream_dirs['landing']}/csv")


def test_flush_pending_replay_after_partial_archival(tmp_path):
    """The archival-side crash window: flush_pending dies AFTER moving
    some (or all) files but BEFORE removing the batch's pending record.
    The restart re-runs flush over the surviving record — already-moved
    files must be skipped (not duplicated, not FileNotFoundError), the
    manifest rewritten, and the record removed exactly once."""
    landing = tmp_path / "landing"
    archive = tmp_path / "archive"
    os.makedirs(landing)
    files = []
    for i in range(3):
        p = landing / f"campaigns_2024010{i}_aa.csv"
        p.write_text(f"data{i}")
        files.append(str(p))
    ingest._record_pending(files, str(archive), "campaigns_csv", 0)

    moved = ingest.flush_pending(str(archive), "campaigns_csv", upto_exclusive=1)
    assert sorted(os.path.basename(f) for f in moved) == sorted(
        os.path.basename(f) for f in files
    )
    # crash simulation: archival completed but the record removal never
    # became durable — the record reappears on restart
    ingest._record_pending(files, str(archive), "campaigns_csv", 0)
    pending = archive / "_pending"
    assert os.listdir(pending)

    moved2 = ingest.flush_pending(str(archive), "campaigns_csv", upto_exclusive=1)
    assert moved2 == []  # every file already archived → skipped
    assert not os.listdir(pending)  # record removed this time
    archived = sorted(
        f for f in os.listdir(archive) if f.startswith("campaigns_")
    )
    assert archived == sorted(os.path.basename(f) for f in files)
    for f in archived:  # content survived the move exactly once
        assert (archive / f).read_text().startswith("data")
    # manifest rewritten idempotently (one per batch, not per attempt)
    manifests = os.listdir(archive / "_manifests")
    assert manifests == ["batch_campaigns_csv_0.json"]


def test_path_is_directory_hadoop_fs_via_file_uri(spark, tmp_path):
    """VERDICT r11 #3: layout detection must work on Hadoop-visible URIs,
    not just local paths — the file:// scheme forces the Hadoop
    FileSystem branch (os.path.isdir is always False on URIs)."""
    from datapipeline_gcp_spark.streaming.harness import path_is_directory

    d = tmp_path / "events.parquet"
    d.mkdir()
    f = tmp_path / "single.parquet"
    f.write_bytes(b"x")
    # Hadoop branch (URI scheme present)
    assert path_is_directory(spark, f"file://{d}") is True
    assert path_is_directory(spark, f"file://{f}") is False
    assert path_is_directory(spark, f"file://{tmp_path}/absent") is False
    # local fast path (scheme-less)
    assert path_is_directory(spark, str(d)) is True
    assert path_is_directory(spark, str(f)) is False


def test_events_stream_directory_layout_on_file_uri(spark, tmp_path):
    """The regression the detection exists to prevent: a directory-layout
    events.parquet reached via URI previously took the single-file
    pathGlobFilter branch and streamed ZERO files. Build a two-part-file
    directory layout, address it via file://, and assert the stream sees
    every row."""
    from datapipeline_gcp_spark.streaming.harness import (
        events_stream,
        run_to_memory_sink,
    )

    src = spark.read.parquet(f"{SF_CORRECTNESS}/events.parquet")
    n = src.count()
    out = tmp_path / "sf" / "events.parquet"
    src.repartition(2).write.parquet(str(out))
    assert len([p for p in os.listdir(out) if p.endswith(".parquet")]) >= 2

    stream = events_stream(spark, f"file://{tmp_path}/sf")
    run_to_memory_sink(
        spark, stream, "dirlayout_uri_gate", str(tmp_path / "ckpt")
    )
    got = spark.table("dirlayout_uri_gate").count()
    assert got == n and n > 0
