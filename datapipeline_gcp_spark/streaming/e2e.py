"""End-to-end streaming ingest composition gate (VERDICT r4 #6): the
landing-file router, the watermark-bounded exactly-once dedup, the raw
table append, and the crash-safe deferred archival — composed into ONE
running pipeline and proven against the batch equivalent.

This is the full Spark-native redesign of the reference's event path
(GCS finalize → Pub/Sub → consumer routes by filename → load DAG →
archive; ``/root/reference/messaging/consumer/main.py:39-74``,
``load_campaigns_csv.py:115-141``) exercised end to end: the pieces are
individually gated (router e2e tests, ``events_stream_dedup_gate``,
archival crash-replay tests), but only a composed run proves the seams
— that the dedup operator rides the ingest checkpoint, that the append
sees deduped rows, that archival fires for a transformed stream.

The gate: the driver's events table is written out as THREE landing
CSV files (hash-split by event id), and two of them are written AGAIN
under new object names — a bus redelivering whole objects, the
at-least-once failure mode the reference absorbs via GCS overwrite.
One ``availableNow`` run of ``stream_landing_table`` with
``transform=streaming_ingest_dedup`` must land exactly the distinct
events in the raw table, and drain() must archive the landing files.
Oracle: the events table itself (event ids are unique, so batch
equivalence is plain SELECT — a leaked duplicate doubles rows, an
over-eager dedup loses rows, a broken route loses a whole file's
worth).

Scale: identical machinery to production — file-source globbing,
maxFilesPerTrigger batching, hash-partitioned dedup state bounded by
the watermark, append sink, post-commit archival. The redelivered
files land in the same trigger here (deterministic single-batch gate);
cross-trigger redelivery is the already-proven
``events_stream_dedup_gate`` contract.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapipeline_gcp_spark import sinks
from datapipeline_gcp_spark.functions import clusters, dedup
from datapipeline_gcp_spark.landing_format import (
    TEXT_READ_OPTS,
    with_text_options,
)
from datapipeline_gcp_spark.functions.multimodal import (
    PHASH_HASHED_CTES,
    ahash_stage,
    phash_stream_assets,
)
from datapipeline_gcp_spark.schemas import load_testdata, pin_utc
from datapipeline_gcp_spark.sources.generators import write_landing_file
from datapipeline_gcp_spark.streaming.dedup import (
    DEDUP_WATERMARK,
    streaming_ingest_dedup,
)
from datapipeline_gcp_spark.streaming.harness import (
    SQL_EVENT_TIME_VALID,
    gate_scope,
    run_to_memory_sink,
    split_event_time,
    valid_event_time,
)
from datapipeline_gcp_spark.streaming.ingest import drain, stream_landing_table

N_PARTS = 3
REDELIVERED_PARTS = (0, 1)  # these parts arrive twice
GATE_TABLE = "gate_e2e_raw_events"
CROSSRUN_TABLE = "gate_crossrun_raw_events"
ASSET_GATE_TABLE = "gate_multimodal_raw_assets"
INCR_INDEX_TABLE = "gate_incr_lsh_index"
INCR_COMP_TABLE = "gate_incr_components"

_CSV_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ]
)


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_testdata(spark, sf_dir, ("events",))["events"].select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
    )


def _drop_gate_table(spark: SparkSession, table: str) -> None:
    """DROP plus managed-location cleanup: a crashed earlier run can
    leave the location behind after the catalog entry is gone —
    saveAsTable then refuses the name."""
    from datapipeline_gcp_spark.streaming.ingest import _local_path

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(os.path.join(_local_path(wh), table), ignore_errors=True)


def _ingest_dedup_valid(s: DataFrame) -> DataFrame:
    """The e2e gates' stream transform: event-time validity boundary
    (r9 watermark-poisoning defense — one corrupt future clock in a
    landing file must not expire every honest key's dedup state) THEN
    watermark-bounded exactly-once dedup. Rejected rows never reach the
    raw table; they are observable via the gates' quarantine scan
    (:func:`_drain_quarantine`)."""
    return streaming_ingest_dedup(
        s.filter(valid_event_time()), ["event_id"], project_keys=False
    )


def _drain_quarantine(
    spark: SparkSession, landing: str, root: str, sink_name: str
) -> None:
    """The quarantine leg of the landing ingest: a second availableNow
    scan over the SAME landing glob keeping only validity-REJECTED rows
    (plus their source file for tracing), into an observable memory
    sink — Structured Streaming has no side outputs, so the production
    split idiom is two filters over one source, the quarantine leg
    writing a dead-letter table. Runs BEFORE the main ingest (whose
    drain archives the landing files away). Fresh checkpoint per call —
    a memory sink cannot recover a checkpoint, and archival has already
    emptied landing of the previous run's files, so each call scans
    only what is currently pending (the crossrun gate's run 2: just the
    redelivered objects). Production would use a durable dead-letter
    table + checkpoint instead."""
    src = (
        with_text_options(
            spark.readStream.schema(_CSV_SCHEMA)
            .option("pathGlobFilter", "events_*.csv")
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
            .option("header", True),
            TEXT_READ_OPTS,
        )
        .csv(f"{landing}/csv")
        .select("*", F.col("_metadata.file_path").alias("_src"))
    )
    ckpt = tempfile.mkdtemp(dir=root, prefix="qckpt_")
    run_to_memory_sink(spark, split_event_time(src)[1], sink_name, ckpt)


def _assert_archived(
    landing: str, archive: str, ext: str, want: int, run: str = ""
) -> None:
    """Archival completeness after a drain: ``landing/<ext>`` is empty
    and *archive* holds exactly *want* ``.<ext>`` files."""
    n_landing = len(os.listdir(f"{landing}/{ext}"))
    n_archived = len([f for f in os.listdir(archive) if f.endswith(f".{ext}")])
    if n_landing or n_archived != want:
        raise AssertionError(
            f"{run + ': ' if run else ''}archival incomplete: {n_landing} "
            f"still landing, {n_archived} archived (want {want})"
        )


def events_stream_e2e_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_utc(spark)
    ev = _load_events(spark, sf_dir)
    _drop_gate_table(spark, GATE_TABLE)
    with gate_scope(spark, "gate_e2e_") as root:
        landing = f"{root}/landing"
        archive = f"{root}/archive"
        ckpt = f"{root}/ckpt"
        parts = {
            i: ev.filter(F.pmod(F.col("event_id"), N_PARTS) == i)
            for i in range(N_PARTS)
        }
        for i in range(N_PARTS):
            write_landing_file(parts[i], landing, "events", "csv", "20240101")
        for i in REDELIVERED_PARTS:  # same rows, new object name
            write_landing_file(parts[i], landing, "events", "csv", "20240101")

        _drain_quarantine(
            spark, landing, root, f"{GATE_TABLE}_quarantine"
        )
        stream = stream_landing_table(
            spark,
            landing,
            "events",
            "csv",
            _CSV_SCHEMA,
            GATE_TABLE,
            archive,
            ckpt,
            transform=_ingest_dedup_valid,
        )
        drain(stream)
        _assert_archived(
            landing, archive, "csv", N_PARTS + len(REDELIVERED_PARTS)
        )
    return spark.table(GATE_TABLE).select("event_id", "user_id", "event_type")


def events_stream_crossrun_redelivery_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The cross-RUN redelivery seam (VERDICT r5 #2): the single-batch
    e2e gate deliberately keeps redelivery inside one trigger; this gate
    proves the composition across a checkpoint RESTART — the reference's
    at-least-once Pub/Sub path redelivering an object days later, after
    the consumer restarted (``messaging/consumer/main.py:39-74``).

    Run 1 ingests all three landing files to completion (one batch —
    the files hash-split the full time range, so a single trigger is
    the correct watermark posture) and archives them. Then two of the
    parts are written AGAIN under new object names and a SECOND
    ``availableNow`` run starts on the SAME checkpoint. Everything the
    second run sees is a duplicate, and both defenses the checkpoint
    carries must hold: keys still inside the watermark horizon are
    dropped by restored dedup state; keys older than the restored
    watermark are dropped by the stateful operator's late-data filter.
    Either leak doubles rows vs the batch oracle. Archival must fire
    for BOTH runs' files even though run 2 emits zero surviving rows —
    exactly the seam the source-log-derived pending set exists for
    (``ingest._source_log_files``); a row-derived fallback would strand
    run 2's files in landing, which this gate asserts against."""
    pin_utc(spark)
    ev = _load_events(spark, sf_dir)
    _drop_gate_table(spark, CROSSRUN_TABLE)
    with gate_scope(spark, "gate_crossrun_") as root:
        landing = f"{root}/landing"
        archive = f"{root}/archive"
        ckpt = f"{root}/ckpt"
        parts = {
            i: ev.filter(F.pmod(F.col("event_id"), N_PARTS) == i)
            for i in range(N_PARTS)
        }

        def start_run() -> None:
            # quarantine leg first (landing still holds only this run's
            # pending files — archival emptied it after run 1), then
            # the main ingest whose drain archives the files away
            _drain_quarantine(
                spark, landing, root, f"{CROSSRUN_TABLE}_quarantine"
            )
            stream = stream_landing_table(
                spark,
                landing,
                "events",
                "csv",
                _CSV_SCHEMA,
                CROSSRUN_TABLE,
                archive,
                ckpt,
                transform=_ingest_dedup_valid,
            )
            drain(stream)

        for i in range(N_PARTS):
            write_landing_file(parts[i], landing, "events", "csv", "20240101")
        start_run()
        _assert_archived(landing, archive, "csv", N_PARTS, "run 1")
        # the bus redelivers two whole objects AFTER the pipeline run
        # finished — new object names, same rows
        for i in REDELIVERED_PARTS:
            write_landing_file(parts[i], landing, "events", "csv", "20240101")
        start_run()  # same checkpoint: restored state + watermark
        _assert_archived(
            landing, archive, "csv", N_PARTS + len(REDELIVERED_PARTS), "run 2"
        )
    return spark.table(CROSSRUN_TABLE).select(
        "event_id", "user_id", "event_type"
    )


#: the raw table holds exactly the validity-passing distinct events —
#: the oracle mirrors the transform's event-time boundary. DISTINCT
#: because the ingest contract is exactly-once PER EVENT ID: an exact
#: duplicate source row (r9 dupkeys variant — the batch-layer
#: redelivery artifact) is just one more redelivery for the dedup
#: operator to collapse, indistinguishable from a redelivered file.
_E2E_ORACLE = f"""
SELECT DISTINCT event_id, user_id, event_type FROM events
WHERE {SQL_EVENT_TIME_VALID}
"""


IDEM_TABLE = "gate_idem_raw_events"
N_IDEM_PARTS = 4


def events_stream_idempotent_replay_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exactly-once under BATCH REPLAY, externally oracled (VERDICT r10
    #1, the registry-gate half; ``tests/test_streaming.py`` holds the
    mid-``foreachBatch`` kill): the idempotent partition-overwrite sink
    (``stream_landing_table(idempotent=True)``) must land every source
    row exactly once even when a batch's checkpoint commit is LOST and
    the batch replays on restart.

    The gate: the events table is written as four landing CSVs,
    ingested with ``maxFilesPerTrigger=2`` (two batches) and NO
    transform — this gate's exactly-once comes from the SINK's
    idempotence, not from dedup state, so exact-duplicate source rows
    must land exactly as many times as they occur. Run 1 completes,
    archival is deliberately NOT flushed, and the final batch's commit
    log entry is deleted — the durable-crash simulation the pending-
    archive protocol is designed for (deferred archival guarantees the
    replayed batch's files are still in landing). Run 2 on the same
    checkpoint replays the batch, OVERWRITES its own orphaned
    ``_ingest_batch`` partition, and drains. A plain append sink would
    double the replayed batch's rows and fail the row-count check; a
    lost file would fail the value hash; a stranded landing file or a
    double archival fails the in-gate asserts.
    """
    pin_utc(spark)
    ev = _load_events(spark, sf_dir)
    _drop_gate_table(spark, IDEM_TABLE)
    with gate_scope(spark, "gate_idem_") as root:
        landing = f"{root}/landing"
        archive = f"{root}/archive"
        ckpt = f"{root}/ckpt"
        for i in range(N_IDEM_PARTS):
            write_landing_file(
                ev.filter(
                    F.coalesce(
                        F.pmod(F.col("event_id"), N_IDEM_PARTS), F.lit(0)
                    )
                    == i
                ),
                landing, "events", "csv", "20240101",
            )
        basenames = sorted(os.listdir(f"{landing}/csv"))

        def start_run():
            return stream_landing_table(
                spark, landing, "events", "csv", _CSV_SCHEMA, IDEM_TABLE,
                archive, ckpt, max_files_per_trigger=2, idempotent=True,
            )

        q = start_run()
        q.awaitTermination()  # run 1 complete; archival NOT flushed
        # crash simulation: the last batch's commit never became durable
        commits = [
            int(f) for f in os.listdir(f"{ckpt}/commits") if f.isdigit()
        ]
        last = max(commits)
        os.remove(f"{ckpt}/commits/{last}")
        crc = f"{ckpt}/commits/.{last}.crc"
        if os.path.exists(crc):
            os.remove(crc)

        drain(start_run())  # replay the lost batch, then archive all
        still = os.listdir(f"{landing}/csv")
        archived = sorted(
            f for f in os.listdir(archive) if f.endswith(".csv")
        )
        if still or archived != basenames:
            raise AssertionError(
                f"archival not exactly-once: {len(still)} still landing, "
                f"archived {archived} vs landed {basenames}"
            )
    return spark.table(IDEM_TABLE).select("event_id", "user_id", "event_type")


#: full fidelity, no DISTINCT and no validity boundary: this gate has
#: no dedup transform and no watermark, so every source row — including
#: exact duplicates and out-of-validity timestamps — must land exactly
#: as many times as it occurs in the source.
_IDEM_ORACLE = "SELECT event_id, user_id, event_type FROM events"


# ---------------------------------------------------------------------------
# Multimodal ingest gate: binary-payload landing shards → streaming
# phash dedup → append + archival (VERDICT r5 #6b / r6 #2)
# ---------------------------------------------------------------------------

_ASSET_LANDING_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def multimodal_phash_transform(stream: DataFrame) -> DataFrame:
    """The streaming phash-dedup transform: Arrow-batched aHash over the
    binary payload (``ahash_stage`` — THE payload boundary: downstream
    of it only 8-byte hashes plus the passthrough scalars exist, so the
    dedup state store and every shuffle move hashes, never image bytes)
    then watermark-bounded exactly-once dedup keyed on the hash. The
    event-time watermark is re-declared on the stage's OUTPUT ``ts`` —
    mapInPandas emits fresh attributes, so a tag set upstream would not
    survive the crossing. ``_src`` rides through for the ingest
    machinery's row-derived archival fallback.

    Event-time validity: the gate's asset fixture derives ``ts``
    synthetically (epoch + id mod 3600, ``phash_stream_assets``), so a
    corrupt clock cannot reach this watermark in any sweep; a
    production asset feed with REAL capture clocks must put
    ``harness.valid_event_time`` in front of the watermark exactly as
    the seven event-time gates do (r9 watermark-poisoning boundary)."""
    hashed = ahash_stage(stream, passthrough=("ts", "_src"))
    out = hashed.withWatermark("ts", DEDUP_WATERMARK).dropDuplicatesWithinWatermark(
        ["ahash"]
    )
    # which physical row wins a hash group is arrival-dependent — emit
    # the hash only (plus _src for archival), keeping the landed table
    # deterministic
    return out.select("ahash", "_src")


def multimodal_stream_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The binary-payload ingest modality composed end to end: asset
    shards (parquet landing files with an opaque ``binary`` payload —
    the reference's consumer routes ANY extension by filename,
    ``/root/reference/messaging/consumer/main.py:39-74``) → streaming
    file source → ``ahash_stage`` → watermark dedup on the perceptual
    hash → raw-table append → crash-safe archival.

    Redelivery: two of the three shards arrive twice under new object
    names (the events-gate storm, now with multi-MB payloads) and the
    planted +3M duplicate assets collide in aHash — both collapse in
    the same dedup state. Oracle: batch phash-distinct over the same
    population (the shared ``PHASH_HASHED_CTES`` byte math) — a leaked
    redelivery or an uncollapsed duplicate writes a repeated hash and
    doubles rows; a lost shard loses hashes.

    Scale: the payload bytes exist only between the parquet scan and
    the mapInPandas boundary — the dedup state store holds 8-byte keys
    bounded by the watermark horizon, and the append sink writes one
    long column (`tests/test_plan_shapes.py` pins payload-below-the-
    stateful-op in the analyzed plan)."""
    pin_utc(spark)
    assets = phash_stream_assets(spark, sf_dir)
    _drop_gate_table(spark, ASSET_GATE_TABLE)
    with gate_scope(spark, "gate_mm_") as root:
        landing = f"{root}/landing"
        archive = f"{root}/archive"
        ckpt = f"{root}/ckpt"
        parts = {
            i: assets.filter(F.pmod(F.col("asset_id"), N_PARTS) == i)
            for i in range(N_PARTS)
        }
        for i in range(N_PARTS):
            write_landing_file(parts[i], landing, "assets", "parquet", "20240101")
        for i in REDELIVERED_PARTS:  # same shards, new object names
            write_landing_file(parts[i], landing, "assets", "parquet", "20240101")

        stream = stream_landing_table(
            spark,
            landing,
            "assets",
            "parquet",
            _ASSET_LANDING_SCHEMA,
            ASSET_GATE_TABLE,
            archive,
            ckpt,
            transform=multimodal_phash_transform,
        )
        drain(stream)
        _assert_archived(
            landing, archive, "parquet", N_PARTS + len(REDELIVERED_PARTS)
        )
    return spark.table(ASSET_GATE_TABLE).select("ahash")


_MM_GATE_ORACLE = f"""
WITH {PHASH_HASHED_CTES}
SELECT DISTINCT ahash FROM hashed
"""


# ---------------------------------------------------------------------------
# Streaming incremental dedup: per-micro-batch LSH-index probe +
# component-map merge across two checkpointed runs (VERDICT r6 #6)
# ---------------------------------------------------------------------------

_DOCS_LANDING_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _pairs_within(banded: DataFrame) -> DataFrame:
    """Candidate pairs inside one banded-signature relation — the
    ``lsh_candidate_pairs`` tail applied to an ALREADY-banded frame (the
    gate bands each micro-batch exactly once and feeds the same frame to
    the probe, the self-pair, and the index append)."""
    pairs = dedup.within_block_pairs(
        banded, ["band_idx", "band_key"], ["doc_id", "minhash"]
    )
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dedup._sig_match_frac("a.minhash", "b.minhash").alias("sig_match_frac"),
        )
        .distinct()
    )


def _pairs_probe(index: DataFrame, banded: DataFrame) -> DataFrame:
    """Banded batch vs the persisted LSH index — ``probe_lsh_index``
    semantics without re-computing the batch's signatures (the caller
    already banded them once)."""
    e = index.select(
        F.col("doc_id").alias("doc_b"),
        F.col("minhash").alias("sig_e"),
        "band_idx",
        "band_key",
    )
    n = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("minhash").alias("sig_n"),
        "band_idx",
        "band_key",
    )
    return (
        n.join(e, ["band_idx", "band_key"])
        .select(
            "doc_a",
            "doc_b",
            dedup._sig_match_frac("sig_n", "sig_e").alias("sig_match_frac"),
        )
        .distinct()
    )


INCR_INDEX_BASE = "gate_incr_lsh_index_base"
INCR_COMP_BASE = "gate_incr_components_base"
#: gate-scale bucket count, matched to gate_scope's shuffle partition
#: count (a real deployment sizes buckets to corpus volume —
#: sinks.write_bucketed)
INCR_N_BUCKETS = 8
#: (applicationId, sf_dir) whose day-0 base tables are already on disk,
#: mapped to the base index's banded-row count (``idx0`` — counted once
#: at build instead of once per gate invocation)
_INCR_BASE_BUILT: dict[tuple[str, str], int] = {}


def _ensure_incr_base(spark: SparkSession, sf_dir: str) -> int:
    """Build the day-0 state once per (session, sf): the corpus's
    bucketed LSH index and its component map — signatures computed
    exactly once (the map's edges come from self-pairing the INDEX).
    Returns the base index's banded-row count."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if (
        key in _INCR_BASE_BUILT
        and spark.catalog.tableExists(INCR_INDEX_BASE)
        and spark.catalog.tableExists(INCR_COMP_BASE)
    ):
        return _INCR_BASE_BUILT[key]
    _drop_gate_table(spark, INCR_INDEX_BASE)
    _drop_gate_table(spark, INCR_COMP_BASE)
    corpus = dedup.neardup_fixture(spark, sf_dir)
    dedup.build_lsh_index(corpus, INCR_INDEX_BASE, n_buckets=INCR_N_BUCKETS)
    corpus_pairs = _pairs_within(spark.table(INCR_INDEX_BASE))
    comp0 = clusters.connected_components(
        corpus_pairs.filter(
            F.col("sig_match_frac") >= clusters.EDGE_THRESHOLD
        ).select("doc_a", "doc_b")
    )
    comp0.write.mode("overwrite").saveAsTable(INCR_COMP_BASE)
    _INCR_BASE_BUILT.clear()  # one base pair: another sf's marker is stale
    _INCR_BASE_BUILT[key] = spark.table(INCR_INDEX_BASE).count()
    return _INCR_BASE_BUILT[key]


def dedup_stream_incremental_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three separately-proven incremental pieces — persisted
    bucketed LSH index (``dedup.build_lsh_index``), index-probe
    candidate generation (``dedup.probe_lsh_index`` semantics), and
    star-contraction component merge
    (``clusters.incremental_components``) — composed into the thing a
    real crawl pipeline runs: a ``foreachBatch`` consumer that, per
    micro-batch of arriving documents, (1) bands the batch's MinHash
    signatures ONCE, (2) probes the index for batch↔corpus near-dup
    edges, (3) self-pairs the batch for batch-internal edges, (4)
    merges the edges into the persisted component map, and (5) appends
    the batch's banded signatures to the index so LATER batches match
    against it.

    Two ``availableNow`` runs on one checkpoint: run 1 ingests the near
    copies (+2M), run 2 the exact copies (+3M) and fresh docs (+4M) —
    the +3M↔+2M near-pairs (every base ``%65 == 0``) exist ONLY via
    run 2 probing the index rows run 1 appended, so a dropped append or
    a re-processed batch breaks the oracle match or the gate's own
    row-accounting asserts. Oracle: full-graph recursive-CTE CC over
    corpus ∪ batch edges — the registered ``dedup_clusters_incremental``
    oracle verbatim (this gate computes the same relation, incrementally
    and across a restart).

    Scale: per batch the work is O(batch signatures) + one equi-join
    against the bucketed index + a component merge whose input is
    O(clustered nodes + batch edges) — never corpus×corpus, never the
    historical edge list. The index append is the same bucketed write a
    1000-executor deployment would make; the component map is two long
    columns. Day-0 state (the corpus's index + component map — the
    amortized-in-production part this gate exists to AVOID re-paying
    per batch) is built once per (session, sf) and copied into working
    tables per invocation, so the gate's time measures the incremental
    path (same policy as the DPP layer, ADVICE r6)."""
    docs = load_testdata(spark, sf_dir, ("documents",))["documents"]
    clusters.assert_below_id_floor(docs)
    batch_all = clusters._incremental_batch(spark, sf_dir)
    # run 1: near copies (+2M); run 2: exact (+3M) ∪ fresh (+4M)
    batch1 = batch_all.filter(F.col("doc_id") < 3_000_000).select("doc_id", "text")
    batch2 = batch_all.filter(F.col("doc_id") >= 3_000_000).select("doc_id", "text")
    _drop_gate_table(spark, INCR_INDEX_TABLE)
    _drop_gate_table(spark, INCR_COMP_TABLE)
    seen_rows: list[int] = []

    def process(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        # one count job serves both the no-data short-circuit and the
        # row accounting (previously head(1) + a separate count())
        n_batch = batch.count()
        if not n_batch:
            return  # watermark/no-data batch: no state to advance here
        # foreachBatch runs in a CLONED session whose relation cache can
        # hold the index's pre-overwrite file list (the outer session
        # rewrote it from the base copy); refresh before the probe
        # reads it. (Also: gate tables are session-warehouse-global —
        # two driver_sim sweeps must never run concurrently.)
        s.catalog.refreshTable(INCR_INDEX_TABLE)
        banded = dedup.banded_signatures(
            dedup.minhash_signatures(batch)
        ).localCheckpoint()
        cross = _pairs_probe(s.table(INCR_INDEX_TABLE), banded)
        within = _pairs_within(banded)
        edges = (
            cross.filter(F.col("sig_match_frac") >= clusters.EDGE_THRESHOLD)
            .unionAll(
                within.filter(F.col("sig_match_frac") >= clusters.EDGE_THRESHOLD)
            )
            .select("doc_a", "doc_b")
        )
        # merge first (eager — the CC fixpoint materializes the edges,
        # and its result is a localCheckpoint: safe to overwrite the
        # table it was derived from), THEN extend the index so the next
        # batch probes against this one. The FIRST merge reads the
        # pristine day-0 base directly (r14, VERDICT r13 #6): the old
        # base→working copy was a full table rewrite per invocation that
        # the first merge's overwrite immediately superseded; the base
        # itself is never mutated either way.
        comp_src = (
            INCR_COMP_TABLE
            if s.catalog.tableExists(INCR_COMP_TABLE)
            else INCR_COMP_BASE
        )
        merged = clusters.incremental_components(s.table(comp_src), edges)
        merged.write.mode("overwrite").saveAsTable(INCR_COMP_TABLE)
        sinks.write_bucketed(
            banded, INCR_INDEX_TABLE, ["band_key"], INCR_N_BUCKETS, mode="append"
        )
        seen_rows.append(n_batch)

    with gate_scope(spark, "gate_incrdedup_") as root:
        landing = f"{root}/landing"
        ckpt = f"{root}/ckpt"

        def run_once() -> None:
            q = (
                spark.readStream.schema(_DOCS_LANDING_SCHEMA)
                .option("maxFilesPerTrigger", 100)
                .option("pathGlobFilter", "docs_*.parquet")
                .parquet(f"{landing}/parquet")
                .writeStream.foreachBatch(process)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        # day 0 (once per session+sf): index the corpus, cluster it —
        # then copy the pristine base into this invocation's working
        # tables (the streaming runs mutate those; the base stays clean)
        idx0 = _ensure_incr_base(spark, sf_dir)
        sinks.write_bucketed(
            spark.table(INCR_INDEX_BASE),
            INCR_INDEX_TABLE,
            ["band_key"],
            INCR_N_BUCKETS,
        )
        # (no component-map copy here — the first batch's merge reads
        # INCR_COMP_BASE directly and writes the working table; r14)
        # one aggregate job computes all four accounting scalars the
        # asserts below need (previously four separate count jobs, each
        # replaying the batch derivation); count(when) drops the other
        # id range's rows exactly like the filters it replaces — EXCEPT
        # for NULL doc_ids: countDistinct(when(...)) skips a NULL key
        # where the old distinct().count() counted it as one value. The
        # fixture contract guarantees non-null doc_id (asserted below),
        # so the fusion is exact here; a fixture change that introduces
        # NULL ids must revisit this aggregate (ADVICE r13).
        stats = batch_all.agg(
            F.count(F.when(F.col("doc_id") < 3_000_000, 1)).alias("n1"),
            F.count(F.when(F.col("doc_id") >= 3_000_000, 1)).alias("n2"),
            F.countDistinct(
                F.when(F.col("doc_id") < 3_000_000, F.col("doc_id"))
            ).alias("d1"),
            F.countDistinct(
                F.when(F.col("doc_id") >= 3_000_000, F.col("doc_id"))
            ).alias("d2"),
            F.count(F.when(F.col("doc_id").isNull(), 1)).alias("n_null"),
        ).collect()[0]
        n1, n2, d1, d2 = stats["n1"], stats["n2"], stats["d1"], stats["d2"]
        if stats["n_null"]:
            raise AssertionError(
                f"{stats['n_null']} NULL doc_ids in the gate fixture: the "
                "fused countDistinct(when(...)) accounting above is only "
                "exact for non-null ids"
            )

        write_landing_file(batch1, landing, "docs", "parquet", "20240101")
        run_once()
        write_landing_file(batch2, landing, "docs", "parquet", "20240102")
        run_once()  # same checkpoint: must see ONLY the new file

        # process() skips no-data batches without recording them, so an
        # EMPTY corpus (both landed files 0-row) legitimately records
        # nothing — expect only the non-empty batches, in order
        want = [n for n in (n1, n2) if n > 0]
        if seen_rows != want:
            raise AssertionError(
                f"checkpointed runs reprocessed data: saw row counts "
                f"{seen_rows}, want {want}"
            )
        spark.catalog.refreshTable(INCR_INDEX_TABLE)
        idx_n = spark.table(INCR_INDEX_TABLE).count()
        # the index grows by BANDS rows per LOGICAL document, not per
        # delivered row: minhash_signatures groups shingles by doc_id,
        # so exact duplicate rows in a batch (r9 dupkeys — batch-layer
        # redelivery) collapse to one signature, which is the ingest
        # contract (exactly-once per doc id, same as the events path)
        expect = idx0 + (d1 + d2) * dedup.BANDS
        if idx_n != expect:
            raise AssertionError(
                f"index drifted: {idx_n} banded rows, want {expect} "
                "(double-append or dropped append)"
            )
    # an all-empty corpus legitimately records no batch, so the working
    # map may never materialize — the day-0 base IS the answer then
    final_comp = (
        INCR_COMP_TABLE
        if spark.catalog.tableExists(INCR_COMP_TABLE)
        else INCR_COMP_BASE
    )
    spark.catalog.refreshTable(final_comp)
    return clusters.cluster_summary(spark.table(final_comp))


QUERIES = {
    "events_stream_e2e_ingest_gate": events_stream_e2e_ingest_gate,
    "events_stream_crossrun_redelivery_gate": events_stream_crossrun_redelivery_gate,
    "events_stream_idempotent_replay_gate": events_stream_idempotent_replay_gate,
    "multimodal_stream_ingest_gate": multimodal_stream_ingest_gate,
    "dedup_stream_incremental_gate": dedup_stream_incremental_gate,
}
ORACLES = {
    "events_stream_e2e_ingest_gate": _E2E_ORACLE,
    "events_stream_crossrun_redelivery_gate": _E2E_ORACLE,
    "events_stream_idempotent_replay_gate": _IDEM_ORACLE,
    "multimodal_stream_ingest_gate": _MM_GATE_ORACLE,
    "dedup_stream_incremental_gate": clusters._CLUSTERS_INCR_ORACLE,
}
