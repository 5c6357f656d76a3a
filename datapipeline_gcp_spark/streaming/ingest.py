"""Event-driven ingestion as Structured Streaming (SURVEY.md §2.7 E1-E4).

The reference's event path is: GCS object-finalize → Pub/Sub message
carrying the object name (``messaging/producer/main.py:4-9``) → consumer
parses ``{table}_{date}_{uuid}.{ext}`` from the name and triggers DAG
``load_{table}_{ext}`` (``messaging/consumer/main.py:39-74``) → that DAG
loads the file into its raw table and archives it
(``load_campaigns_csv.py:115-141``).

Spark-native redesign: the landing directory IS the topic — a streaming
file source discovers new files; ``foreachBatch`` appends the batch to
the raw table and records exactly the files that fed it
(``_metadata.file_path``) in a *pending* manifest. Archival (the move
out of landing, K4) is **deferred until the batch's checkpoint commit
is durable**: batch N's files move at the start of batch N+1 (which
only runs after N committed) or at ``drain()`` after termination.
Moving inside the batch itself would create a crash window — append
done, files gone, commit log not yet written — where a restart replays
the batch from the offset log's recorded paths and finds them missing
(FileNotFoundException, or silent loss under ignoreMissingFiles).
With deferral, a replayed batch always finds its input files still in
landing; the append sink is at-least-once on replay (same trade the
reference's BQ loads made), and archival remains load-then-archive
ordered per batch.

Routing (E2): ``stream_landing_router`` runs one stream per (table,
format), the "simpler, chosen" design from SURVEY §2.7 — each stream's
glob plays the consumer's filename-parse-and-dispatch. The parse itself
(P9 string ops on ``_metadata.file_path``) is exposed as
``parse_landing_filename`` for the shared-stream alternative.

Parsing: each stream reads its format through the landing contract
(``landing_format.with_format``), the options and FAILFAST parse mode
the DAG's batch load (``readers.read_landing``) uses. The two paths
parse a landing file identically: a malformed value fails its
micro-batch (the query stops, ``drain`` raises, the file stays in
landing and nothing of it is appended) instead of landing NULL.

Scale notes: the file-source maxFilesPerTrigger caps per-batch work;
checkpointed offsets make restarts exactly-once into the idempotent
(partition-overwrite) sink or at-least-once into the append sink —
same trade the reference's BQ loads made. Streaming appends create
small files; ``compact_table`` is the periodic rewrite.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from datapipeline_gcp_spark import sinks
from datapipeline_gcp_spark.landing_format import with_format


def parse_landing_filename(col: F.Column) -> tuple[F.Column, F.Column]:
    """E2/P9 — extract (table, ext) from a landing path
    ``.../{table}_{yyyymmdd}_{hex}.{ext}`` with built-in string ops
    (the consumer's ``split('_')`` / ``split('.')`` routing,
    ``messaging/consumer/main.py:51-53``)."""
    fname = F.element_at(F.split(col, "/"), -1)
    table = F.element_at(F.split(fname, "_"), 1)
    ext = F.lower(F.element_at(F.split(fname, r"\."), -1))
    return table, ext


def _pending_dir(archive_dir: str) -> str:
    return f"{archive_dir}/_pending"


def _record_pending(
    files: list[str], archive_dir: str, stream_id: str, batch_id: int
) -> None:
    """Atomically record the batch's input files (one path per line) at a
    path keyed by (stream, batch id) — a replayed batch overwrites the
    same file, so the record is idempotent. The stream id in the name
    keeps concurrent streams (the router runs one per route) from
    clobbering each other's records in the shared archive dir."""
    pdir = _pending_dir(archive_dir)
    os.makedirs(pdir, exist_ok=True)
    name = f"{stream_id}__batch_{batch_id}.txt"
    tmp = os.path.join(pdir, name + ".tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(files))
    os.replace(tmp, os.path.join(pdir, name))


def flush_pending(
    archive_dir: str, stream_id: str, upto_exclusive: int | None = None
) -> list[str]:
    """Archive the files recorded by THIS stream's durably-committed
    batches (records of other streams sharing the archive dir are never
    touched — their commits are not ours to reason about).

    Called with ``upto_exclusive=N`` at the start of batch N (every
    pending record with a smaller id belongs to a batch whose checkpoint
    commit is durable — batch N only fires after N-1 committed), and
    with ``upto_exclusive`` = last-committed-epoch+1 from the checkpoint
    commit log after termination. Idempotent: already-moved files are
    skipped, the final per-batch manifest is (re)written, and the
    pending record is removed last."""
    pdir = _pending_dir(archive_dir)
    if not os.path.isdir(pdir):
        return []
    prefix = f"{stream_id}__batch_"
    moved: list[str] = []
    for fname in sorted(os.listdir(pdir)):
        if not (fname.startswith(prefix) and fname.endswith(".txt")):
            continue
        bid = int(fname[len(prefix) : -len(".txt")])
        if upto_exclusive is not None and bid >= upto_exclusive:
            continue
        record = os.path.join(pdir, fname)
        with open(record) as fh:
            files = [line.strip() for line in fh if line.strip()]
        for f in files:
            if os.path.exists(f):
                sinks.archive_files(f, archive_dir)
                moved.append(f)
        sinks.write_manifest(
            files, f"{archive_dir}/_manifests", f"{stream_id}_{bid}"
        )
        os.remove(record)
    return moved


def _read_log_offset(checkpoint_dir: str, batch_id: int) -> int | None:
    """The FileStreamSource ``logOffset`` the offset log recorded for
    query batch *batch_id* (``offsets/<batch>``: a ``v1`` header, one
    metadata JSON line, then one offset line per source). None on any
    format drift — single-file-source checkpoints only (this engine
    runs one stream per (table, fmt) route)."""
    import json as _json

    path = os.path.join(checkpoint_dir, "offsets", str(batch_id))
    try:
        with open(path) as fh:
            lines = [ln.strip() for ln in fh if ln.strip()]
        if len(lines) != 3 or not lines[0].startswith("v"):
            return None
        off = _json.loads(lines[2])
        logoff = off["logOffset"]
        return logoff if isinstance(logoff, int) else None
    except (OSError, ValueError, KeyError, TypeError):
        return None


def _read_source_log_entries(
    checkpoint_dir: str, source_batch: int
) -> list[str] | None:
    """The file paths the FileStreamSource logged under its OWN batch id
    *source_batch* (``sources/0/<id>``, or a later ``<id>.compact`` that
    folded it in — compacted entries carry a batchId to filter on).
    None if the entry can't be located or parsed."""
    import json as _json

    sdir = os.path.join(checkpoint_dir, "sources", "0")
    path = os.path.join(sdir, str(source_batch))
    if not os.path.exists(path):
        # the plain file may have been folded into a compact: use the
        # OLDEST compact at-or-after it (later compacts contain it too)
        try:
            compacts = sorted(
                int(f[: -len(".compact")])
                for f in os.listdir(sdir)
                if f.endswith(".compact") and f[: -len(".compact")].isdigit()
            )
        except OSError:
            return None
        candidates = [c for c in compacts if c >= source_batch]
        if not candidates:
            return None
        path = os.path.join(sdir, f"{candidates[0]}.compact")
    files: list[str] = []
    try:
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if not line or line.startswith("v"):
                    continue
                entry = _json.loads(line)
                # Spark's FileStreamSourceLog always serializes a
                # batchId per entry; one without it is format drift,
                # and guessing would let a compacted log attribute
                # other batches' files to this one.
                if "batchId" not in entry:
                    return None
                if entry["batchId"] == source_batch:
                    files.append(entry["path"])
    except (OSError, ValueError, KeyError, AttributeError, TypeError):
        return None
    return files


def _source_log_files(checkpoint_dir: str, batch_id: int) -> list[str] | None:
    """The batch's input files straight from the FileStreamSource's own
    checkpoint logs — the authoritative record of what the batch READ.
    Deriving the archival set from output rows instead silently skips
    any file whose rows were all dropped by a stream transform (dedup
    under redelivery: the losing copy of every event) or that was empty
    — those files would sit in landing forever.

    The query's batch id is NOT the source log's: a stateful query runs
    no-new-data batches (watermark advancement), and across restarts the
    two counters drift apart permanently (run 1: data batch 0 + empty
    batch 1; run 2's first data batch is query batch 2 but source-log
    batch 1 — the cross-run redelivery gate's exact seam, where the old
    ``sources/0/<query batch>`` lookup found nothing and stranded the
    redelivered files in landing). The mapping goes through the offset
    log: query batch N read source-log entries in
    ``(logOffset(N-1), logOffset(N)]``.

    Returns None if any log involved isn't readable (caller falls back
    to the row-derived set)."""
    cur = _read_log_offset(checkpoint_dir, batch_id)
    if cur is None:
        return None
    if batch_id == 0:
        prev = -1
    else:
        prev = _read_log_offset(checkpoint_dir, batch_id - 1)
        if prev is None:  # offset-log retention purged the predecessor
            return None
    files: list[str] = []
    for source_batch in range(prev + 1, cur + 1):
        entries = _read_source_log_entries(checkpoint_dir, source_batch)
        if entries is None:
            return None
        files.extend(entries)
    return files


def _local_path(uri: str) -> str:
    """file-URI → local path ('file:/x' and 'file:///x' both → '/x');
    shared by the archival record and the e2e gate's warehouse cleanup
    so the normalization quirk lives in one place."""
    local = uri.split(":", 1)[1] if uri.startswith("file:") else uri
    while local.startswith("//"):
        local = local[1:]
    return local


def _latest_committed_batch(
    checkpoint_dir: str, spark: SparkSession | None = None
) -> int | None:
    """Highest epoch id in the streaming checkpoint's commit log — the
    last batch whose commit is durable. None if nothing has committed
    yet. Local paths list via os; URI paths (``hdfs://``, ``file://``,
    object stores with a connector) list via the Hadoop FileSystem API
    when a session is supplied — ``os.listdir`` on a remote URI would
    silently report "no commits" and (in the compaction caller) turn
    every run into a full-rewrite no-op that folds nothing."""
    if "://" in checkpoint_dir:
        if spark is None:
            raise ValueError(
                f"listing a URI checkpoint ({checkpoint_dir}) needs the "
                "SparkSession for Hadoop FileSystem access"
            )
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(checkpoint_dir, "commits")
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return None
        ids = [
            int(st.getPath().getName())
            for st in fs.listStatus(hpath)
            if st.getPath().getName().isdigit()
        ]
        return max(ids) if ids else None
    cdir = os.path.join(checkpoint_dir, "commits")
    if not os.path.isdir(cdir):
        return None
    ids = [int(f) for f in os.listdir(cdir) if f.isdigit()]
    return max(ids) if ids else None


class IngestStream:
    """A started ingestion query plus its deferred-archival handle.

    ``awaitTermination`` proxies the underlying ``StreamingQuery``;
    ``flush_archive`` moves the files of batches the checkpoint commit
    log shows as durable — safe after normal termination AND after a
    manual ``query.stop()`` (a stop can land after a batch's append but
    before its commit-log write; bounding the flush by the commit log
    leaves that batch's files in landing for the replay). ``drain``
    calls both."""

    def __init__(
        self, query: StreamingQuery, archive_dir: str, stream_id: str,
        checkpoint_dir: str,
    ):
        self.query = query
        self.archive_dir = archive_dir
        self.stream_id = stream_id
        self.checkpoint_dir = checkpoint_dir

    def awaitTermination(self, *args, **kwargs):  # noqa: N802 (Spark API)
        return self.query.awaitTermination(*args, **kwargs)

    def flush_archive(self) -> list[str]:
        latest = _latest_committed_batch(self.checkpoint_dir)
        if latest is None:
            return []
        return flush_pending(
            self.archive_dir, self.stream_id, upto_exclusive=latest + 1
        )


def stream_landing_table(
    spark: SparkSession,
    landing_dir: str,
    table: str,
    fmt: str,
    schema: T.StructType,
    target_table: str,
    archive_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 100,
    available_now: bool = True,
    on_batch=None,
    transform=None,
    idempotent: bool = False,
    trigger_interval: str | None = None,
) -> IngestStream:
    """One (table, format) ingestion stream: landing glob → raw table
    append → record the batch's files for post-commit archival (see the
    module docstring for the crash-safety argument). Returns the started
    query wrapped with its archival handle; with ``available_now`` it
    drains what exists and finishes (the test/poll mode, E3's
    ``trigger(availableNow=True)``); with ``available_now=False`` the
    stream runs live — continuously by default, or on a fixed
    ``trigger_interval`` (``processingTime``) cadence, files landing
    between triggers picked up by the next one (the deployment shape;
    soak-tested in ``tests/test_streaming_e2e.py``).

    ``idempotent=True`` is the exactly-once sink the module docstring
    names: each batch lands in its own
    ``_ingest_stream=<id>/_ingest_batch=<id>`` partition via dynamic
    partition overwrite, so a REPLAYED batch (crash anywhere between the
    sink write and the checkpoint commit) overwrites its own orphaned
    partition instead of double-appending — rows land exactly once
    without any dedup state. The stream id is part of the partition key
    because batch ids are PER-CHECKPOINT: two streams feeding one table
    (the reference lands ``r_campaigns`` from both a CSV and a TXT path)
    each number their batches from 0, and without the namespace one
    stream's batch-3 overwrite would silently erase the other's
    (VERDICT r11 #7). The default (plain append) stays at-least-once on
    replay, the trade the reference's BQ loads made.
    Scale: one partition per micro-batch is metadata-cheap (a directory
    per batch); queries that don't filter on the ingest columns read all
    partitions as one table, and ``compact_ingest_table`` folds
    committed batches into one partition when small files accumulate
    (plain ``compact_table`` is for APPEND-mode tables only — it
    rewrites the table unpartitioned, which would turn the next replay's
    partition overwrite into a whole-table truncate).

    ``on_batch(spark, batch_id)`` runs after each batch's append — the
    E3 "trigger downstream" hook (the reference POSTs the Airflow REST
    API to run the dependent DAG; here the dependent transform runs
    in-process, e.g. refresh the master join for the new rows).

    ``transform(stream) -> stream`` splices a streaming transformation
    between the file source and the sink — e.g.
    ``streaming.dedup.streaming_ingest_dedup`` for exactly-once under
    bus redelivery (the e2e ingest gate composes exactly that). The
    transform must preserve the ``_src`` metadata column; stateful
    operators are fine (their state rides the same checkpoint)."""
    path = f"{landing_dir}/{fmt}"
    stream_id = f"{table}_{fmt}"
    os.makedirs(path, exist_ok=True)
    # the batch load's options and FAILFAST mode (module docstring)
    stream = with_format(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", f"{table}_*.{fmt}"),
        fmt,
    ).load(path)
    stream = stream.select("*", F.col("_metadata.file_path").alias("_src"))
    if transform is not None:
        stream = transform(stream)

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        # archive predecessors first: their commits are durable, and the
        # current batch's own files must stay readable until ITS commit
        # (a replay re-reads them from the offset log's recorded paths)
        flush_pending(archive_dir, stream_id, upto_exclusive=batch_id)
        batch = batch.cache()
        try:
            files = _source_log_files(checkpoint_dir, batch_id)
            if files is None:  # log unreadable — fall back to output rows
                files = [
                    r._src for r in batch.select("_src").distinct().collect()
                ]
            local_files = [_local_path(f) for f in files]
            if idempotent:
                sinks.overwrite_partitions(
                    batch.drop("_src")
                    .withColumn("_ingest_stream", F.lit(stream_id))
                    .withColumn("_ingest_batch", F.lit(batch_id)),
                    target_table,
                    ["_ingest_stream", "_ingest_batch"],
                )
            else:
                sinks.append_table(batch.drop("_src"), target_table)
            _record_pending(local_files, archive_dir, stream_id, batch_id)
            # foreachBatch runs in a cloned session: its append invalidates
            # the clone's relation cache only — refresh the outer session's
            # view of the table or subsequent reads see a stale file list.
            spark.catalog.refreshTable(target_table)
            if on_batch is not None:
                on_batch(spark, batch_id)
        finally:
            batch.unpersist()

    writer = stream.writeStream.foreachBatch(handle_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_interval is not None:
        # live mode (the deployment shape): fire every interval and
        # pick up whatever landed since — the soak test's async path
        writer = writer.trigger(processingTime=trigger_interval)
    return IngestStream(writer.start(), archive_dir, stream_id, checkpoint_dir)


def stream_landing_router(
    spark: SparkSession,
    landing_dir: str,
    routes: dict[tuple[str, str], tuple[T.StructType, str]],
    archive_dir: str,
    checkpoint_root: str,
    available_now: bool = True,
) -> dict[tuple[str, str], IngestStream]:
    """E2 — the full router: one stream per (table, fmt) route, e.g.
    ``{("campaigns", "csv"): (schemas.CAMPAIGNS, "raw_layer.r_campaigns")}``.
    Unknown files simply match no glob — the reference's
    unknown-extension → monitoring no-op branch."""
    queries = {}
    for (table, fmt), (schema, target) in routes.items():
        queries[(table, fmt)] = stream_landing_table(
            spark,
            landing_dir,
            table,
            fmt,
            schema,
            target,
            archive_dir,
            f"{checkpoint_root}/{table}_{fmt}",
            available_now=available_now,
        )
    return queries


def drain(queries) -> None:
    """Wait for availableNow queries to finish, then archive their tail
    batches (termination makes the last commit durable)."""
    qs = queries.values() if isinstance(queries, dict) else [queries]
    for q in qs:
        q.awaitTermination()
        if isinstance(q, IngestStream):
            q.flush_archive()


#: Reserved ``_ingest_batch`` value for compacted history. Spark batch
#: ids start at 0 and only grow, so a replayed batch can never target
#: this partition.
COMPACTED_BATCH = -1


def _recover_interrupted_swap(spark: SparkSession, table: str) -> None:
    """Complete or discard a compaction swap that crashed mid-flight
    (ADVICE r12: the DROP TABLE → RENAME pair is not atomic).

    Both compactors write the rewritten table as ``{table}__compact_tmp``
    and then swap it in with DROP + RENAME. A crash leaves exactly one of
    two states, each recoverable without loss because the tmp table is
    only ever written by ``mode("overwrite")`` saveAsTable — it either
    exists complete (the write committed) or does not exist at all:

    - **tmp and base both exist** — the crash hit before (or during) the
      DROP; the base table was never touched, so the tmp copy is
      redundant (possibly stale): drop the tmp and recompact from the
      live base.
    - **tmp exists, base is gone** — the crash hit between DROP and
      RENAME; the tmp IS the table (the write committed before the DROP
      ran): finish the interrupted swap — rename it back, repair
      partition locations if partitioned, refresh.

    Called at the top of every compaction under the table lock, so an
    interrupted swap heals on the next compaction attempt; callers that
    only READ can invoke it directly after a crash to restore the name.
    """
    tmp = f"{table}__compact_tmp"
    if not spark.catalog.tableExists(tmp):
        return
    if spark.catalog.tableExists(table):
        spark.sql(f"DROP TABLE {tmp}")
        return
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
    if any(c.isPartition for c in spark.catalog.listColumns(table)):
        spark.sql(f"MSCK REPAIR TABLE {table}")
    spark.catalog.refreshTable(table)


def compact_ingest_table(
    spark: SparkSession,
    table: str,
    checkpoints: dict[str, str],
    target_file_rows: int = 1_000_000,
) -> None:
    """Small-file compaction for IDEMPOTENT ingest tables (partitioned
    by ``_ingest_stream``/``_ingest_batch``) — the companion to
    ``stream_landing_table(idempotent=True)`` (VERDICT r11 #4).

    Two invariants the plain ``compact_table`` would break:

    - **The table stays partitioned.** ``overwrite_partitions`` on an
      UNPARTITIONED table is a whole-table truncate — a replayed batch
      after a naive compaction would erase all compacted history.
    - **Only durably COMMITTED batches are folded.** A batch whose sink
      write survived but whose checkpoint commit didn't ("orphan") WILL
      replay on restart; folding its rows into the compacted partition
      and then replaying it would double them. Each stream's committed
      frontier is read from its own checkpoint (``checkpoints`` maps
      ``stream_id`` → checkpoint dir — per-stream because batch ids are
      per-checkpoint); orphans and unlisted streams keep their own
      partitions, which the replay then overwrites exactly as before.

    Committed rows fold into the per-stream reserved partition
    ``_ingest_batch = COMPACTED_BATCH`` (= -1, below any real batch id),
    coalesced to ~``target_file_rows`` rows per file. Repeated
    compactions re-fold the reserved partition with newer committed
    batches. Scale: the rewrite is one scan + one write of the table —
    run it at the same cadence as any lakehouse OPTIMIZE; between runs
    the per-batch directories are metadata-cheap.

    CONCURRENCY: the rewrite holds the same per-table lock the sinks
    take, so an IN-PROCESS stream's ``foreachBatch`` write cannot land
    between the snapshot and the DROP (a batch committed in that window
    would live only in the dropped directory — silent loss, because its
    durable commit means it never replays). The lock is process-local:
    writers in OTHER processes must be stopped for the compaction
    window, exactly as for any non-transactional table format; a
    multi-writer deployment wants a lakehouse table format (Delta/
    Iceberg) where OPTIMIZE is transactional.

    CRASH SAFETY: the DROP → RENAME swap is not atomic; a crash between
    the two statements leaves the rows only under ``{table}__compact_tmp``
    and the original name dangling. Every compaction entry first runs
    :func:`_recover_interrupted_swap` (under the table lock) to finish or
    discard a previous run's interrupted swap, so the window self-heals
    on the next attempt; NULL partition values (out-of-band writes into
    ``__HIVE_DEFAULT_PARTITION__``) are kept, not dropped (null-safe
    complement — ADVICE r12).
    """
    with sinks._table_lock(table):
        _recover_interrupted_swap(spark, table)
    df = spark.table(table)
    batch_t = df.schema["_ingest_batch"].dataType
    fold = F.lit(False)
    for stream_id, ckpt in checkpoints.items():
        latest = _latest_committed_batch(ckpt, spark)
        upto = COMPACTED_BATCH if latest is None else latest
        fold = fold | (
            (F.col("_ingest_stream") == stream_id)
            & (F.col("_ingest_batch") <= F.lit(upto))
        )
    # NULL partition values (__HIVE_DEFAULT_PARTITION__ from an
    # out-of-band write) make `fold` NULL, which BOTH filter(fold) and
    # filter(~fold) exclude — the rewrite would silently drop the row
    # (ADVICE r12). Null-safe complement keeps such rows unfolded.
    fold = F.coalesce(fold, F.lit(False))
    df = df.cache()
    try:
        with sinks._table_lock(table):
            folded = df.filter(fold).withColumn(
                "_ingest_batch", F.lit(COMPACTED_BATCH).cast(batch_t)
            )
            n = folded.count()
            parts = max(1, n // target_file_rows)
            out = folded.coalesce(parts).unionByName(df.filter(~fold))
            tmp = f"{table}__compact_tmp"
            out.write.mode("overwrite").partitionBy(
                "_ingest_stream", "_ingest_batch"
            ).format("parquet").saveAsTable(tmp)
            spark.sql(f"DROP TABLE {table}")
            spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
            # RENAME moves a managed table's directory but the catalog's
            # per-PARTITION locations still point at the old path —
            # without recovery the renamed table reads zero rows.
            # (Unpartitioned compact_table has no partition entries, so
            # only this path needs it.)
            spark.sql(f"MSCK REPAIR TABLE {table}")
            spark.catalog.refreshTable(table)
    finally:
        df.unpersist()


def compact_table(
    spark: SparkSession, table: str, target_file_rows: int = 1_000_000
) -> None:
    """Small-file compaction for streaming-APPEND tables: rewrite the
    table coalesced to ~``target_file_rows`` rows per file. Streaming
    micro-batches write a few small files each; at scale this periodic
    rewrite keeps scan task counts sane (SURVEY.md §4 "small-file
    compaction"). For idempotent (partition-overwrite) ingest tables use
    ``compact_ingest_table`` — this rewrite drops the partitioning that
    sink's exactly-once replay depends on (the replay's partition
    overwrite against an unpartitioned table truncates it), so it
    refuses such tables loudly."""
    with sinks._table_lock(table):
        _recover_interrupted_swap(spark, table)
    df = spark.table(table)
    # _ingest_batch alone also matches tables written by the older
    # single-stream sink format — the truncate hazard is identical
    if "_ingest_batch" in df.columns:
        raise ValueError(
            f"{table} is an idempotent ingest table (_ingest_batch "
            "partition column); use compact_ingest_table — an "
            "unpartitioned rewrite would turn the next replayed batch's "
            "partition overwrite into a whole-table truncate"
        )
    df = df.cache()
    try:
        n = df.count()
        parts = max(1, n // target_file_rows)
        tmp = f"{table}__compact_tmp"
        with sinks._table_lock(table):
            df.coalesce(parts).write.mode("overwrite").saveAsTable(tmp)
            spark.sql(f"DROP TABLE {table}")
            spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
    finally:
        df.unpersist()
