"""stream_ingest: the event-driven ingest path under an open-loop feed.

Four live ``streaming.ingest.stream_landing_table`` streams run, one per
(campaigns|transactions) x (csv|txt) route, on the default append sink.
Before the window, 750-row landing files (the reference batch size) are
staged with ``generators.write_landing_file`` next to the landing
directory, on the same filesystem. During the window the measuring
thread ``os.replace``s file i into landing at ``t0 + i / rate`` whatever
the streams are doing (open loop). A file's latency runs from when it was due
to the end of the micro-batch that committed its rows, i.e. when the
stream's ``on_batch`` hook fires.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import statistics
import threading
import time

from datapipeline_gcp_spark import schemas, sinks
from datapipeline_gcp_spark.sources import generators as gen
from datapipeline_gcp_spark.streaming import ingest
from pyspark.sql.streaming import StreamingQueryListener

from harness import percentile, spark_by_layer
from spans import span_of_group

ROUTES = (("campaigns", "csv"), ("campaigns", "txt"), ("transactions", "csv"), ("transactions", "txt"))
ROWS_PER_FILE = 750
#: Files per second across all four routes.
RATES = {"full": 7.0, "smoke": 2.0}
RUN_DATE = "20230601"
DRAIN_TIMEOUT_S = 60.0
#: The warm-up feeds files at the window's rate for this long. One batch
#: per stream is not enough: file latency still fell from ~0.9 s to
#: ~0.5 s across a 15 s window after a four-file warm-up (JIT warming).
WARM_UP_S = 8.0


class ProgressLog(StreamingQueryListener):
    """Keeps every progress report of micro-batches that read rows (a
    query's own ``recentProgress`` keeps only the last 100)."""

    def __init__(self):
        self.reports: list[tuple[int, dict]] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if p.numInputRows:
            self.reports.append((p.numInputRows, dict(p.durationMs)))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class StreamIngest:
    default_layer = "ingest"

    def __init__(self, run):
        self.run = run
        self.rate = RATES[run.size]
        self.n_files = max(len(ROUTES), math.ceil(self.rate * run.seconds))
        self.n_warm = max(len(ROUTES), math.ceil(self.rate * WARM_UP_S))
        self.staging, self.landing = run.path("staging"), run.path("landing")
        self.archive, self.checkpoints = run.path("archive"), run.path("checkpoints")
        self.streams: dict[str, ingest.IngestStream] = {}
        self.due: dict[str, float] = {}
        self.published: dict[str, float] = {}
        self.committed: dict[str, float] = {}
        self.batch_files: list[int] = []  # files per committed micro-batch
        self.window_batches = 0
        self.listener = None
        self._lock = threading.Lock()
        self._queue: list[tuple[str, str, str]] = []  # (fmt, staged path, name)

    # --- inputs -----------------------------------------------------------

    def stage(self) -> dict:
        """Write one template landing file per route through the engine's
        writer, then copy it to every file the run publishes on that route."""
        rng = random.Random(self.run.seed)
        templates = {}
        for k, (table, fmt) in enumerate(ROUTES):
            maker = gen.gen_campaigns if table == "campaigns" else gen.gen_transactions
            df = maker(self.run.spark, ROWS_PER_FILE, 200, seed=self.run.seed * 10 + k)
            templates[(table, fmt)] = gen.write_landing_file(
                df, f"{self.staging}/_templates", table, fmt, RUN_DATE
            )
        warm = [ROUTES[i % len(ROUTES)] for i in range(self.n_warm)]
        timed = [ROUTES[i % len(ROUTES)] for i in range(self.n_files)]
        rng.shuffle(timed)
        for i, (table, fmt) in enumerate(warm + timed):
            name = f"{table}_{RUN_DATE}_{i:08x}.{fmt}"
            dst = os.path.join(self.staging, fmt, name)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(templates[(table, fmt)], dst)
            self._queue.append((fmt, dst, name))
        return {
            "rate_files_per_s": self.rate,
            "rows_per_file": ROWS_PER_FILE,
            "files": len(self._queue),
            "warm_up_files": len(warm),
        }

    def _publish(self, fmt: str, staged: str, name: str, due: float) -> None:
        os.replace(staged, os.path.join(self.landing, fmt, name))
        with self._lock:
            self.due[name] = due
            self.published[name] = time.monotonic()

    def _feed(self, files) -> list[str]:
        """Publish ``files`` open loop: file i is due at t0 + i / rate,
        whatever the streams are doing."""
        t0 = time.monotonic()
        for i, (fmt, staged, name) in enumerate(files):
            due = t0 + i / self.rate
            delay = due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            self._publish(fmt, staged, name, due)
        return [name for _, _, name in files]

    # --- streams ----------------------------------------------------------

    def _hook(self, stream_id: str):
        record_dir = ingest._pending_dir(self.archive)

        def on_batch(spark, batch_id: int) -> None:
            now = time.monotonic()
            # the batch's input files, as recorded by the stream itself
            with open(os.path.join(record_dir, f"{stream_id}__batch_{batch_id}.txt")) as fh:
                files = [os.path.basename(line.strip()) for line in fh if line.strip()]
            with self._lock:
                for f in files:
                    self.committed.setdefault(f, now)
                self.batch_files.append(len(files))

        return on_batch

    def _wait_committed(self, names, timeout_s: float) -> bool:
        end = time.monotonic() + timeout_s
        while time.monotonic() < end:
            with self._lock:
                if all(n in self.committed for n in names):
                    return True
            failed = [s for s in self.streams.values() if s.query.exception() is not None]
            if failed:
                return False
            time.sleep(0.02)
        return False

    def warm_up(self) -> None:
        spark = self.run.spark
        sinks.ensure_layers(spark)
        for table, fmt in ROUTES:
            os.makedirs(os.path.join(self.landing, fmt), exist_ok=True)
            schema = schemas.CAMPAIGNS if table == "campaigns" else schemas.TRANSACTIONS
            sid = f"{table}_{fmt}"
            self.streams[sid] = ingest.stream_landing_table(
                spark, self.landing, table, fmt, schema, f"raw_layer.r_{table}",
                self.archive, f"{self.checkpoints}/{sid}",
                available_now=False, on_batch=self._hook(sid),
            )
        warm, self._queue = self._queue[: self.n_warm], self._queue[self.n_warm:]
        ok = self._wait_committed(self._feed(warm), DRAIN_TIMEOUT_S)
        self.run.check(ok, "warm-up files were not committed")

    # --- tracing ----------------------------------------------------------

    def install(self, tracer) -> None:
        table = lambda a, kw, out: {"table": a[1] if len(a) > 1 else kw.get("table")}  # noqa: E731
        tracer.wrap(sinks, "append_table", "sinks.append_table", attrs=table)
        tracer.wrap(sinks, "archive_files", "sinks.archive_files")
        tracer.wrap(ingest, "flush_pending", "ingest.flush_pending")
        self.listener = ProgressLog()
        self.run.spark.streams.addListener(self.listener)

    # --- timed window -----------------------------------------------------

    def measure(self, deadline: float, tracer) -> dict:
        batches_before = len(self.batch_files)
        names = self._feed(self._queue)
        self._wait_committed(names, DRAIN_TIMEOUT_S)
        if self.listener is not None:
            self.run.spark.streams.removeListener(self.listener)
        lat = []
        for n in names:
            ok = n in self.committed
            self.run.op(ok, f"landing file {n} was never committed")
            if ok:
                lat.append(self.committed[n] - self.due[n])
        self.window_batches = len(self.batch_files) - batches_before
        self.window_names = names
        beyond = sum(1 for x in lat if x > percentile(lat, 0.9)) if lat else 0
        return {
            "samples": lat,
            "p50": statistics.median(lat) if lat else float("nan"),
            "p90": percentile(lat, 0.9) if lat else float("nan"),
            "note": (
                f"{len(lat)} landing files at {self.rate:g} files/s in "
                f"{self.window_batches} micro-batches; {beyond} samples beyond p90"
            ),
        }

    # --- correctness ------------------------------------------------------

    def check(self) -> None:
        spark = self.run.spark
        for s in self.streams.values():
            # wait for the last batch's commit-log entry: a stop before it
            # rightly leaves that batch's files in landing for the replay
            s.query.processAllAvailable()
            s.query.stop()
            s.flush_archive()
        published = sorted(self.published)
        rows = sum(spark.table(f"raw_layer.r_{t}").count() for t in ("campaigns", "transactions"))
        want = ROWS_PER_FILE * len(published)
        self.run.check(rows == want, f"raw tables hold {rows} rows, {want} were published")
        archived = [f for f in os.listdir(self.archive) if not f.startswith("_")]
        self.run.check(
            sorted(archived) == published,
            f"{len(archived)} files archived, {len(published)} published",
        )
        listed: dict[str, int] = {}
        mdir = os.path.join(self.archive, "_manifests")
        for m in os.listdir(mdir) if os.path.isdir(mdir) else []:
            with open(os.path.join(mdir, m)) as fh:
                for f in json.load(fh)["files"]:
                    listed[os.path.basename(f)] = listed.get(os.path.basename(f), 0) + 1
        twice = [f for f, c in listed.items() if c != 1]
        self.run.check(
            sorted(listed) == published and not twice,
            f"manifests list {len(listed)} files ({len(twice)} more than once), "
            f"{len(published)} published",
        )
        left = [
            f for _, fmt in ROUTES for f in os.listdir(os.path.join(self.landing, fmt))
            if not f.startswith(".")
        ]
        self.run.check(not left, f"{len(left)} files left in landing")

    # --- per-layer metrics --------------------------------------------------

    def layer_metrics(self, tracer, groups: dict) -> dict[str, float]:
        def total(name) -> float:
            return sum(s.dur for s in tracer.spans if s.name == name)

        spark_of = {span_of_group(g): rec for g, rec in groups.items()}
        traced = [s for s in tracer.spans if s.id in spark_of]

        def written(field) -> float:
            return sum(spark_of[s.id][field] for s in traced if s.name == "sinks.append_table")

        reports = self.listener.reports if self.listener is not None else []

        def p50(key) -> float:
            vals = [d.get(key, 0) for _, d in reports]
            return statistics.median(vals) if vals else 0.0

        window_files = self.batch_files[-self.window_batches:] if self.window_batches else []
        late = [self.published[n] - self.due[n] for n in self.window_names]
        return {
            "ingest.batches": self.window_batches,
            "ingest.rows_per_batch": (
                ROWS_PER_FILE * statistics.mean(window_files) if window_files else 0.0
            ),
            "ingest.trigger_ms_p50": p50("triggerExecution"),
            "ingest.add_batch_ms_p50": p50("addBatch"),
            "ingest.latest_offset_ms_p50": p50("latestOffset"),
            "ingest.wal_commit_ms_p50": p50("walCommit"),
            "ingest.query_planning_ms_p50": p50("queryPlanning"),
            "ingest.flush_pending_s": total("ingest.flush_pending"),
            "ingest.publisher_late_s": max(late) if late else 0.0,
            "sinks.raw_write_s": total("sinks.append_table"),
            "sinks.raw_rows": written("records_written"),
            "sinks.raw_bytes": written("bytes_written"),
            "sinks.archive_s": total("sinks.archive_files"),
            **spark_by_layer((s.layer, spark_of[s.id]) for s in traced),
        }
