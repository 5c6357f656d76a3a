"""Shared pieces of a benchmark run: the metric catalogue, the pinned host
settings, the Spark session lifecycle, operation/check accounting and the
peak-RSS sampler."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE_DIR = os.path.join(ROOT, ".perfbench")

#: Pinned host settings: both sides of an A/B run with these. The engine's
#: own defaults (local[32], a 48g heap) do not fit a small host. The heap
#: is committed and touched up front (-Xms, AlwaysPreTouch): a lazily
#: grown heap made peak RSS swing 1.7-4.8 GB between identical runs with
#: the GC's timing, hiding any change the code makes.
DRIVER_MEM = "3g"

#: End-to-end metrics (printed with --trace 0), name -> unit.
E2E_METRICS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "peak_rss_mb": "MB",
}

SPARK_LAYERS = ("raw", "master", "business", "ingest", "query")
SPARK_FIELDS = {
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
}

#: Per-layer metrics (printed with --trace 1), name -> unit. A layer that
#: a workload never calls reports 0.
LAYER_METRICS = {
    "session.start_s": "s",
    "sources.landing_write_s": "s",
    "sources.landing_files": "count",
    "sources.landing_bytes": "bytes",
    "sources.sense_s": "s",
    "sources.load_testdata_s": "s",
    "sources.load_testdata_jobs": "count",
    "operators.master_build_s": "s",
    "operators.business_build_s": "s",
    "operators.query_build_s": "s",
    "operators.query_exec_s": "s",
    "operators.query_jobs": "count",
    "sinks.raw_write_s": "s",
    "sinks.raw_rows": "count",
    "sinks.raw_bytes": "bytes",
    "sinks.master_write_s": "s",
    "sinks.master_rows": "count",
    "sinks.master_bytes": "bytes",
    "business.step_s": "s",
    "sinks.analyze_s": "s",
    "sinks.archive_s": "s",
    "sinks.bytes_per_input_byte": "ratio",
    "runner.step_busy_s": "s",
    "runner.parallelism": "ratio",
    **{
        f"runner.layer_wall_s.{k}": "s"
        for k in ("landing", "raw", "archive", "master", "business")
    },
    "runner.gap_s": "s",
    "runner.retries": "count",
    "ingest.batches": "count",
    "ingest.rows_per_batch": "count",
    "ingest.trigger_ms_p50": "ms",
    "ingest.add_batch_ms_p50": "ms",
    "ingest.latest_offset_ms_p50": "ms",
    "ingest.wal_commit_ms_p50": "ms",
    "ingest.query_planning_ms_p50": "ms",
    "ingest.flush_pending_s": "s",
    "ingest.publisher_late_s": "s",
    **{
        f"spark.{layer}.{field}": unit
        for layer in SPARK_LAYERS
        for field, unit in SPARK_FIELDS.items()
    },
}


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 1]) of a non-empty list."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median_of(per_op: list[dict[str, float]]) -> dict[str, float]:
    """Metric-wise median over operations."""
    if not per_op:
        return {}
    return {k: statistics.median(d[k] for d in per_op) for k in per_op[0]}


def spark_by_layer(pairs) -> dict[str, float]:
    """``spark.<layer>.<field>`` summed over ``(layer, job-group metrics)``
    pairs; layers outside SPARK_LAYERS are dropped."""
    out = {f"spark.{l}.{f}": 0.0 for l in SPARK_LAYERS for f in SPARK_FIELDS}
    for layer, rec in pairs:
        if layer in SPARK_LAYERS:
            for f in SPARK_FIELDS:
                out[f"spark.{layer}.{f}"] += rec[f]
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM), sampled from /proc every 50 ms while open."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    @staticmethod
    def _exe(pid: int) -> str | None:
        try:
            return os.readlink(f"/proc/{pid}/exe")
        except OSError:
            return None

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, frontier = 0, [os.getpid()]
        while frontier:
            pid = frontier.pop()
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
            # A child still running its parent's executable has forked but
            # not exec'd (the JVM spawns helper commands that way): its
            # pages are the parent's, and counting them would double it.
            exe = self._exe(pid)
            frontier.extend(c for c in children.get(pid, ()) if self._exe(c) != exe)
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._tree_rss())


class Run:
    """One benchmark process: its scratch directory under the checkout,
    the pinned host settings, the Spark session, and the count of
    operations and checks attempted and failed."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, size: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.size = trace, size
        self.dir = os.path.join(STATE_DIR, f"run-{workload}-{os.getpid()}")
        self.spark = None
        self.app_id = None
        self.ops_attempted = self.ops_failed = 0
        self.checks_attempted = self.checks_failed = 0
        self.failures: list[str] = []
        self._lock = threading.Lock()
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("local", "tmp", "eventlog"):
            os.makedirs(os.path.join(self.dir, sub))
        self.host = {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(self.dir, "local"),
        }
        os.environ.update(self.host)
        tmp = os.path.join(self.dir, "tmp")
        os.environ["TMPDIR"] = tmp
        # spark-submit first runs a small launcher JVM; keep its files in
        # the checkout too (the driver JVM gets the same flags in start_session)
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    # --- accounting -------------------------------------------------------

    def op(self, ok: bool, what: str = "") -> None:
        """Count one timed operation (a DAG step, a micro-batch's file, a
        query run)."""
        with self._lock:
            self.ops_attempted += 1
            if not ok:
                self.ops_failed += 1
                self.failures.append(f"operation failed: {what}")
        if not ok:
            print(f"perfbench: operation failed: {what}", file=sys.stderr)

    def check(self, ok: bool, what: str) -> bool:
        """Count one correctness check; ``what`` explains a failure."""
        self.checks_attempted += 1
        if not ok:
            self.checks_failed += 1
            self.failures.append(f"check failed: {what}")
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    # --- Spark session ----------------------------------------------------

    def start_session(self):
        from datapipeline_gcp_spark.session import get_session

        from spans import event_log_conf

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("local"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            ),
        }
        if self.trace:
            conf.update(event_log_conf(self.path("eventlog")))
        self.spark = get_session(
            app_name=f"perfbench-{self.workload}",
            warehouse_dir=self.path("warehouse"),
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.app_id = self.spark.sparkContext.applicationId
        return self.spark

    def stop_session(self) -> None:
        """Stop Spark, then close the JVM's stdin (it exits on EOF) and
        wait for the process to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
