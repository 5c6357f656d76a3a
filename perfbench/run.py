"""End-to-end benchmark of the engine: the medallion DAG, the event-driven
ingest path and the headline registry queries.

    python3 perfbench/run.py --workload pipeline_bulk --seed 1 --seconds 15 --trace 0

Workloads (perfbench/NOTES.md gives sizes, loop types and rates):

- ``pipeline_bulk``: ``build_reference_pipeline`` in ``overwrite_run``
  mode, DAG runs back to back on one run date (closed loop).
- ``stream_ingest``: four live ``stream_landing_table`` streams fed by an
  open-loop publisher that renames pre-staged landing files into landing.
- ``headline_queries``: the ten ``bench.py`` headline registry queries
  over seeded testdata, each written to the noop sink (closed loop).

Every run stages its inputs from ``--seed``, starts the Spark session and
warms up (billed as ``setup_s``), measures for ``--seconds``, then checks
the engine's outputs against DuckDB. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. A
full report (with every span when traced) is written to
``.perfbench/results/``. The exit code is 0 only when every check passed.

``--size smoke`` shrinks every workload to a few seconds of work for the
benchmark's own tests; its figures are not comparable with full size.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from harness import E2E_METRICS, LAYER_METRICS, ROOT, STATE_DIR, RssSampler, Run


def _loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def result_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(STATE_DIR, "results", f"{workload}-seed{seed}-trace{trace}.json")


def execute(run: Run, workload) -> dict:
    """Stage, set up, measure, check; returns the run's report."""
    report: dict = {
        "workload": run.workload,
        "seed": run.seed,
        "seconds": run.seconds,
        "size": run.size,
        "trace": int(run.trace),
        "host": dict(run.host, nproc=os.cpu_count()),
    }
    t = time.monotonic()
    run.start_session()
    session_s = time.monotonic() - t
    # staging writes the inputs (through the engine for landing files);
    # it is timed on its own and not billed to setup_s
    t = time.monotonic()
    report["inputs"] = workload.stage()
    report["stage_s"] = time.monotonic() - t
    t = time.monotonic()
    workload.warm_up()
    setup_s = session_s + time.monotonic() - t

    tracer = None
    if run.trace:
        from spans import Tracer

        tracer = Tracer(run.spark.sparkContext, default_layer=workload.default_layer)
        workload.install(tracer)
    report["loadavg_before"] = _loadavg()
    try:
        with RssSampler() as rss:
            m = workload.measure(time.monotonic() + run.seconds, tracer)
    finally:
        if tracer is not None:
            tracer.restore()
    report["loadavg_after"] = _loadavg()

    t = time.monotonic()
    workload.check()
    report["check_s"] = time.monotonic() - t
    run.stop_session()

    report["samples"] = m["samples"]
    report["sample_note"] = m["note"]
    report["e2e"] = {
        "setup_s": setup_s,
        "latency_p50_s": m["p50"],
        "latency_p90_s": m["p90"],
        "peak_rss_mb": rss.peak / 2**20,
    }
    report["attempted"] = run.ops_attempted + run.checks_attempted
    report["failed"] = run.ops_failed + run.checks_failed
    report["failures"] = run.failures
    if tracer is not None:
        from spans import group_metrics

        groups = group_metrics(run.path("eventlog"), run.app_id)
        layer = dict.fromkeys(LAYER_METRICS, 0.0)
        layer.update(workload.layer_metrics(tracer, groups))
        layer["session.start_s"] = session_s
        report["layer"] = layer
        report["spans"] = tracer.dump()
        report["spark_groups"] = groups
        untraced = result_path(run.workload, run.seed, 0)
        report["tracing_overhead"] = None
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["e2e"]
            report["tracing_overhead"] = {k: report["e2e"][k] - base[k] for k in E2E_METRICS}
    return report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)

    # the run directory and pinned settings (TMPDIR included) come first,
    # so nothing below writes outside the checkout
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    try:
        sys.path.insert(0, ROOT)
        try:
            import datapipeline_gcp_spark  # noqa: F401
        except ImportError as ex:
            print(f"perfbench: the engine is not importable from {ROOT}: {ex}", file=sys.stderr)
            return 2
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        report = execute(run, workloads.WORKLOADS[args.workload](run))
    finally:
        run.stop_session()
        shutil.rmtree(run.dir, ignore_errors=True)

    out = result_path(run.workload, run.seed, args.trace)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)

    values, units = (report["layer"], LAYER_METRICS) if args.trace else (report["e2e"], E2E_METRICS)
    for name, unit in units.items():
        print(f"{name:36s} {values[name]:14.6g} {unit}", file=sys.stderr)
    print(
        f"failed_ratio {report['failed'] / report['attempted']:.6g} "
        f"({report['failed']} of {report['attempted']} operations and checks); "
        f"{report['sample_note']}",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "correct": not report["failures"],
                "attempted": report["attempted"],
                "failed": report["failed"],
                "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
            }
        ),
        flush=True,
    )
    return 0 if not report["failures"] else 1


if __name__ == "__main__":
    sys.exit(main())
