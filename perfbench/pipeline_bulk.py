"""pipeline_bulk: the reference medallion DAG, run back to back.

Each operation is one ``Pipeline.run`` of ``build_reference_pipeline``
in ``overwrite_run`` mode on one run date, so every run after the first
replaces partitions that already exist. Runs are issued one at a time
(closed loop) until the window ends; the latency is the DAG's wall time
from ``Pipeline.run`` start to the last business table and
``analyze_master`` committed.

The generators hardcode their seeds (42/43), so ``--seed`` sets the run
date and a small row-count offset instead.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import time

from datapipeline_gcp_spark import schemas, sinks
from datapipeline_gcp_spark.operators import business as biz
from datapipeline_gcp_spark.plans import reference_pipeline as refpipe
from datapipeline_gcp_spark.plans import runner
from datapipeline_gcp_spark.sources import generators as gen
from datapipeline_gcp_spark.sources import readers

import oracle
from harness import median_of, percentile, spark_by_layer
from spans import span_of_group

#: Rows per generated table per landing format, and the slot pool the
#: master join keys are drawn from (see NOTES.md for the sizing trap).
SIZES = {"full": (5_000, 1_250), "smoke": (750, 200)}
#: The first timed run was still ~10% slower than the last after two
#: warm-up runs (JIT warming), so three.
WARM_UP_RUNS = 3

#: The runner's steps grouped by medallion layer (runner.layer_wall_s.*),
#: and the Spark layer each group's jobs count toward.
STEP_LAYERS = {"landing": "raw", "raw": "raw", "archive": "raw", "master": "master", "business": "business"}


def step_layer(step: str) -> str | None:
    short = step.rsplit(".", 1)[-1]
    if short.startswith("ingest_") or short == "export_sales":
        return "landing"
    if short.startswith(("sense_", "load_")) or short == "ensure_layers":
        return "raw"
    if short == "archive_landing":
        return "archive"
    if short == "build_master":
        return "master"
    if step.startswith("business.") or short == "analyze_master":
        return "business"
    return None  # the start/end barriers


def expected_sales_rows(n: int) -> int:
    """``gen_sales`` fans every transaction id divisible by 3 out to three
    rows; the CSV transactions batch has ids 1e9 .. 1e9 + n - 1."""
    return sum(3 if (1_000_000_000 + i) % 3 == 0 else 1 for i in range(n))


class PipelineBulk:
    default_layer = "raw"

    def __init__(self, run):
        self.run = run
        rows, self.slots = SIZES[run.size]
        self.rows = rows + 10 * (run.seed % 10)
        day = dt.date(2023, 6, 1) + dt.timedelta(days=run.seed % 365)
        self.run_date = day.strftime("%Y%m%d")
        self.landing, self.archive = run.path("landing"), run.path("archive")
        self.runs: list[dict] = []  # per timed DAG run: wall and step results

    def _pipeline(self):
        return refpipe.build_reference_pipeline(
            self.landing,
            self.archive,
            mode="overwrite_run",
            sizes={"campaigns": self.rows, "transactions": self.rows, "slots": self.slots},
            retries=1,
            retry_delay_s=0.0,
        )

    def _dag(self, pipeline) -> dict:
        t = time.monotonic()
        results = pipeline.run(self.run.spark, run_date=self.run_date)
        return {"wall": time.monotonic() - t, "results": results}

    def stage(self) -> dict:
        # The DAG generates and lands its own inputs (its ingest steps).
        return {
            "rows_per_table_per_format": self.rows,
            "slots": self.slots,
            "run_date": self.run_date,
            "expected_raw_rows": {
                "r_campaigns": 2 * self.rows,
                "r_transactions": 2 * self.rows,
                "r_sales": expected_sales_rows(self.rows),
            },
        }

    def warm_up(self) -> None:
        for _ in range(WARM_UP_RUNS):
            r = self._dag(self._pipeline())
            bad = {n: s.error for n, s in r["results"].items() if s.status != "success"}
            self.run.check(not bad, f"warm-up DAG run failed: {bad}")

    # --- tracing ----------------------------------------------------------

    def install(self, tracer) -> None:
        size = lambda a, kw, out: {"bytes": _file_size(out)}  # noqa: E731
        table = lambda a, kw, out: {"table": a[1] if len(a) > 1 else kw.get("table")}  # noqa: E731
        tracer.wrap(gen, "write_landing_file", "generators.write_landing_file", attrs=size)
        tracer.wrap(readers, "sense_files", "readers.sense_files")
        for fn in ("append_table", "overwrite_partitions"):
            tracer.wrap(sinks, fn, f"sinks.{fn}", attrs=table)
        tracer.wrap(sinks, "archive_files", "sinks.archive_files")
        tracer.wrap(sinks, "analyze_table", "sinks.analyze_table")
        tracer.wrap(refpipe, "master_join", "reference_pipeline.master_join")
        for name in list(biz.BUILDERS):
            tracer.wrap(biz.BUILDERS, name, f"business.builder.{name}")

        # Every step registered while the patch is in place runs inside a
        # span named after it, so its jobs carry the step's job group.
        def make_step(orig):
            def step(pipe, name, fn=None, deps=(), group=None, **kw):
                full = f"{group}.{name}" if group else name
                layer = step_layer(full)
                if fn is not None and layer is not None:
                    fn = _traced_step(tracer, full, layer, fn)
                return orig(pipe, name, fn, deps, group, **kw)

            return step

        tracer.patch(runner.Pipeline, "step", make_step)

    # --- timed window -----------------------------------------------------

    def measure(self, deadline: float, tracer) -> dict:
        pipeline = self._pipeline()
        while True:
            if tracer is None:
                r = self._dag(pipeline)
            else:
                tracer.op = len(self.runs)
                with tracer.span("pipeline.run", layer="raw") as root:
                    tracer.op_span = root
                    r = self._dag(pipeline)
                tracer.op_span = None
            self.runs.append(r)
            for name, s in r["results"].items():
                self.run.op(s.status == "success", f"{name}: {s.status} {s.error or ''}")
            if time.monotonic() >= deadline:
                break
        walls = [r["wall"] for r in self.runs]
        return {
            "samples": walls,
            "p50": statistics.median(walls),
            "p90": percentile(walls, 0.9),
            "note": f"{len(walls)} DAG runs of {len(self.runs[0]['results'])} steps",
        }

    # --- correctness ------------------------------------------------------

    def check(self) -> None:
        spark = self.run.spark
        raw = {
            t: spark.table(f"raw_layer.r_{t}").drop("load_date", "src_format").toArrow()
            for t in ("campaigns", "transactions", "sales")
        }
        want = self.stage()["expected_raw_rows"]
        for t, tbl in raw.items():
            self.run.check(
                tbl.num_rows == want[f"r_{t}"],
                f"raw_layer.r_{t} has {tbl.num_rows} rows, expected {want[f'r_{t}']}",
            )
        con = oracle.connect()
        for t, tbl in raw.items():
            con.register(f"r_{t}", tbl)
        master = spark.table(schemas.MASTER_TABLE).drop("dt").toArrow()
        bad = oracle.mismatch(con, "m_data_model", master, biz.REFERENCE_MASTER_SQL)
        self.run.check(bad is None, bad)
        for name in biz.BUILDERS:
            got = spark.table(f"business_layer.{name}").toArrow()
            bad = oracle.mismatch(con, name, got, biz.oracle_for(name, biz.REFERENCE_MASTER_SQL))
            self.run.check(bad is None and got.num_rows > 0, bad or f"{name} is empty")
        con.close()

    # --- per-layer metrics --------------------------------------------------

    def layer_metrics(self, tracer, groups: dict) -> dict[str, float]:
        spark_of = {span_of_group(g): rec for g, rec in groups.items()}
        return median_of(
            [
                _dag_metrics([s for s in tracer.spans if s.op == i], spark_of, r)
                for i, r in enumerate(self.runs)
            ]
        )


def _file_size(path) -> int:
    try:
        return os.path.getsize(path)
    except (OSError, TypeError):
        return 0


def _traced_step(tracer, full: str, layer: str, fn):
    def traced(ctx):
        with tracer.span(f"step.{full}", layer=STEP_LAYERS[layer], group=layer):
            return fn(ctx)

    return traced


def _dag_metrics(spans, spark_of: dict, r: dict) -> dict[str, float]:
    """Per-layer figures of one DAG run from its spans and their jobs."""

    def total(pred) -> float:
        return sum(s.dur for s in spans if pred(s))

    def written(pred, field) -> float:
        return sum(spark_of.get(s.id, {}).get(field, 0) for s in spans if pred(s))

    def sink_to(prefix):
        return lambda s: s.name.startswith("sinks.") and str(s.attrs.get("table", "")).startswith(prefix)

    landing = lambda s: s.name == "generators.write_landing_file"  # noqa: E731
    builder = lambda s: s.name.startswith("business.builder.")  # noqa: E731
    steps = [s for s in spans if s.name.startswith("step.")]
    root = next((s for s in spans if s.name == "pipeline.run"), None)
    wall = root.dur if root is not None else r["wall"]
    layer_wall = {}
    for g in ("landing", "raw", "archive", "master", "business"):
        mine = [s for s in steps if s.attrs.get("group") == g]
        layer_wall[g] = (max(s.end for s in mine) - min(s.start for s in mine)) if mine else 0.0
    busy = sum(s.dur for s in steps)
    landing_bytes = sum(s.attrs.get("bytes", 0) for s in spans if landing(s))
    warehouse_bytes = written(lambda s: not landing(s), "bytes_written")
    return {
        "sources.landing_write_s": total(landing),
        "sources.landing_files": sum(1 for s in spans if landing(s)),
        "sources.landing_bytes": landing_bytes,
        "sources.sense_s": total(lambda s: s.name == "readers.sense_files"),
        "operators.master_build_s": total(lambda s: s.name == "reference_pipeline.master_join"),
        "operators.business_build_s": total(builder),
        "sinks.raw_write_s": total(sink_to("raw_layer.")),
        "sinks.raw_rows": written(sink_to("raw_layer."), "records_written"),
        "sinks.raw_bytes": written(sink_to("raw_layer."), "bytes_written"),
        "sinks.master_write_s": total(sink_to("master_layer.")),
        "sinks.master_rows": written(sink_to("master_layer."), "records_written"),
        "sinks.master_bytes": written(sink_to("master_layer."), "bytes_written"),
        "business.step_s": total(lambda s: s.name.startswith("step.business.")) - total(builder),
        "sinks.analyze_s": total(lambda s: s.name == "sinks.analyze_table"),
        "sinks.archive_s": total(lambda s: s.name == "sinks.archive_files"),
        "sinks.bytes_per_input_byte": warehouse_bytes / landing_bytes if landing_bytes else 0.0,
        "runner.step_busy_s": busy,
        "runner.parallelism": busy / wall if wall else 0.0,
        **{f"runner.layer_wall_s.{g}": w for g, w in layer_wall.items()},
        "runner.gap_s": wall - sum(layer_wall.values()),
        "runner.retries": sum(s.attempts - 1 for s in r["results"].values() if s.attempts),
        **spark_by_layer((s.layer, spark_of[s.id]) for s in spans if s.id in spark_of),
    }
