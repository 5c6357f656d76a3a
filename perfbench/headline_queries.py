"""headline_queries: the ten ``bench.py`` headline registry queries.

The queries read TPC-H-shaped parquet (``testdata.py``, generated with
the testdata's own seed 42 at every run) through
``schemas.load_testdata``; ``--seed`` sets the order the queries run in.
Each run builds the query's DataFrame and writes it to the noop sink;
queries are issued one at a time, round after round (closed loop), until
the window ends and every query has run at least once. The latency of a
round is the sum over the ten queries of each query's median (p90) run
time.
"""

from __future__ import annotations

import random
import statistics
import sys
import time

from datapipeline_gcp_spark import registry, schemas

import oracle
import testdata
from harness import percentile, spark_by_layer
from spans import span_of_group

#: The fixed headline set of bench.py (kept verbatim so this workload
#: does not change when bench.py does).
HEADLINE = (
    "master_join",
    "b_sales_kpi",
    "b_performance_metrics",
    "b_customer_retention",
    "b_profitability_kpi",
    "b_product_performance",
    "cte_revenue_report",
    "join_composite_key",
    "scan_filter_project",
    "topk_per_group",
)
#: Testdata scale factor (sf0.1 = 600k lineitems).
SIZES = {"full": 0.02, "smoke": 0.001}
DATA_SEED = 42
#: Warm-up rounds: the first collects every result for the check, the
#: rest write to the noop sink as the timed runs do.
WARM_UP_ROUNDS = 2


class HeadlineQueries:
    default_layer = "query"

    def __init__(self, run):
        self.run = run
        self.sf = SIZES[run.size]
        self.data = run.path("testdata")
        self.order = list(HEADLINE)
        random.Random(run.seed).shuffle(self.order)
        all_queries = registry.all_queries()
        self.queries = {n: all_queries[n] for n in HEADLINE}
        self.collected = {}  # warm-up results, checked after the window
        self.runs: list[tuple[str, float]] = []  # (query, seconds) per timed run

    def stage(self) -> dict:
        nbytes = testdata.write_testdata(self.data, self.sf, DATA_SEED)
        return {"sf": self.sf, "testdata_bytes": nbytes, "order": self.order}

    def warm_up(self) -> None:
        spark = self.run.spark
        for name in self.order:
            self.collected[name] = self.queries[name](spark, self.data).toArrow()
        for _ in range(WARM_UP_ROUNDS - 1):
            for name in self.order:
                self.queries[name](spark, self.data).write.format("noop").mode("overwrite").save()

    # --- tracing ----------------------------------------------------------

    def install(self, tracer) -> None:
        orig = schemas.load_testdata
        # The query modules import load_testdata by name: patch every copy.
        for mod in list(sys.modules.values()):
            if mod is not None and mod.__name__.startswith("datapipeline_gcp_spark") and (
                getattr(mod, "load_testdata", None) is orig
            ):
                tracer.wrap(mod, "load_testdata", "schemas.load_testdata")
        for name in HEADLINE:
            tracer.wrap(self.queries, name, f"query.{name}")

    # --- timed window -----------------------------------------------------

    def measure(self, deadline: float, tracer) -> dict:
        spark = self.run.spark
        k = 0
        while time.monotonic() < deadline or k < len(self.order):
            name = self.order[k % len(self.order)]
            if tracer is not None:
                tracer.op = k
            t = time.monotonic()
            try:
                df = self.queries[name](spark, self.data)
                if tracer is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    with tracer.span(f"query.{name}.exec"):
                        df.write.format("noop").mode("overwrite").save()
                ok = True
            except Exception as ex:  # a failing query is counted, the loop goes on
                ok = False
                print(f"perfbench: {name} failed: {ex}", file=sys.stderr)
            self.run.op(ok, name)
            if ok:
                self.runs.append((name, time.monotonic() - t))
            k += 1
        per_q = {n: [s for q, s in self.runs if q == n] for n in HEADLINE}
        per_q = {n: v for n, v in per_q.items() if v}
        return {
            "samples": per_q,
            "p50": sum(statistics.median(v) for v in per_q.values()),
            "p90": sum(percentile(v, 0.9) for v in per_q.values()),
            "note": f"{len(self.runs)} query runs, {min(map(len, per_q.values()))}+ per query",
        }

    # --- correctness ------------------------------------------------------

    def check(self) -> None:
        oracles = registry.all_oracles()
        con = oracle.connect()
        oracle.register_parquet_views(con, self.data, testdata.TABLES)
        for name in HEADLINE:
            got = self.collected[name]
            bad = oracle.mismatch(con, name, got, oracles[name])
            self.run.check(bad is None and got.num_rows > 0, bad or f"{name} returned no rows")
        con.close()

    # --- per-layer metrics --------------------------------------------------

    def layer_metrics(self, tracer, groups: dict) -> dict[str, float]:
        spark_of = {span_of_group(g): rec for g, rec in groups.items()}
        per_run: dict[str, list[dict]] = {n: [] for n in HEADLINE}
        for k in sorted({s.op for s in tracer.spans if s.op is not None}):
            mine = [s for s in tracer.spans if s.op == k]
            name = self.order[k % len(self.order)]
            load = [s for s in mine if s.name == "schemas.load_testdata"]
            jobs = lambda ss: sum(spark_of.get(s.id, {}).get("jobs", 0) for s in ss)  # noqa: E731
            per_run[name].append(
                {
                    "sources.load_testdata_s": sum(s.dur for s in load),
                    "sources.load_testdata_jobs": jobs(load),
                    "operators.query_build_s": sum(s.dur for s in mine if s.name == f"query.{name}"),
                    "operators.query_exec_s": sum(
                        s.dur for s in mine if s.name == f"query.{name}.exec"
                    ),
                    "operators.query_jobs": jobs(mine),
                    **spark_by_layer((s.layer, spark_of[s.id]) for s in mine if s.id in spark_of),
                }
            )
        # sum over queries of each query's median run, like latency_p50_s
        out: dict[str, float] = {}
        for runs in per_run.values():
            if not runs:
                continue
            for key in runs[0]:
                out[key] = out.get(key, 0.0) + statistics.median(r[key] for r in runs)
        return out
