"""Tests of the benchmark itself: each workload's full command path at
smoke size (checks included), and the span and RSS helpers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import E2E_METRICS, LAYER_METRICS, RssSampler, percentile  # noqa: E402
from spans import Span, Tracer  # noqa: E402


def _run(workload: str, trace: int) -> tuple[int, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "4", "--trace", str(trace), "--size", "smoke"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=300,
    )
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["pipeline_bulk", "stream_ingest", "headline_queries"])
def test_smoke_run_untraced_then_traced(workload):
    rc, res = _run(workload, 0)
    assert rc == 0 and res["correct"] and res["failed"] == 0, res
    assert set(res["metrics"]) == set(E2E_METRICS)
    assert all(m["value"] > 0 for m in res["metrics"].values()), res["metrics"]
    rc, res = _run(workload, 1)
    assert rc == 0 and res["correct"], res
    assert set(res["metrics"]) == set(LAYER_METRICS)
    jobs = sum(v["value"] for k, v in res["metrics"].items() if k.endswith(".jobs"))
    assert jobs > 0, "no Spark job was attributed to a layer"


class _FakeSc:
    def __init__(self):
        self.props: dict = {}

    def getLocalProperty(self, key):  # noqa: N802 (Spark API)
        return self.props.get(key)

    def setLocalProperty(self, key, value):  # noqa: N802 (Spark API)
        self.props[key] = value


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer(_FakeSc())
    parent = Span(0, "p", "raw", None, None, 0.0)
    parent.end = 10.0
    kids = [Span(1, "a", "raw", 0, None, 1.0), Span(2, "b", "raw", 0, None, 2.0),
            Span(3, "c", "raw", 0, None, 8.0)]
    for k, end in zip(kids, (4.0, 5.0, 9.0)):
        k.end = end
    tr.spans = [parent, *kids]
    # children cover [1, 5] and [8, 9]: 5 of the parent's 10 seconds
    assert tr.self_times()[0] == pytest.approx(5.0)


def test_span_sets_and_restores_the_job_group_and_wrap_restores():
    sc = _FakeSc()
    tr = Tracer(sc)
    ns = type("ns", (), {})()
    ns.f = lambda x: sc.getLocalProperty("spark.jobGroup.id")
    orig = ns.f
    tr.wrap(ns, "f", "ns.f")
    with tr.span("outer"):
        inner_group = ns.f(1)
        assert sc.getLocalProperty("spark.jobGroup.id") == "pb-0"
    assert inner_group == "pb-1"
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert tr.spans[1].parent == 0
    tr.restore()
    assert ns.f is orig


def test_percentile_interpolates():
    assert percentile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) == 3.0
    assert percentile([0.0, 10.0], 0.9) == pytest.approx(9.0)


def test_rss_sampler_sees_this_process():
    with RssSampler(interval_s=0.01):
        time.sleep(0.05)
    s = RssSampler()
    assert s._tree_rss() > 1 << 20
