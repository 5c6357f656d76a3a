"""Spans around the engine's public layer functions, plus Spark task
metrics per span read back from Spark's own event log.

``Tracer.wrap`` swaps a module attribute (or dict entry) for a wrapper
that records a span and restores the original in ``restore``. While a
span is open its calling thread carries the Spark job group
``pb-<span id>``, so every job the span starts can be traced to it in the
event log (``spark.eventLog.enabled``). Spans stay in memory and are
written out once, at the end of the run.
"""

from __future__ import annotations

import glob
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "pb-"
_JOB_GROUP = "spark.jobGroup.id"


class Span:
    __slots__ = ("id", "name", "layer", "parent", "op", "start", "end", "attrs")

    def __init__(self, sid, name, layer, parent, op, start):
        self.id, self.name, self.layer, self.parent = sid, name, layer, parent
        self.op, self.start, self.end, self.attrs = op, start, None, {}

    @property
    def dur(self) -> float:
        return (self.end or self.start) - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "layer": self.layer,
            "parent": self.parent,
            "op": self.op,
            "start": self.start,
            "end": self.end,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


class Tracer:
    """In-memory span recorder. ``default_layer`` is given to spans that
    open with no parent (e.g. in a streaming callback thread)."""

    def __init__(self, sc, default_layer: str = "other"):
        self.sc = sc
        self.default_layer = default_layer
        self.spans: list[Span] = []
        self.op: int | None = None  # index of the operation being timed
        self.op_span: Span | None = None  # its root span, for pool threads
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self.op_span
        if layer is None:
            layer = parent.layer if parent is not None else self.default_layer
        with self._lock:
            s = Span(
                len(self.spans), name, layer,
                parent.id if parent is not None else None, self.op, time.monotonic(),
            )
            self.spans.append(s)
        s.attrs.update(attrs)
        prev_group = self.sc.getLocalProperty(_JOB_GROUP)
        self.sc.setLocalProperty(_JOB_GROUP, f"{GROUP_PREFIX}{s.id}")
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            self.sc.setLocalProperty(_JOB_GROUP, prev_group)
            s.end = time.monotonic()

    def patch(self, owner, attr: str, make):
        """Replace ``owner.attr`` (``owner[attr]`` for a dict) by
        ``make(original)`` until ``restore``."""
        is_dict = isinstance(owner, dict)
        orig = owner[attr] if is_dict else getattr(owner, attr)
        new = make(orig)
        if is_dict:
            owner[attr] = new
        else:
            setattr(owner, attr, new)
        self._patches.append((owner, attr, orig))

    def wrap(self, owner, attr: str, name: str, layer: str | None = None, attrs=None):
        """Record a span around every call of ``owner.attr``.
        ``attrs(args, kwargs, result)`` may add span attributes."""

        def make(orig):
            def traced(*args, **kwargs):
                with self.span(name, layer) as s:
                    out = orig(*args, **kwargs)
                    if attrs is not None:
                        s.attrs.update(attrs(args, kwargs, out))
                    return out

            return traced

        self.patch(owner, attr, make)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that child spans cover
        (children may overlap each other, so their union is taken)."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out = {}
        for s in self.spans:
            end = s.end or s.start
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in sorted((max(c.start, s.start), min(c.end or c.start, end)) for c in kids[s.id]):
                if b <= a:
                    continue
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            out[s.id] = s.dur - covered
        return out

    def dump(self) -> dict:
        selfs = self.self_times()
        by_name: dict[str, dict] = defaultdict(lambda: {"count": 0, "total_s": 0.0, "self_s": 0.0})
        for s in self.spans:
            agg = by_name[s.name]
            agg["count"] += 1
            agg["total_s"] += s.dur
            agg["self_s"] += selfs[s.id]
        return {
            "spans": [dict(s.as_dict(), self_s=selfs[s.id]) for s in self.spans],
            "by_name": by_name,
        }


# ---------------------------------------------------------------------------
# Spark event log → task metrics per job group
# ---------------------------------------------------------------------------

EVENT_FIELDS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_write_bytes", "spill_bytes", "records_written", "bytes_written",
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """One uncompressed JSON-lines file per application, named by its id."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


def group_metrics(log_dir: str, app_id: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, executor run/CPU seconds, shuffle-write,
    spill and output record/byte counts, from the application's event
    log (read after ``spark.stop()``, when the log is complete)."""
    paths = glob.glob(f"{log_dir}/{app_id}*")
    if not paths:
        return {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EVENT_FIELDS, 0))
    with open(paths[0]) as fh:
        for line in fh:
            if line.startswith('{"Event":"SparkListenerJobStart"'):
                ev = json.loads(line)
                group = (ev.get("Properties") or {}).get(_JOB_GROUP) or "none"
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                ev = json.loads(line)
                m = ev.get("Task Metrics") or {}
                rec = out[stage_group.get(ev.get("Stage ID"), "none")]
                rec["tasks"] += 1
                rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                outm = m.get("Output Metrics") or {}
                rec["records_written"] += outm.get("Records Written", 0)
                rec["bytes_written"] += outm.get("Bytes Written", 0)
    return dict(out)


def span_of_group(group: str) -> int | None:
    if group.startswith(GROUP_PREFIX):
        return int(group[len(GROUP_PREFIX):])
    return None
