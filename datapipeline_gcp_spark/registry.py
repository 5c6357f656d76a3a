"""Central query registry: merges every operator module's QUERIES and
ORACLES dicts. ``__spark_entry__`` (the driver contract) re-exports
these. Keys are unique across modules — a collision is a bug and raises
at import time.

Ordering is *verification-aware* (self-correcting rotation): the driver
checks only the first N (~50) entries of ``all_queries()`` per round, so
the registry orders queries by how much they need re-proving:

1. checked-and-FAILED in some ``CORRECTNESS_r*.json`` and never green
   since (highest priority — a known-red fix awaiting proof),
2. rewritten since last green (``_RECHECK``): the implementing code
   changed after the round that proved it, so the green no longer
   covers the shipped code,
3. never checked by any round's gate,
4. green in an old round but not in the latest (stale green — oldest
   green first),
5. green in the latest round's artifact (lowest priority).

Ties keep ``_MODULES`` declaration order, which fronts the modules most
recently modified. Because each round's ``CORRECTNESS_r{N}.json`` lands
in the repo root, the rotation adjusts itself every round without code
changes: whatever the gate did not prove last time goes first next time.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

#: Declaration order doubles as the tie-break for the rotation: modules
#: with the most recent code churn (LLM-pipeline functions) come first so
#: their stale-green entries re-enter the check window before untouched
#: modules' entries do.
_MODULES = [
    "datapipeline_gcp_spark.functions.retrieval",
    "datapipeline_gcp_spark.functions.kmeans",
    "datapipeline_gcp_spark.functions.bpe",
    "datapipeline_gcp_spark.functions.quality",
    "datapipeline_gcp_spark.functions.udfs",
    "datapipeline_gcp_spark.functions.multimodal",
    "datapipeline_gcp_spark.functions.dedup",
    "datapipeline_gcp_spark.functions.clusters",
    "datapipeline_gcp_spark.functions.similarity",
    "datapipeline_gcp_spark.functions.text",
    "datapipeline_gcp_spark.functions.urls",
    "datapipeline_gcp_spark.functions.cleaning",
    "datapipeline_gcp_spark.functions.curation",
    "datapipeline_gcp_spark.functions.corpus",
    "datapipeline_gcp_spark.functions.indexing",
    "datapipeline_gcp_spark.operators.layout",
    "datapipeline_gcp_spark.operators.maintenance",
    "datapipeline_gcp_spark.operators.tpch",
    "datapipeline_gcp_spark.operators.master",
    "datapipeline_gcp_spark.operators.business",
    "datapipeline_gcp_spark.operators.report",
    "datapipeline_gcp_spark.operators.relational",
    "datapipeline_gcp_spark.operators.asof",
    "datapipeline_gcp_spark.operators.analytics",
    "datapipeline_gcp_spark.operators.rangejoin",
    "datapipeline_gcp_spark.sources.generators",
    "datapipeline_gcp_spark.sources.readers",
    "datapipeline_gcp_spark.streaming.windows",
    "datapipeline_gcp_spark.streaming.joins",
    "datapipeline_gcp_spark.streaming.stateful",
    "datapipeline_gcp_spark.streaming.dedup",
    "datapipeline_gcp_spark.streaming.e2e",
]

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Queries whose implementing code was rewritten AFTER the round that
#: last proved them green — the artifact row no longer covers the
#: shipped code (the rotation cannot see git history, so rewrites are
#: declared here by hand; VERDICT r3 "What's wrong" #2). Maps query
#: name → the round in which the rewrite landed. An entry is inert once
#: a round >= that value records the query green again, so the set is
#: self-cleaning: stale pins cost nothing and can be pruned lazily.
_RECHECK: dict[str, int] = {
    # (r12's 17 pins pruned: CORRECTNESS_r12.json proved all 50 window
    # entries green, covering every pinned query — the whole set went
    # inert. Earlier rounds' pins were pruned the same way; see the
    # r8-r12 registry history for per-sweep rationale. r13 is the
    # pin-light window VERDICT r12 #2 asks for: only genuinely
    # rewritten code paths below, so the r8-stale tail rotates in.)
    # r15: the five landing gates' streams now read through the landing
    # contract (landing_format.with_format): stream_landing_table and
    # the quarantine scan parse text landing files in FAILFAST mode, and
    # dedup_stream_incremental_gate's docs stream takes the parquet
    # format from the same table. Pin policy is code, not belief.
    "events_stream_e2e_ingest_gate": 15,
    "events_stream_crossrun_redelivery_gate": 15,
    "events_stream_idempotent_replay_gate": 15,
    "multimodal_stream_ingest_gate": 15,
    "dedup_stream_incremental_gate": 15,
    # r13: the sessionizer's entry now parses gap/watermark for the
    # ms-grid warning (VERDICT r12 #6) — same module + call path.
    "events_stream_stateful_session_gate": 13,
    # r13: the fake=False decoded arm's float conventions changed
    # (ADVICE r12: NULL max_byte, decoded-count byte_len); the
    # registered query takes the fake path, but the module changed.
    "multimodal_feature_extract": 13,
    # r14 (VERDICT r13 #2): the r13 optimization commits (7c26e94,
    # ad04ebc) landed AFTER r13's pin rotation, so these five rewritten
    # paths were proven only builder-side (interleaved A/B row-identity
    # + VERIFY_LOCAL 181/181); their last EXTERNAL green predates the
    # rewrite. Pin at 14 so the driver window re-proves the shipped code.
    "dedup_clusters": 14,
    "dedup_clusters_incremental": 14,
    "dedup_incremental": 14,
    "graph_triangles": 14,
    "udf_nfkc_normalize": 14,
    # r14: every query whose money aggregates moved to the unscaled-long
    # sum (determinism.dsum, the business weighted sums,
    # and the report template's Spark-dialect rendering) — the
    # implementing expression changed under them.
    "b_sales_kpi": 14,
    "b_performance_metrics": 14,
    "b_profitability_kpi": 14,
    "b_product_performance": 14,
    "rollup_agg": 14,
    "cube_agg": 14,
    "pivot_agg": 14,
    "supplier_service_quality": 14,
    "orders_monthly_seasonality": 14,
    "customers_rfm_segments": 14,
    "customers_rfm_segments_cuts": 14,
    "case_when_projection": 14,
    "join_composite_key": 14,
    "range_join_events": 14,
    "orders_partition_pruned_join": 14,
    "events_tumbling_window": 14,
    "events_sliding_window": 14,
    "events_session_window": 14,
    "events_stream_tumbling_gate": 14,
    "events_stream_session_gate": 14,
    "cte_revenue_report": 14,
    # r15: the running/rolling window money sums left the DECIMAL(18,4)
    # accumulator for the same unscaled-long sum.
    "window_analytics": 15,
    "rolling_window_revenue": 15,
    # r14: pagerank loop (lazy seed checkpoints + one-pass edge build),
    # the incremental gate's folded day-0 copy, and the O(len²)
    # tokenization fixes.
    "graph_pagerank": 14,
    "quality_quantile_norm": 14,
    "quality_linear_score": 14,
    "bpe_train_merges": 14,
}

#: Newly-registered queries that must NOT jump ahead of the existing
#: never-checked backlog (VERDICT r3 next-steps #1: the check window is
#: ~50 entries and the backlog fills it). Ranked after never-checked
#: but before every green, so they enter the window as the backlog
#: drains; an entry goes inert once the query has any green row. The
#: VALUE is an explicit queue position within the tier (lower = enters
#: the window sooner) — module declaration order is the wrong tie-break
#: for a hand-prioritized queue.
_DEFER: dict[str, int] = {
    # (r9 entry graph_components_chain pruned: green in
    # CORRECTNESS_r09.json, making it inert; r3-r8 entries pruned the
    # same way in earlier rounds.)
    # (r9 entry events_stream_first_seen_gate pruned: green in
    # CORRECTNESS_r10.json.)
    # r11: the idempotent crash-replay gate (VERDICT r10 #1) — new
    # query; never-checked tier, so it enters right behind the 4 r11
    # pins and ahead of the stale tail: 4 pins + this + the 45 r5/r6
    # stale greens fill the 50-slot window exactly.
    "events_stream_idempotent_replay_gate": 0,
}

#: Queries with NO DuckDB oracle, each for a declared reason — the
#: driver records the weaker rows-only check for these and the judge
#: sees which. Kept deliberately tiny; ``tests/test_registry_rotation``
#: enforces that every other query ships an oracle.
ROWS_ONLY: set[str] = set()
# (Empty since r5: the two sketch twins — formerly here because HLL /
# GK summaries have no DuckDB bit-twin — now emit their accuracy
# contract AS DATA (group keys + exact counts + within-bound flags
# computed against the exact twin in the same job), a deterministic
# relation DuckDB can oracle directly. The tighter numeric bounds stay
# pinned in ``tests/test_analytics_scale_variants``.)


def correctness_history(root: str = _REPO_ROOT) -> tuple[dict[str, int], set[str], int]:
    """Parse every ``CORRECTNESS_r*.json`` in *root*.

    Returns ``(last_green_round, ever_failed, latest_round)`` where
    ``last_green_round[name]`` is the newest round whose gate proved
    *name* green (rows+schema+hash all matching) and ``ever_failed`` is
    the set of names that appear in some artifact without a full match.
    Missing/corrupt artifacts are skipped — an empty history degrades to
    plain declaration order.
    """
    last_green: dict[str, int] = {}
    last_red: dict[str, int] = {}
    latest = 0
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        if not isinstance(data, dict):
            continue
        latest = max(latest, rnd)
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            green = bool(
                row.get("rows_match")
                and row.get("schema_match")
                # rows-only checks (no oracle) have no hash key; count
                # them green on rows+schema so they rotate like the rest
                and row.get("hash_match", True)
            )
            # An oracle-less query the driver visited but could not
            # check (it writes explicit nulls + err="no_oracle" rather
            # than omitting the keys — CORRECTNESS_r04.json) is
            # checked-NOT-red: counting it red would rank it 0.0
            # forever and burn a window slot every round on a query
            # the gate cannot prove (VERDICT r4 "What's wrong" #1).
            # Recording it green parks it in the latest-green tier;
            # a _RECHECK pin re-fronts it if its code is later made
            # provable.
            # ... but only when the row carries no real verdict: an
            # artifact that somehow recorded BOTH a mismatch and the
            # no_oracle err must stay red, not be laundered green.
            if row.get("err") == "no_oracle" and row.get("rows_match") is None:
                green = True
            if green:
                last_green[name] = max(last_green.get(name, 0), rnd)
            else:
                last_red[name] = max(last_red.get(name, 0), rnd)
    # "failed" means the most RECENT verdict is red — a green from an
    # older round must not launder a later regression out of rank 0
    # (each query appears at most once per round's artifact, so the
    # comparison is well-defined).
    ever_failed = {
        n for n, r in last_red.items() if r > last_green.get(n, 0)
    }
    return last_green, ever_failed, latest


def _rotation_rank(
    name: str, last_green: dict[str, int], ever_failed: set[str]
) -> float:
    if name in ever_failed:
        return 0.0  # checked and red, fix unproven — front of the line
    if name in last_green and last_green[name] < _RECHECK.get(name, 0):
        # green, but the code was rewritten since — re-prove. NEWEST
        # rewrites first: when pins overflow the ~50-slot window, the
        # current round's headline fixes must not spill just because
        # their modules sort late, while a previous round's leftovers
        # (already locally re-proven all sweeps) wait one more round.
        return 0.5 - 0.001 * _RECHECK[name]
    if name not in last_green:
        # new registrations queue behind the existing never-checked
        # backlog instead of displacing it from the check window,
        # in their declared order (the 0.01 step keeps the whole
        # deferred tier inside (1, 2)). A NEGATIVE defer rank is the
        # judge-requested front-of-line: a never-proven query that must
        # not be displaced even by recheck pins (VERDICT r8 #3).
        if name in _DEFER:
            if _DEFER[name] < 0:
                return 0.25
            return 1.5 + 0.01 * _DEFER[name]
        return 1.0
    return 2.0 + last_green[name]  # stale green first, latest green last


def _collect() -> tuple[dict, dict]:
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for modname in _MODULES:
        mod = import_module(modname)
        for name, fn in getattr(mod, "QUERIES", {}).items():
            if name in queries:
                raise ValueError(f"duplicate query name {name!r} in {modname}")
            queries[name] = fn
        for name, sql in getattr(mod, "ORACLES", {}).items():
            if name not in getattr(mod, "QUERIES", {}):
                raise ValueError(f"oracle {name!r} in {modname} has no query")
            oracles[name] = sql

    last_green, ever_failed, _ = correctness_history()
    order = sorted(queries, key=lambda n: _rotation_rank(n, last_green, ever_failed))
    queries = {n: queries[n] for n in order}
    oracles = {n: oracles[n] for n in order if n in oracles}
    return queries, oracles


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _collect()[0]


def all_oracles() -> dict[str, str]:
    return _collect()[1]
