"""Plan-shape regression guards: the perf audits in SCALE.md/COVERAGE.md
assert specific physical-plan properties (filters pushed to the parquet
scan, dimensions broadcast, no Expand before the first exchange, top-k
via TakeOrderedAndProject). These tests pin them so a refactor that
silently regresses a plan fails CI, not the next benchmark round.

All assertions run on the UNEXECUTED plan string at sf0.01 — planning
only, no job, so the whole module costs seconds.
"""

from __future__ import annotations

import hashlib
import re

import pytest

from datapipeline_gcp_spark import registry

from tests.conftest import SF_CORRECTNESS, SF_SMOKE

_QUERIES = registry.all_queries()


def _plan(spark, name: str) -> str:
    df = _QUERIES[name](spark, SF_CORRECTNESS)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_filter_project_pushes_predicate(spark):
    plan = _plan(spark, "scan_filter_project")
    assert "PushedFilters: [" in plan
    # the pushdown section must actually carry the shipdate predicate
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("]")[0]


def test_master_join_broadcasts_dimensions(spark):
    plan = _plan(spark, "master_join")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan  # nothing shuffles at this shape


def test_b_product_performance_single_distinct_no_expand(spark):
    """Catalyst's single-distinct rewrite pre-aggregates on the group
    keys + transaction_id; the Expand-based multi-distinct plan (full
    row replication) must never come back."""
    plan = _plan(spark, "b_product_performance")
    assert "Expand" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2


def test_topk_per_group_uses_window_group_limit(spark):
    """Per-group top-k must plan WindowGroupLimit (rank pushdown), not a
    full sort of every group."""
    plan = _plan(spark, "topk_per_group")
    assert "WindowGroupLimit" in plan, plan


def test_graph_pagerank_topk_avoids_global_sort(spark):
    plan = _plan(spark, "graph_pagerank")
    assert "TakeOrderedAndProject" in plan, plan


def test_weighted_sample_topk_avoids_global_sort(spark):
    plan = _plan(spark, "corpus_weighted_sample")
    assert "TakeOrderedAndProject" in plan, plan


def test_tpch_q9_broadcasts_every_dimension(spark):
    """q9's five dimension joins (part, supplier, nation, the derived
    partsupp CTE, orders) all broadcast — lineitem streams through one
    pipeline with no SortMergeJoin."""
    plan = _plan(spark, "tpch_q9")
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 5, plan


def test_profiler_has_no_expand(spark):
    """The per-column pruned-scan profiler replaced the Expand(×N+1)
    full-width sort-aggregate plan (27 s → 3 s); keep it that way: no
    Expand anywhere, and one independent pruned scan per profiled column
    (keyless SortAggregates over the tiny post-aggregation relations are
    fine — the pathology was sorting the full-width fact table)."""
    plan = _plan(spark, "lineitem_profile")
    assert "Expand" not in plan, plan
    assert plan.count("Scan parquet") >= 10, plan


@pytest.mark.parametrize(
    "name",
    ["b_sales_kpi", "b_performance_metrics", "b_customer_retention"],
)
def test_kpi_aggregates_read_pruned_master_columns(spark, name):
    """Column pruning must reach the scans: no KPI aggregate may read
    every column of orders/lineitem (ReadSchema stays narrow)."""
    plan = _plan(spark, name)
    for section in plan.split("ReadSchema: ")[1:]:
        schema = section.splitlines()[0]
        n_cols = schema.count(":")
        assert n_cols <= 6, f"{name} scan reads {n_cols} columns: {schema}"


def _seq(jseq) -> list:
    """A Scala Seq from the JVM as a Python list."""
    return [jseq.apply(i) for i in range(jseq.size())]


def _decimal_sums(plan) -> list[str]:
    """Every ``sum`` aggregate (grouped or windowed) whose input is a
    DecimalType, found by walking the analyzed plan's nodes, their
    expressions and their subquery plans (``innerChildren``)."""
    hits: list[str] = []

    def walk_expr(e) -> None:
        if e.getClass().getSimpleName() == "Sum":
            if e.child().dataType().typeName().startswith("decimal"):
                hits.append(e.toString())
        for c in _seq(e.children()):
            walk_expr(c)

    def walk_plan(node) -> None:
        for e in _seq(node.expressions()):
            walk_expr(e)
        for c in _seq(node.children()) + _seq(node.innerChildren()):
            walk_plan(c)

    walk_plan(plan)
    return hits


#: every query whose money SUM/AVG runs on the engine's unscaled-long
#: sum (the tpch family keeps its shared decimal SQL on purpose).
_MONEY_SUM_QUERIES = [
    "b_sales_kpi",
    "b_performance_metrics",
    "b_customer_retention",
    "b_profitability_kpi",
    "b_product_performance",
    "cte_revenue_report",
    "join_composite_key",
    "window_analytics",
    "rolling_window_revenue",
]


def _analyzed(spark, name: str):
    return _QUERIES[name](spark, SF_CORRECTNESS)._jdf.queryExecution().analyzed()


@pytest.mark.parametrize("name", _MONEY_SUM_QUERIES)
def test_money_sums_never_accumulate_decimals(spark, name):
    """One money-sum form: no aggregate or window ``sum`` over a
    DECIMAL input may come back into these plans (the unscaled-long
    accumulator only meets decimals in its per-group finisher)."""
    hits = _decimal_sums(_analyzed(spark, name))
    assert not hits, f"{name} sums decimals: {hits}"


def test_decimal_sum_detector_sees_tpch(spark):
    """The detector above is live: tpch_q1's shared decimal SQL is
    reported."""
    assert _decimal_sums(_analyzed(spark, "tpch_q1"))


def test_bm25_broadcasts_query_terms_and_stats(spark):
    """BM25's postings prune (query-term set), df table, and corpus
    stats must all broadcast — the only shuffles are the tf/df
    aggregations and the per-query ranking, never a shuffled join of
    the postings against a dimension."""
    plan = _plan(spark, "retrieval_bm25_topk")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row stats cross join
    assert "WindowGroupLimit" in plan, plan  # top-k rank pushdown


def test_kmeans_broadcasts_centroids_every_iteration(spark):
    """Lloyd assignment joins the exploded coordinates against the K·D
    centroid table: every iteration must broadcast the centroid side
    (a SortMergeJoin on `d` would shuffle the corpus per iteration).

    r13: the loop is now localCheckpoint-truncated per iteration (the
    final plan shows ExistingRDD scans, not the iteration subtrees), so
    the property is asserted on the iteration building block itself —
    ``_assign`` over the checkpointed exploded relation, for both the
    seed centroids and an updated-centroid table (the two shapes the
    loop produces)."""
    from pyspark.sql import functions as F

    from datapipeline_gcp_spark.functions.kmeans import (
        K,
        _assign,
        _exploded_q,
        _update,
    )
    from datapipeline_gcp_spark.functions.similarity import finite_vectors
    from datapipeline_gcp_spark.schemas import load_testdata

    emb = load_testdata(spark, SF_CORRECTNESS, ("embeddings",))["embeddings"]
    ex = _exploded_q(finite_vectors(emb)).localCheckpoint()
    seed = ex.filter(F.col("vec_id") < K).select(
        F.col("vec_id").alias("cent_id"), "d", F.col("qx").alias("qc")
    )
    it1 = _assign(ex, seed)
    assert "BroadcastHashJoin" in it1._jdf.queryExecution().executedPlan().toString(), (
        "iteration-1 assignment must broadcast the centroid side"
    )
    it2 = _assign(ex, _update(ex, it1).localCheckpoint())
    assert "BroadcastHashJoin" in it2._jdf.queryExecution().executedPlan().toString(), (
        "iteration-2 assignment (updated centroids) must broadcast too"
    )


def test_kmeans_final_plan_stays_checkpoint_truncated(spark):
    """Guard on the REAL registry query (ADVICE r13): if the loop's
    localCheckpoints are ever removed, the final plan re-inlines every
    iteration's subtree (2^iters growth — the r13 before-plan was 859
    lines / 42 Exchanges). The committed after-shape is ~92 lines with
    ExistingRDD scans; a generous line budget catches the regression
    without pinning exact operator text."""
    plan = _plan(spark, "kmeans_lloyd")
    assert "Scan ExistingRDD" in plan, plan[:2000]
    n_lines = plan.count("\n")
    assert n_lines < 250, f"kmeans_lloyd final plan blew up to {n_lines} lines"


def test_hard_negatives_broadcasts_query_side(spark):
    plan = _plan(spark, "mining_hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_substring_dedup_single_pass(spark):
    """The single-pass rewrite hashes windows once: no join anywhere
    (the r2 shape joined the exploded windows against the duplicated
    hash set) and exactly three shuffles — (wh, doc) aggregation, the
    window repartition on wh, the per-doc roll-up. (Multiple parquet
    scans remain: the planted-dup fixture UNIONs perturbed selects of
    documents.)"""
    plan = _plan(spark, "dedup_substring")
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 3, plan


def test_expectations_broadcasts_fk_dimension(spark):
    """The referential-integrity probe must anti-join against a
    BROADCAST customer side, and the fused not-null/accepted-values
    scan must not multiply scans of orders (3 single-pass aggregates +
    1 anti join ⇒ at most 3 orders scans)."""
    plan = _plan(spark, "table_expectations")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_anomaly_hours_single_event_scan(spark):
    """Anomaly scoring pre-aggregates to (type, hour) before any
    window: exactly one scan of events and no join."""
    plan = _plan(spark, "events_anomaly_hours")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_ann_lsh_filters_pairs_before_orientation_explode(spark):
    """The query-relevance filter must prune block-local pairs BEFORE
    the both-orientation explode (r4 fix: unfiltered, explode+distinct
    input grows with corpus pairs, not query pairs — 6.7 s → 2.1 s at
    sf0.1). In the printed tree, children appear below parents, so the
    either-side-is-query Filter must sit AFTER the orientation
    Generate and BEFORE the block-pair Generate."""
    import re

    plan = _plan(spark, "ann_lsh_topk")
    orient = plan.find("Generate explode(array(struct")
    assert orient != -1, plan
    m = re.search(r"Filter \(\(a#\d+\.vec_id < \d+\) OR \(b#\d+\.vec_id < \d+\)\)", plan)
    assert m, plan
    assert m.start() > orient, "pair filter sits above the orientation explode"


def test_rfm_cuts_variant_has_no_window(spark):
    """The broadcast-quintile-cuts variant exists to remove the three
    global single-partition ntile windows; its plan must contain no
    Window operator at all, and the cuts must arrive via a broadcast
    (1-row aggregate → BroadcastNestedLoopJoin)."""
    plan = _plan(spark, "customers_rfm_segments_cuts")
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_hll_active_users_scans_fact_once(spark):
    """The HLL estimates pipeline (the part a 100 TB deployment runs
    alone) checkpoints the day-cardinality sketch table; its plan must
    reuse it (zero parquet scans after the checkpoint) instead of
    re-scanning events for the day spine. The registered contract form
    adds the exact twin in the same job, so IT may scan events — but
    only for the exact pairs (exactly one scan), and the est↔exact
    day join must broadcast."""
    from datapipeline_gcp_spark.operators.analytics import (
        _active_users_hll_estimates,
    )
    from datapipeline_gcp_spark.schemas import load_testdata

    ev = load_testdata(spark, SF_CORRECTNESS, ("events",))["events"]
    est_plan = (
        _active_users_hll_estimates(ev)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Scan parquet" not in est_plan and "FileScan parquet" not in est_plan, est_plan
    assert "BroadcastNestedLoopJoin" in est_plan, est_plan  # day-spine range join

    contract_plan = _plan(spark, "events_active_users_hll")
    # the exact twin's own shape: one scan for the (day,user) pairs,
    # one for the day-spine distinct — same as standalone
    # events_active_users; the sketch half must add none
    assert contract_plan.count("Scan parquet") == 2, contract_plan
    assert "SortMergeJoin" not in contract_plan, contract_plan


def test_gap_detection_is_one_window_no_join(spark):
    """r8 redesign: gap RUNS via one lead() window over the distinct
    (type, hour) projection — no expected-hour grid, no join at all,
    so the result stays bounded by ACTIVE hours even when a corrupt
    clock stretches the bounds by a century (the extremes-sweep OOM)."""
    plan = _plan(spark, "events_gap_detection")
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_bloom_semijoin_broadcasts_and_never_shuffles_the_fact(spark):
    """All four joins (3 bitmap probes + exact membership) must
    broadcast, the checkpointed bitmap must not re-derive per probe
    (≤2 parquet scans: orders + the membership dimension), and the
    fact table must never hit a SortMergeJoin."""
    plan = _plan(spark, "orders_bloom_semijoin")
    assert plan.count("BroadcastHashJoin") == 4, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Scan parquet") <= 2, plan


def test_url_dedup_is_one_scan_one_aggregate(spark):
    """The pre-content dedup stage must stay corpus-linear: pure column
    expressions into a single hash aggregate — no join, one scan."""
    plan = _plan(spark, "docs_url_dedup")
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_source_budget_window_is_bucket_partitioned(spark):
    """The budget cumsum's heavy window must partition by
    (source, bucket) — BUDGET_BUCKETS× finer than source alone (the
    skew story) — with all side tables broadcast (grid offsets,
    targets, the 1-row budget scalar) and the final job scanning the
    corpus exactly once (the grid is checkpointed at build time)."""
    import re

    plan = _plan(spark, "corpus_source_budget")
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert plan.count("Scan parquet") == 1, plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert any(
        "source" in s and "bucket" in s and "doc_id" in s for s in specs
    ), specs


def test_partition_pruned_join_plans_dpp(spark):
    """The date-partitioned-layer story (VERDICT r5 #4): joining the
    year-partitioned fact to the runtime-filtered hot-years dimension
    must inject a DynamicPruningExpression into the fact scan's
    PartitionFilters — the fact side reads only qualifying partitions —
    and the dimension must broadcast (DPP rides the reused broadcast
    exchange, costing zero extra jobs)."""
    plan = _plan(spark, "orders_partition_pruned_join")
    scan = plan[plan.find("PartitionFilters") :]
    assert "dynamicpruning" in scan[: scan.find("]")], plan
    assert "BroadcastHashJoin" in plan, plan


def test_no_registered_query_plans_a_scale_antipattern(spark):
    """Registry-wide linter: NO registered query may plan a
    CartesianProduct (an unbroadcast big×big cross join — the one join
    shape with no 100 TB story) or BatchEvalPython (a row-at-a-time
    Python UDF — the repo's Python-boundary policy is Arrow-batched
    pandas only, SCALE.md). Every crossJoin in the repo must stay a
    BroadcastNestedLoopJoin over a bounded side, and every Python
    stage an ArrowEvalPython / mapInPandas node.

    Plans are built at sf0.001 (planning only for the lazy majority;
    the few build-time-eager queries — checkpointed loops — run tiny
    jobs). Streaming gates execute eagerly by design and their batch
    twins are linted instead."""
    from tests.conftest import SF_SMOKE

    offenders: dict[str, object] = {}
    for name, fn in registry.all_queries().items():
        if "stream_" in name and "gate" in name:
            continue
        try:
            df = fn(spark, SF_SMOKE)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # a query that cannot even plan is worse
            offenders[name] = f"plan failure: {ex}"
            continue
        hits = [t for t in ("CartesianProduct", "BatchEvalPython") if t in plan]
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


def test_multimodal_stream_payload_stays_below_the_hash_boundary(spark, tmp_path):
    """The streaming phash-dedup transform (``multimodal_stream_ingest_
    gate``): payload bytes must exist ONLY between the file scan and the
    ``ahash_stage`` mapInPandas boundary — the stateful dedup operator,
    its state store, and the landed table see 8-byte hashes plus scalar
    passthroughs. A payload column above the Python stage would put
    image bytes into shuffle and checkpoint state at 100 TB."""
    from pyspark.sql import functions as F

    from datapipeline_gcp_spark.streaming.e2e import (
        _ASSET_LANDING_SCHEMA,
        multimodal_phash_transform,
    )

    stream = (
        spark.readStream.schema(_ASSET_LANDING_SCHEMA)
        .parquet(str(tmp_path))
        .select("*", F.col("_metadata.file_path").alias("_src"))
    )
    out = multimodal_phash_transform(stream)
    assert not any(f.dataType.typeName() == "binary" for f in out.schema.fields)
    lines = out._jdf.queryExecution().analyzed().toString().splitlines()
    boundary = next(i for i, ln in enumerate(lines) if "MapInPandas" in ln)
    above = "\n".join(lines[:boundary])
    assert "DeduplicateWithinWatermark" in above  # stateful op above the boundary
    assert "payload" not in above  # bytes never cross it


#: sha256 of each registry business query's normalized optimized +
#: executed plan at sf0.001 (see ``_business_plan_text``). The hashes
#: were computed before the KPI builders were folded into one function
#: per KPI, so a match proves the registry plans did not move.
_BUSINESS_PLAN_SHA256 = {
    "b_sales_kpi": (
        "df48ce0bdf816f2c05a6dbeab8ec7a61af002d202d20de3f1800863e4b8d14a3"
    ),
    "b_performance_metrics": (
        "d7951f488dd803191d18e4ef582c27d5eaebf63fa05eec755cdee282cf84ee70"
    ),
    "b_customer_retention": (
        "ec021e9698864d0e28a736988fb0f2a7d3266d3336d539b8b078f18976f16c21"
    ),
    "b_profitability_kpi": (
        "794e3da1131840e7350b30d00e390d19ec18459e684c870cce4a313ee58e8079"
    ),
    "b_product_performance": (
        "a41f13a657b66d93842ac75275af6af0a65b9ada9f0eeea9dcfc29da3f806ffe"
    ),
}

#: shuffle width is a host property (one partition per core); pinned
#: while planning so the hashes do not depend on the core count.
_PLAN_PIN_PARTITIONS = "4"


def _business_plan_text(spark, name: str) -> str:
    """Optimized + executed plan of a registry query with expression
    ids, plan ids and file locations blanked."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, _PLAN_PIN_PARTITIONS)
    try:
        qe = _QUERIES[name](spark, SF_SMOKE)._jdf.queryExecution()
        text = f"{qe.optimizedPlan().toString()}\n{qe.executedPlan().toString()}"
    finally:
        spark.conf.set(key, old)
    text = re.sub(r"#\d+L?", "#", text)
    text = re.sub(r"plan_id=\d+", "plan_id=", text)
    return re.sub(r"Location: \w+\(\d+ paths\)\[[^\]]*\]", "Location: ", text)


def test_business_registry_plans_pinned(spark):
    """The five registry KPI queries plan exactly as pinned: their
    optimized and executed plans are string-equal, up to ids and file
    locations, to the plans the hashes were taken from."""
    got = {
        name: hashlib.sha256(_business_plan_text(spark, name).encode()).hexdigest()
        for name in _BUSINESS_PLAN_SHA256
    }
    assert got == _BUSINESS_PLAN_SHA256
