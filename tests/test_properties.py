"""Property-based spot checks (SURVEY.md §5.5): algebraic invariants
that must hold by construction, over hypothesis-varied generator
parameters. Few examples + small n — each example runs Spark jobs."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from datapipeline_gcp_spark.functions.dedup import within_block_pairs
from datapipeline_gcp_spark.operators.business import BUILDERS
from datapipeline_gcp_spark.operators.master import master_join
from datapipeline_gcp_spark.sources import generators as gen

_SETTINGS = dict(max_examples=3, deadline=None)


@given(n=st.integers(50, 300), seed=st.integers(0, 10_000))
@settings(**_SETTINGS)
def test_profit_identity_per_group(spark, n, seed):
    """A2 invariant: total_profit == total_income - total_campaign_cost
    in every group, up to output-cast ulps (each aggregate is exact in
    decimal space, then independently rounded to DOUBLE)."""
    c = gen.gen_campaigns(spark, n=n, seed=seed)
    t = gen.gen_transactions(spark, n=n, seed=seed + 1)
    s = gen.gen_sales(spark, t, seed=seed + 2)
    m = master_join(c, t, s)
    pdf = BUILDERS["b_performance_metrics"](m).toPandas()
    if len(pdf):
        # each aggregate is exact in decimal space but independently
        # rounded to DOUBLE on output, so the identity holds to ulps,
        # not bit-exactly
        assert (
            (pdf.total_profit - (pdf.total_income - pdf.total_campaign_cost))
            .abs()
            .max()
            < 1e-6
        )
        # ratio invariant: avg transaction value * distinct count == total
        assert (
            (pdf.average_transaction_value * pdf.transaction_count - pdf.total_income)
            .abs()
            .max()
            < 1e-6
        )


@given(seed=st.integers(0, 10_000))
@settings(**_SETTINGS)
def test_master_join_key_alignment(spark, seed):
    """Generators must produce joinable (country, date_time) slots —
    the FIXTURES.md 'critical' property."""
    c = gen.gen_campaigns(spark, n=100, seed=seed)
    t = gen.gen_transactions(spark, n=100, seed=seed)
    s = gen.gen_sales(spark, t, seed=seed)
    assert master_join(c, t, s).count() > 0


@given(sizes=st.lists(st.integers(1, 6), min_size=1, max_size=5))
@settings(**_SETTINGS)
def test_within_block_pairs_combinatorics(spark, sizes):
    """Pair expansion yields exactly C(n,2) ordered pairs per block."""
    rows = [
        (block, block * 1000 + i)
        for block, n in enumerate(sizes)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "block int, item_id bigint")
    pairs = within_block_pairs(df, ["block"], ["item_id"]).select(
        F.col("a.item_id").alias("ia"), F.col("b.item_id").alias("ib")
    ).toPandas()
    want = sum(n * (n - 1) // 2 for n in sizes)
    assert len(pairs) == want
    assert (pairs.ia < pairs.ib).all()


def test_capped_block_pairs_reports_drops(spark, caplog):
    """No-silent-caps: the capped wrapper returns the dropped-block count
    and WARN-logs it; uncapped blocks still expand fully."""
    import logging

    from datapipeline_gcp_spark.functions.dedup import capped_block_pairs

    rows = [(0, i) for i in range(5)] + [(1, 100 + i) for i in range(2)]
    df = spark.createDataFrame(rows, "block int, item_id bigint")
    with caplog.at_level(logging.WARNING):
        pairs, dropped = capped_block_pairs(df, ["block"], ["item_id"], 3)
    assert dropped == 1  # the 5-row block exceeds the cap
    assert pairs.count() == 1  # only the 2-row block's single pair remains
    assert any("dropping 1 block" in r.message for r in caplog.records)

    pairs2, dropped2 = capped_block_pairs(df, ["block"], ["item_id"], 10)
    assert dropped2 == 0
    assert pairs2.count() == 10 + 1  # C(5,2) + C(2,2)


def test_qround_is_engine_identical_on_adversarial_doubles(spark):
    """qround must produce the SAME double in Spark SQL and DuckDB for
    any input — including repr-tie values like 0.285 where plain
    round() provably differs between the engines."""
    import duckdb
    import numpy as np

    from datapipeline_gcp_spark.determinism import sql_qround

    rng = np.random.default_rng(7)
    vals = list(rng.uniform(-1000, 1000, 400))
    # adversarial: values whose shortest repr ends at the tie digit
    vals += [0.285, -0.285, 1.005, 201.5, 0.0000005, -0.0000015, 63.5 / 127]
    expr6 = sql_qround("x", 6)
    expr9 = sql_qround("x", 9)
    sdf = spark.createDataFrame([(float(v),) for v in vals], ["x"])
    sdf.createOrReplaceTempView("qround_probe")
    got_s = spark.sql(
        f"SELECT {expr6} AS q6, {expr9} AS q9 FROM qround_probe"
    ).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(float(v),) for v in vals])
    got_d = con.execute(f"SELECT {expr6} AS q6, {expr9} AS q9 FROM t").fetchall()
    for (s6, s9), (d6, d9), v in zip(got_s, got_d, vals):
        assert s6 == d6, (v, s6, d6)
        assert s9 == d9, (v, s9, d9)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
                 min_size=1, max_size=12),
        min_size=3, max_size=8),
)
@settings(**_SETTINGS)
def test_containment_matches_python_reference(spark, docs):
    """dedup_containment's distributed plan vs a direct set-arithmetic
    reference: discriminative shingles (block ≤ cap), per-doc counts,
    per-pair intersections, and both containment ratios must agree
    exactly (single integer divisions on both sides)."""
    import hashlib

    from datapipeline_gcp_spark.functions.dedup import containment_pairs

    cap, thr = 3, 0.5
    texts = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    got = sorted(
        tuple(r) for r in containment_pairs(df, cap=cap, threshold=thr).collect()
    )

    def sh(text: str) -> set[int]:
        toks = " ".join(text.split()).lower().split(" ")
        grams = (
            [" ".join(toks)]
            if len(toks) < 3
            else [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        )
        return {
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % 1_000_000_007
            for g in grams
        }

    shs = {i: sh(t) for i, t in texts}
    from collections import Counter

    occ = Counter(h for s in shs.values() for h in s)
    disc = {h for h, c in occ.items() if c <= cap}
    n = {i: len(s & disc) for i, s in shs.items()}
    want = []
    for a in shs:
        for b in shs:
            if a >= b:
                continue
            common = len(shs[a] & shs[b] & disc)
            if not common:
                continue
            ca, cb = common / n[a], common / n[b]
            if max(ca, cb) >= thr:
                want.append((a, b, common, n[a], n[b], ca, cb))
    assert got == sorted(want)


@given(seed=st.integers(0, 10_000))
@settings(**_SETTINGS)
def test_rrf_fuse_matches_python_reference(spark, seed):
    """rrf_fuse vs direct reciprocal-rank arithmetic: fused scores are
    one fixed-order IEEE addition of two reciprocals, so Python floats
    must match the engine bit-for-bit, and the per-query ordering
    (score desc, id) must agree."""
    import random

    from datapipeline_gcp_spark.functions.retrieval import rrf_fuse

    rnd = random.Random(seed)
    ids = list(range(100, 140))
    lex_rows, den_rows = [], []
    for q in (0, 1):
        for r, d in enumerate(rnd.sample(ids, 8), start=1):
            lex_rows.append((q, d, r))
        for r, d in enumerate(rnd.sample(ids, 8), start=1):
            den_rows.append((q, d, r))
    lex = spark.createDataFrame(
        lex_rows, "query_id bigint, doc_id bigint, rank bigint"
    )
    den = spark.createDataFrame(
        den_rows, "query_id bigint, vec_id bigint, rank bigint"
    )
    got = rrf_fuse(lex, den, k0=60, k=5).toPandas()
    for q in (0, 1):
        lexr = {d: r for (qq, d, r) in lex_rows if qq == q}
        denr = {d: r for (qq, d, r) in den_rows if qq == q}
        scores = {
            d: (1.0 / (60 + lexr[d]) if d in lexr else 0.0)
            + (1.0 / (60 + denr[d]) if d in denr else 0.0)
            for d in set(lexr) | set(denr)
        }
        want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        sub = got[got.query_id == q].sort_values("rank")
        assert list(sub.doc_id) == [d for d, _ in want]
        assert list(sub.rrf) == [s for _, s in want]


def _py_norm_tokens(text: str) -> list[str]:
    return " ".join(text.split()).lower().split(" ")


def _py_grams(toks: list[str], n: int) -> list[str]:
    if len(toks) < n:
        return [" ".join(toks)]
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _py_base_hash(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 1_000_000_007


@given(
    docs=st.lists(
        st.lists(st.sampled_from("ab cd ef gh ij kl".split()),
                 min_size=1, max_size=20),
        min_size=2, max_size=6),
)
@settings(**_SETTINGS)
def test_substring_scores_match_python_reference(spark, docs):
    """substring_dup_scores vs direct window-hash arithmetic — includes
    documents shorter than the window (the one-shorter-window rule the
    ANSI element_at bug broke for every shingle op)."""
    from datapipeline_gcp_spark.functions.dedup import (
        SUBSTR_WINDOW,
        substring_dup_scores,
    )

    texts = [(i, " ".join(t)) for i, t in enumerate(docs)]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["dup_frac"])
        for r in substring_dup_scores(df).collect()
    }
    from collections import Counter

    wh = {
        i: [_py_base_hash(g) for g in _py_grams(_py_norm_tokens(t), SUBSTR_WINDOW)]
        for i, t in texts
    }
    nd = Counter(h for i, hs in wh.items() for h in set(hs))
    want = {}
    for i, hs in wh.items():
        n_dup = sum(1 for h in hs if nd[h] >= 2)
        want[i] = (len(hs), n_dup, n_dup / len(hs))
    assert got == want


@given(
    docs=st.lists(
        st.lists(st.sampled_from("red blue green gold onyx jade".split()),
                 min_size=1, max_size=10),
        min_size=3, max_size=7),
)
@settings(**_SETTINGS)
def test_bm25_matches_python_reference(spark, docs):
    """bm25_topk vs direct Okapi arithmetic on hypothesis corpora —
    covers repeated terms, single-token docs, and full-df terms. Ranks
    must agree exactly; scores to 1e-9 (libm vs JVM ln may differ by an
    ulp before the 6-dp rounding)."""
    from datapipeline_gcp_spark.functions.retrieval import B, K1, bm25_topk

    import math

    texts = [(i, " ".join(t)) for i, t in enumerate(docs)]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    n_q = 2
    got = [
        (r["query_id"], r["rank"], r["doc_id"], r["n_terms"])
        for r in bm25_topk(df, n_queries=n_q, k=5).collect()
    ]
    got_scores = {
        (r["query_id"], r["doc_id"]): r["bm25"]
        for r in bm25_topk(df, n_queries=n_q, k=5).collect()
    }
    toks = {i: _py_norm_tokens(t) for i, t in texts}
    from collections import Counter

    tf = {i: Counter(ts) for i, ts in toks.items()}
    df_ = Counter(t for i in tf for t in tf[i])
    n_docs = float(len(toks))
    avgdl = sum(len(ts) for ts in toks.values()) / len(toks)
    want = []
    want_scores = {}
    for q in range(n_q):
        scored = []
        for d in toks:
            if d == q:
                continue
            s, n_terms = 0.0, 0
            for term in tf[q]:
                if term not in tf[d]:
                    continue
                n_terms += 1
                idf = math.log(1.0 + (n_docs - df_[term] + 0.5) / (df_[term] + 0.5))
                tfd = float(tf[d][term])
                dl_norm = K1 * (1.0 - B + B * len(toks[d]) / avgdl)
                per = idf * tfd * (K1 + 1.0) / (tfd + dl_norm)
                s += math.floor(per * 1e6 + 0.5) / 1e6
            if n_terms:
                scored.append((round(s, 6), d, n_terms))
        scored.sort(key=lambda x: (-x[0], x[1]))
        for rank, (s, d, n_terms) in enumerate(scored[:5], start=1):
            want.append((q, rank, d, n_terms))
            want_scores[(q, d)] = s
    assert sorted(got) == sorted(want)
    for k, v in want_scores.items():
        assert abs(got_scores[k] - v) < 1e-9


def test_empty_and_exhausted_inputs_do_not_crash(spark):
    """Real pipelines hit empty days/partitions constantly; every core
    operator must return an empty (or truncated) result, not raise.
    bpe_train additionally stops early when the pair space is exhausted
    (one two-char word supports exactly one merge)."""
    from datapipeline_gcp_spark.functions import clusters, dedup, retrieval
    from datapipeline_gcp_spark.functions.bpe import bpe_train

    empty_docs = spark.createDataFrame([], "doc_id bigint, text string")
    empty_edges = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    assert dedup.exact_dedup_groups(empty_docs).count() == 0
    assert dedup.lsh_candidate_pairs(
        dedup.minhash_signatures(empty_docs)
    ).count() == 0
    assert dedup.substring_dup_scores(empty_docs).count() == 0
    assert dedup.containment_pairs(empty_docs).count() == 0
    assert clusters.connected_components(empty_edges).count() == 0
    assert retrieval.bm25_topk(empty_docs).count() == 0
    assert bpe_train(empty_docs, n_merges=3).count() == 0
    tiny = spark.createDataFrame([(0, "ab")], "doc_id bigint, text string")
    merges = bpe_train(tiny, n_merges=5).collect()
    assert [(m.a, m.b) for m in merges] == [("a", "b")]  # stops after 1

    # a zero-line document: kept_frac is NULL (ANSI-safe), counts are 0
    from datapipeline_gcp_spark.functions.cleaning import line_filter

    no_lines = spark.createDataFrame(
        [(0, [])], "doc_id bigint, lines array<string>"
    )
    row = line_filter(no_lines).collect()[0]
    assert (row.n_lines, row.n_kept, row.kept_frac, row.clean_text) == (
        0,
        0,
        None,
        "",
    )


def test_pagerank_degenerate_graphs(spark):
    """Empty graph → empty rank frame (not ZeroDivisionError); a single
    self-loop node holds all the mass."""
    from datapipeline_gcp_spark.functions.clusters import pagerank

    empty = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty).count() == 0
    single = spark.createDataFrame([("a", "a")], "src string, dst string")
    rows = pagerank(single).collect()
    assert len(rows) == 1 and abs(rows[0]["rank"] - 1.0) < 1e-9


def test_multimodal_workers_skip_null_payloads(spark):
    """An absent/corrupt object (NULL payload) must be skipped by every
    Arrow worker, not kill the task with bytes(None)."""
    from pyspark.sql import types as T

    from datapipeline_gcp_spark.functions import multimodal as mm

    schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    assets = spark.createDataFrame(
        [
            (0, "image", None),
            (1, "image", b"0123456789abcdefXYZ"),
            (2, "video", None),
            (3, "video", b"A" * 80),
        ],
        schema,
    )
    assert mm.extract_features(assets).count() == 2
    assert mm.ahash_stage(assets.select("asset_id", "payload")).count() == 2
    assert mm.sample_frames(assets, kind="video").count() == 2  # 80 // 32
    assert mm.resize_assets(assets, kind="image").count() == 1


@given(
    docs=st.lists(
        st.lists(st.sampled_from("one two three four five six".split()),
                 min_size=1, max_size=15),
        min_size=2, max_size=5),
)
@settings(**_SETTINGS)
def test_minhash_signatures_match_python_reference(spark, docs):
    """The core dedup primitive vs direct arithmetic:
    h_i(s) = ((2i+1)·bh(s) + 7919·i + 1) mod P minimized over distinct
    shingles — every downstream MinHash/LSH/clusters result depends on
    these exact longs, including the one-shorter-shingle rule for
    sub-3-token docs."""
    from datapipeline_gcp_spark.functions.dedup import (
        NUM_HASHES,
        P,
        minhash_signatures,
    )

    texts = [(i, " ".join(t)) for i, t in enumerate(docs)]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    got = {r["doc_id"]: list(r["minhash"]) for r in minhash_signatures(df).collect()}
    want = {}
    for i, t in texts:
        hs = {_py_base_hash(g) for g in _py_grams(_py_norm_tokens(t), 3)}
        want[i] = [
            min(((2 * j + 1) * h + 7919 * j + 1) % P for h in hs)
            for j in range(NUM_HASHES)
        ]
    assert got == want


@given(
    docs=st.lists(
        st.lists(st.sampled_from("north south east west up down".split()),
                 min_size=1, max_size=15),
        min_size=2, max_size=5),
)
@settings(**_SETTINGS)
def test_simhash_signatures_match_python_reference(spark, docs):
    """SimHash's SWAR-packed sign-of-sums vs direct per-bit counting:
    the 15-lane packing must extract the exact per-bit token counts."""
    import hashlib

    from datapipeline_gcp_spark.functions.dedup import (
        SIMHASH_BITS,
        simhash_signatures,
    )

    texts = [(i, " ".join(t)) for i, t in enumerate(docs)]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df).collect()}
    want = {}
    for i, t in texts:
        toks = list(dict.fromkeys(_py_norm_tokens(t)))  # ordered distinct
        hs = [int(hashlib.md5(x.encode()).hexdigest()[:15], 16) for x in toks]
        sig = 0
        for j in range(SIMHASH_BITS):
            cnt = sum((h >> j) & 1 for h in hs)
            if 2 * cnt > len(hs):
                sig |= 1 << j
        want[i] = sig
    assert got == want


@given(
    vecs=st.lists(
        st.lists(st.floats(-2.0, 2.0, allow_nan=False, width=32),
                 min_size=2, max_size=6),
        min_size=1, max_size=4),
)
@settings(**_SETTINGS)
def test_quantize_int8_matches_python_reference(spark, vecs):
    """Symmetric int8 quantization vs direct IEEE arithmetic — scale,
    quantized values, and reconstruction RMSE must agree bit-for-bit
    (float32→double is exact; fold order is array order; rounding is
    floor(v+0.5) on both sides). Includes all-zero vectors."""
    import math

    import numpy as np
    from pyspark.sql import types as T

    from datapipeline_gcp_spark.functions.similarity import quantize_int8

    rows = [(i, v) for i, v in enumerate(vecs)] + [(len(vecs), [0.0, 0.0])]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    got = {
        r["vec_id"]: (r["scale"], r["q_csv"], r["recon_rmse"])
        for r in quantize_int8(df).collect()
    }

    def q9(v):
        return math.floor(v * 1e9 + 0.5) / 1e9

    want = {}
    for i, v in rows:
        vd = [float(np.float32(x)) for x in v]
        amax = max(abs(x) for x in vd)
        scale = amax / 127.0
        if amax == 0.0:
            q = [0] * len(vd)
        else:
            q = [math.floor(x * 127.0 / amax + 0.5) for x in vd]
        acc = 0.0
        for x, qq in zip(vd, q):
            acc = acc + (x - qq * scale) ** 2
        want[i] = (
            q9(scale),
            ",".join(str(int(x)) for x in q),
            q9(math.sqrt(acc / len(vd))),
        )
    assert got == want


@given(
    parts=st.lists(
        st.tuples(
            st.sampled_from(["http", "https", "HTTP", "HtTpS", "ftp"]),
            st.sampled_from(["", "www."]),
            st.sampled_from(["Ex.com", "a.b.org", "site.net"]),
            st.sampled_from(["", ":443", ":80", ":8080"]),
            st.sampled_from(["", "/", "/p", "/p/q", "/p//", "/p/q///"]),
            st.lists(
                st.sampled_from(
                    ["a=1", "b=2", "utm_src=x", "ref=abc", "z=9", ""]
                ),
                max_size=4,
            ),
            st.sampled_from(["", "#frag", "#a#b"]),
        ),
        min_size=1,
        max_size=8,
    ),
)
@settings(**_SETTINGS)
def test_canonicalize_url_matches_python_reference(spark, parts):
    """canonicalize_url (java.util.regex inside codegen) vs a Python
    ``re`` replica of the same spec — guards regex-engine and
    array-sort/filter semantics across every rule combination
    (scheme fold, www/port strip, trailing slashes, tracking params,
    param sort, fragment, junk without a scheme)."""
    import re

    from datapipeline_gcp_spark.functions.urls import canonicalize_url

    urls = [
        f"{s}://{w}{h}{port}{path}"
        + ("?" + "&".join(q) if q else "")
        + frag
        for (s, w, h, port, path, q, frag) in parts
    ] + ["no-scheme/just/path?a=1", ""]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                               "i bigint, url string")
    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonicalize_url(F.col("url")).alias("c")).collect()
    }

    def py_canon(url: str) -> str:
        u = re.sub(r"#.*", "", url)
        m = re.search(r"^([A-Za-z][A-Za-z0-9+.-]*)://", u)
        scheme = m.group(1).lower() if m else ""
        if scheme == "http":
            scheme = "https"
        m = re.search(r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", u)
        host = m.group(1).lower() if m else ""
        host = re.sub(r"^www\.", "", host)
        host = re.sub(r":(443|80)$", "", host)
        m = re.search(r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", u)
        path = re.sub(r"/+$", "", m.group(1)) if m else ""
        m = re.search(r"\?([^#]*)", u)
        q = m.group(1) if m else ""
        params = sorted(
            x
            for x in q.split("&")
            if x and not x.startswith("utm_") and not x.startswith("ref=")
        )
        query = "&".join(params)
        return f"{scheme}://{host}{path}" + (f"?{query}" if query else "")

    want = {i: py_canon(u) for i, u in enumerate(urls)}
    assert got == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 2),          # user
            st.integers(0, 20_000),     # seconds offset
        ),
        min_size=1, max_size=30, unique=True),
)
@settings(**_SETTINGS)
def test_sessionize_matches_python_reference(spark, events):
    """Gaps-and-islands sessionization vs a direct Python scan — ties
    on ts break by event_id (the window's total order), a gap of
    EXACTLY the threshold continues the session (strict >), and
    session_idx is the running start count per user."""
    import datetime as dt

    from datapipeline_gcp_spark.operators.analytics import sessionize

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, u, base + dt.timedelta(seconds=s))
        for i, (u, s) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "event_id bigint, user_id bigint, ts timestamp")
    gap_min = 30
    got = {
        r["event_id"]: r["session_idx"]
        for r in sessionize(df, gap_minutes=gap_min).collect()
    }
    want = {}
    by_user: dict[int, list] = {}
    for i, u, ts in rows:
        by_user.setdefault(u, []).append((ts, i))
    for u, evs in by_user.items():
        evs.sort()
        idx, prev = 0, None
        for ts, i in evs:
            if prev is None or (ts - prev).total_seconds() > gap_min * 60:
                idx += 1
            want[i] = idx
            prev = ts
    assert got == want


@given(
    docs=st.lists(
        st.lists(st.sampled_from("tok0 tok1 tok2 tok3".split()),
                 min_size=1, max_size=40),
        min_size=1, max_size=4),
    size=st.integers(2, 10),
    stride=st.integers(1, 10),
)
@settings(**_SETTINGS)
def test_chunking_matches_python_reference(spark, docs, size, stride):
    """Sliding-window chunking vs a direct Python slicer over varied
    (size, stride) — full coverage, short final chunks, stride > size
    gaps... the offset math most likely to be off by one."""
    from datapipeline_gcp_spark.functions.corpus import chunk_documents

    texts = [(i, " ".join(t)) for i, t in enumerate(docs)]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["chunk_tokens"])
        for r in chunk_documents(df, size=size, stride=stride).collect()
    )
    want = []
    for i, t in texts:
        toks = _py_norm_tokens(t)
        n = len(toks)
        for ci in range((n - 1) // stride + 1):
            seg = toks[ci * stride : ci * stride + size]
            want.append((i, ci, " ".join(seg), min(size, n - ci * stride)))
    assert got == sorted(want)


@given(
    lefts=st.lists(st.tuples(st.integers(0, 1), st.integers(0, 50)),
                   min_size=1, max_size=15),
    rights=st.lists(st.tuples(st.integers(0, 1), st.integers(0, 50)),
                    min_size=0, max_size=15),
    direction=st.sampled_from(["backward", "forward"]),
)
@settings(**_SETTINGS)
def test_asof_join_matches_python_reference(spark, lefts, rights, direction):
    """asof_join (union + marker-ordered window sweep) vs a direct
    Python scan: backward takes the LATEST right with r.ts <= l.ts,
    forward the EARLIEST with r.ts >= l.ts, per key, exact-ts rights
    visible, NULLs when none qualifies. Duplicate right timestamps per
    key are excluded (which of two equal-ts rights wins is
    tie-unspecified in any ASOF engine)."""
    import datetime as dt

    from datapipeline_gcp_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    t = lambda s: base + dt.timedelta(minutes=s)  # noqa: E731
    rights = list({(k, s): None for k, s in rights})  # dedup (key, ts)
    ldf = spark.createDataFrame(
        [(i, k, t(s)) for i, (k, s) in enumerate(lefts)],
        "lid bigint, k bigint, ts timestamp",
    )
    rdf = spark.createDataFrame(
        [(1000 + j, k, t(s)) for j, (k, s) in enumerate(rights)],
        "rid bigint, k bigint, ts timestamp",
    ) if rights else spark.createDataFrame([], "rid bigint, k bigint, ts timestamp")
    out = asof_join(ldf, rdf, "ts", ["k"], ["rid"], direction=direction)
    got = {r["lid"]: r["rid_right"] for r in out.collect()}
    want = {}
    for i, (k, s) in enumerate(lefts):
        if direction == "backward":
            cands = [(ss, 1000 + j) for j, (kk, ss) in enumerate(rights)
                     if kk == k and ss <= s]
            want[i] = max(cands)[1] if cands else None
        else:
            cands = [(ss, 1000 + j) for j, (kk, ss) in enumerate(rights)
                     if kk == k and ss >= s]
            want[i] = min(cands)[1] if cands else None
    assert got == want


@given(
    old_edges=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)),
        max_size=12),
    new_edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        max_size=8),
)
@settings(**_SETTINGS)
def test_incremental_components_equal_full_recompute(spark, old_edges, new_edges):
    """The star-contraction invariant incremental CC rests on:
    CC(old-map-as-stars ∪ batch edges) == CC(old ∪ batch edges) — over
    arbitrary random graphs (bridges that merge old components, chains,
    isolated batch components), not just the planted fixture. Also
    cross-checks connected_components itself against a Python
    union-find."""
    from datapipeline_gcp_spark.functions.clusters import (
        connected_components,
        incremental_components,
    )

    old_edges = [(a, b) for a, b in old_edges if a != b]
    new_edges = [(a, b) for a, b in new_edges if a != b]
    if not old_edges or not new_edges:
        return
    old_df = spark.createDataFrame(old_edges, "doc_a bigint, doc_b bigint")
    new_df = spark.createDataFrame(new_edges, "doc_a bigint, doc_b bigint")
    comp_old = connected_components(old_df)
    merged = {
        (r["node"], r["component"])
        for r in incremental_components(comp_old, new_df).collect()
    }

    # Python union-find ground truth over the FULL edge set
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in old_edges + new_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(n, find(n)) for n in parent}
    assert merged == want


@given(
    chunks=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 3), st.integers(1, 30)),
        min_size=1, max_size=25, unique_by=lambda c: (c[0], c[1])),
    budget=st.integers(8, 64),
    shards=st.integers(1, 4),
)
@settings(**_SETTINGS)
def test_pack_chunks_matches_python_reference(spark, chunks, budget, shards):
    """Shard-local sequence packing vs a Python scan: md5 shard
    assignment, (doc_id, chunk_idx)-ordered exclusive running offsets,
    and floor-division bin ids must agree exactly."""
    from datapipeline_gcp_spark.functions.corpus import pack_chunks

    df = spark.createDataFrame(
        chunks, "doc_id bigint, chunk_idx bigint, chunk_tokens bigint"
    )
    got = sorted(tuple(r) for r in pack_chunks(df, budget=budget, shards=shards).collect())
    want = []
    by_shard: dict[int, list] = {}
    for d, ci, tok in chunks:
        by_shard.setdefault(_py_base_hash(str(d)) % shards, []).append((d, ci, tok))
    for s, items in by_shard.items():
        items.sort()
        off = 0
        for d, ci, tok in items:
            want.append((s, d, ci, tok, off, off // budget))
            off += tok
    assert got == sorted(want)


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 3),
            st.sampled_from(["view", "click", "purchase", "other"]),
            st.integers(0, 40),
        ),
        min_size=1, max_size=40),
)
@settings(**_SETTINGS)
def test_funnel_matches_python_reference(spark, events):
    """Strict ordered funnel vs a Python first-touch scan: stage i+1
    requires an event STRICTLY after the stage-i time (a click before
    the first view must not qualify); n1 = 0 → NaN rates excluded by
    construction (conv_rate only read when n1 > 0)."""
    import datetime as dt

    from datapipeline_gcp_spark.operators.analytics import funnel

    base = dt.datetime(2024, 1, 1)
    rows = [
        (u, et, base + dt.timedelta(minutes=m)) for u, et, m in events
    ]
    df = spark.createDataFrame(rows, "user_id bigint, event_type string, ts timestamp")
    stages = ("view", "click", "purchase")
    got = {r["stage_idx"]: r["n_users"] for r in funnel(df, stages).collect()}
    users = {u for u, _, _ in events}
    counts = [0, 0, 0]
    for u in users:
        evs = sorted((ts, et) for (uu, et, ts) in rows if uu == u)
        t = None
        for i, stage in enumerate(stages):
            cand = [
                ts for ts, et in evs
                if et == stage and (t is None if i == 0 else ts > t)
            ]
            if not cand:
                break
            t = min(cand)
            counts[i] += 1
    assert [got[1], got[2], got[3]] == counts


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(
                "the la der le of de und et xyz q1 --- 42".split()
            ),
            min_size=0, max_size=12),
        min_size=1, max_size=8),
)
@settings(**_SETTINGS)
def test_language_id_matches_python_reference(spark, texts):
    """Marker-hit language ID vs a Python re scan: per-language counts,
    argmax with first-wins tie-break in LANG_MARKERS key order, and
    'und' on zero hits — over texts that mix markers from several
    languages (shared words like 'la'/'de' hit multiple patterns)."""
    import re

    from datapipeline_gcp_spark.functions.text import (
        LANG_MARKERS,
        with_language_id,
    )

    rows = [(i, " ".join(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "i bigint, text string")
    cols = [f"score_{lang}" for lang in LANG_MARKERS] + ["lang_pred"]
    got = {r["i"]: tuple(r[c] for c in cols) for r in with_language_id(df).collect()}
    want = {}
    for i, t in rows:
        low = t.lower()
        scores = {
            lang: len(re.findall(r"\b(" + "|".join(m) + r")\b", low))
            for lang, m in LANG_MARKERS.items()
        }
        best = max(scores.values())
        pred = "und"
        if best > 0:
            pred = next(l for l in LANG_MARKERS if scores[l] == best)
        want[i] = tuple(scores[lang] for lang in LANG_MARKERS) + (pred,)
    assert got == want


@given(
    docs=st.lists(
        st.tuples(st.integers(0, 5000), st.sampled_from(["en", "es", "xx"])),
        min_size=1, max_size=30, unique_by=lambda d: d[0]),
    rates=st.fixed_dictionaries(
        {"en": st.integers(0, 1000), "es": st.integers(0, 1000)}),
    default_rate=st.integers(0, 1000),
)
@settings(**_SETTINGS)
def test_stratified_sample_matches_python_reference(spark, docs, rates, default_rate):
    """Hash-threshold Bernoulli sampling vs direct md5 arithmetic:
    membership, bucket, and Horvitz-Thompson weight must be exactly
    reproducible for arbitrary per-stratum per-mille rates (including
    0 and 1000)."""
    from datapipeline_gcp_spark.functions.corpus import stratified_sample

    df = spark.createDataFrame(docs, "doc_id bigint, lang string")
    got = sorted(tuple(r) for r in stratified_sample(
        df, rates=rates, default_rate=default_rate).collect())
    want = []
    for d, lang in docs:
        rate = rates.get(lang, default_rate)
        b = _py_base_hash(str(d)) % 1000
        if b < rate:
            want.append((d, lang, b, 1000.0 / rate))
    assert got == sorted(want)


def test_zero_divisor_guards(spark):
    """ANSI divide-by-zero guards: a zero-magnitude embedding yields a
    NULL cosine (DuckDB's semantics) instead of throwing, and a
    zero-weight document is never sampled (NULL A-ES key sorts last)."""
    from pyspark.sql import types as T

    from datapipeline_gcp_spark.functions.corpus import weighted_sample
    from datapipeline_gcp_spark.functions.similarity import (
        _scored_pairs,
        _with_stats,
        as_double,
    )

    emb_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    emb = spark.createDataFrame(
        [(0, [0.0, 0.0], 1), (1, [1.0, 0.0], 1), (2, [0.0, 1.0], 1)],
        emb_schema,
    )
    vecs = _with_stats(
        emb.select("vec_id", "label", as_double(F.col("embedding")).alias("vd")),
        with_bucket=False,
    )
    scored = _scored_pairs(vecs.filter(F.col("vec_id") < 3), vecs).collect()
    zero_rows = [r for r in scored if 0 in (r["query_id"], r["vec_id"])]
    assert zero_rows and all(r["score"] is None for r in zero_rows)
    real = [r for r in scored if r["query_id"] == 1 and r["vec_id"] == 2]
    assert real[0]["score"] == 0.0  # orthogonal unit vectors

    docs = spark.createDataFrame(
        [(0, "s", 0), (1, "s", 10), (2, "s", 20)],
        "doc_id bigint, source string, n_chars bigint",
    )
    picked = weighted_sample(docs, k=2).collect()
    assert [r["doc_id"] for r in picked if r["weight"] == 0] == []
    assert len(picked) == 2


@given(
    ids=st.lists(
        st.integers(-(10**9), 10**9), min_size=1, max_size=40, unique=True
    ),
)
@settings(**_SETTINGS)
def test_split_assign_matches_python_reference(spark, ids):
    """Deterministic hash split vs direct md5 arithmetic — and the
    stability property the docstring sells: a document's split depends
    only on its own id, never on the rest of the corpus."""
    from datapipeline_gcp_spark.functions.indexing import (
        SPLIT_BUCKETS,
        TRAIN_UPTO,
        VALID_UPTO,
        split_assign,
    )

    df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    got = {
        r["doc_id"]: r["split"] for r in split_assign(df).collect()
    }

    def py_split(i: int) -> str:
        b = _py_base_hash(str(i)) % SPLIT_BUCKETS
        return "train" if b < TRAIN_UPTO else "valid" if b < VALID_UPTO else "test"

    assert got == {i: py_split(i) for i in ids}


_LINE_WORDS = "alpha beta gamma slow delta x".split()


@given(
    docs=st.lists(
        st.lists(
            st.tuples(
                st.lists(st.sampled_from(_LINE_WORDS), min_size=0, max_size=7),
                st.sampled_from([".", "!", "?", "", ","]),
            ),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=5,
    ),
)
@settings(**_SETTINGS)
def test_line_filter_matches_python_reference(spark, docs):
    """C4 line rules vs a direct Python re scan — covers empty lines,
    empty documents (NULL kept_frac), the badword rule, and lines with
    exactly min_words words."""
    import re

    from datapipeline_gcp_spark.functions.cleaning import (
        BLOCKED_WORD,
        MIN_LINE_WORDS,
        line_filter,
    )

    rows = [
        (i, [" ".join(ws) + p for ws, p in lines]) for i, lines in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, lines array<string>")
    got = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["kept_frac"], r["clean_text"])
        for r in line_filter(df).collect()
    }

    def py_keep(ln: str) -> bool:
        # F.split(ln, " ") semantics: "" -> [""], no whitespace merging
        return (
            len(ln.split(" ")) >= MIN_LINE_WORDS
            and re.search(r"[.!?]$", ln) is not None
            and re.search(rf"\b{BLOCKED_WORD}\b", ln) is None
        )

    want = {}
    for i, lines in rows:
        kept = [ln for ln in lines if py_keep(ln)]
        frac = len(kept) / len(lines) if lines else None
        want[i] = (len(lines), len(kept), frac, " ".join(kept))
    assert got == want


_COLLOC_WORDS = "aa bb cc dd".split()


@given(
    docs=st.lists(
        st.lists(st.sampled_from(_COLLOC_WORDS), min_size=1, max_size=12),
        min_size=2,
        max_size=6,
    ),
)
@settings(**_SETTINGS)
def test_collocations_match_python_reference(spark, docs):
    """PMI collocations vs direct counter arithmetic (min_count=1,
    topk covering every bigram so the comparison is cut-free). Counts
    exact; PMI to 1e-9 (libm vs JVM ln ulp, same policy as BM25)."""
    import math
    from collections import Counter

    from datapipeline_gcp_spark.functions.corpus import collocations

    texts = [(i, " ".join(t)) for i, t in enumerate(docs)]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    got = {
        (r["x"], r["y"]): (r["c_xy"], r["pmi"])
        for r in collocations(df, min_count=1, topk=10_000).collect()
    }

    toks = [_py_norm_tokens(t) for _, t in texts]
    uni = Counter(tok for ts in toks for tok in ts)
    bi = Counter(
        (ts[i], ts[i + 1]) for ts in toks if len(ts) >= 2 for i in range(len(ts) - 1)
    )
    n_uni = float(sum(uni.values()))
    n_bi = float(sum(bi.values()))
    want = {}
    for (x, y), c_xy in bi.items():
        pmi = math.log(
            (c_xy / n_bi) / ((uni[x] / n_uni) * (uni[y] / n_uni))
        )
        want[(x, y)] = (c_xy, math.floor(pmi * 1e6 + 0.5) / 1e6)
    assert set(got) == set(want)
    for k, (c, pmi) in want.items():
        assert got[k][0] == c
        assert abs(got[k][1] - pmi) < 1e-9


@given(
    docs=st.lists(
        st.lists(st.sampled_from(_COLLOC_WORDS), min_size=1, max_size=10),
        min_size=2,
        max_size=6,
    ),
)
@settings(**_SETTINGS)
def test_tfidf_matches_python_reference(spark, docs):
    """tf-idf top-k per document vs direct counter arithmetic — ranks
    and counts exact (the qround'd score is the ranking key, token
    tie-break), scores to 1e-9."""
    import math
    from collections import Counter

    from datapipeline_gcp_spark.functions.corpus import tfidf_topk

    texts = [(i, " ".join(t)) for i, t in enumerate(docs)]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    k = 3
    got = [
        (r["doc_id"], r["rank"], r["token"], r["tf"], r["df"])
        for r in tfidf_topk(df, topk=k).collect()
    ]
    got_scores = {
        (r["doc_id"], r["token"]): r["tfidf"]
        for r in tfidf_topk(df, topk=k).collect()
    }

    tf = {i: Counter(_py_norm_tokens(t)) for i, t in texts}
    df_ = Counter(tok for i in tf for tok in tf[i])
    n_docs = float(len(texts))
    want, want_scores = [], {}
    for i in tf:
        scored = [
            (
                math.floor(c * math.log(n_docs / df_[tok]) * 1e6 + 0.5) / 1e6,
                tok,
                c,
            )
            for tok, c in tf[i].items()
        ]
        scored.sort(key=lambda s: (-s[0], s[1]))
        for rank, (s, tok, c) in enumerate(scored[:k], start=1):
            want.append((i, rank, tok, c, df_[tok]))
            want_scores[(i, tok)] = s
    assert sorted(got) == sorted(want)
    for key, s in want_scores.items():
        assert abs(got_scores[key] - s) < 1e-9


@given(
    orders=st.lists(
        st.tuples(
            st.integers(1, 6),  # o_custkey
            st.integers(0, 400),  # days after 2024-01-01
            st.integers(0, 10_000_00),  # totalprice in cents
        ),
        min_size=1,
        max_size=30,
    ),
)
@settings(**_SETTINGS)
def test_rfm_segments_match_python_reference(spark, orders):
    """customers_rfm_segments vs a full Python mirror (decimal rollup,
    ntile(5) with explicit ceil-bucket sizes, segment rules) on a
    synthetic orders table — covers tie-heavy quintiles, single-
    customer corpora, and same-day repeat orders."""
    import datetime as dt
    import shutil
    import tempfile
    from decimal import Decimal

    from datapipeline_gcp_spark.operators.analytics import customers_rfm_segments

    d0 = dt.date(2024, 1, 1)
    rows = [
        (ck, d0 + dt.timedelta(days=off), cents / 100.0)
        for ck, off, cents in orders
    ]
    tmp = tempfile.mkdtemp(prefix="rfm_prop_")
    try:
        spark.createDataFrame(
            rows, "o_custkey bigint, o_orderdate date, o_totalprice double"
        ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
        got = {
            r["o_custkey"]: (
                r["r_days"],
                r["n_orders"],
                r["monetary"],
                r["r_q"],
                r["f_q"],
                r["m_q"],
                r["segment"],
            )
            for r in customers_rfm_segments(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    per = {}
    for ck, off, cents in orders:
        last, n, m = per.get(ck, (-1, 0, Decimal(0)))
        per[ck] = (max(last, off), n + 1, m + Decimal(cents) / 100)
    ref = max(off for _, off, _ in orders)
    base = {
        ck: (ref - last, n, float(m)) for ck, (last, n, m) in per.items()
    }

    def ntile5(keyed):  # [(sort_key, ck)] -> {ck: quintile}
        keyed.sort()
        n = len(keyed)
        q, r = divmod(n, 5)
        out, pos = {}, 0
        for b in range(5):
            for _ in range(q + (1 if b < r else 0)):
                out[keyed[pos][1]] = b + 1
                pos += 1
        return out

    r_q = ntile5([((-rd, ck), ck) for ck, (rd, _, _) in base.items()])
    f_q = ntile5([((n, ck), ck) for ck, (_, n, _) in base.items()])
    m_q = ntile5([((m, ck), ck) for ck, (_, _, m) in base.items()])
    want = {}
    for ck, (rd, n, m) in base.items():
        rq, fq, mq = r_q[ck], f_q[ck], m_q[ck]
        seg = (
            "champion"
            if rq >= 4 and fq >= 4 and mq >= 4
            else "at_risk_loyal"
            if rq <= 2 and fq >= 4
            else "new"
            if rq >= 4 and fq <= 2
            else "regular"
        )
        want[ck] = (rd, n, m, rq, fq, mq, seg)
    assert got == want


@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["en", "de", "xx"]),
            st.lists(
                st.sampled_from("ab cd ef gh ij kl".split()),
                min_size=1,
                max_size=12,
            ),
        ),
        min_size=1,
        max_size=8,
    ),
)
@settings(**_SETTINGS)
def test_dsir_matches_python_reference(spark, docs):
    """DSIR importance weighting vs a direct Counter/​math.log replica:
    hashed unigram+bigram bucket counts, add-1-smoothed target/raw
    models, per-doc Σc·logratio, top-k by (weight DESC, doc_id). Small
    bucket count forces hash collisions; corpora with no target docs
    and no candidate docs are both legal inputs. Ranks/counts exact,
    weights to 1e-9."""
    import math
    from collections import Counter

    from datapipeline_gcp_spark.functions.corpus import dsir_select

    B, K = 16, 3
    rows = [(i, lang, " ".join(toks)) for i, (lang, toks) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    got = [
        (r["rank"], r["doc_id"], r["n_grams"], r["log_weight"])
        for r in dsir_select(df, buckets=B, topk=K).collect()
    ]

    def q(x, d):
        return math.floor(x * 10**d + 0.5) / 10**d

    feats = {}
    for i, lang, t in rows:
        toks = _py_norm_tokens(t)
        feats[i] = [
            _py_base_hash(g) % B
            for g in _py_grams(toks, 1) + _py_grams(toks, 2)
        ]
    tcnt, qcnt = Counter(), Counter()
    for i, lang, _ in rows:
        (tcnt if lang == "en" else qcnt).update(feats[i])
    ttot, qtot = sum(tcnt.values()), sum(qcnt.values())
    lr = {
        b: q(
            math.log((tcnt[b] + 1) / (ttot + B))
            - math.log((qcnt[b] + 1) / (qtot + B)),
            9,
        )
        for b in range(B)
    }
    scored = []
    for i, lang, _ in rows:
        if lang == "en":
            continue
        c = Counter(feats[i])
        scored.append(
            (q(sum(n * lr[b] for b, n in c.items()), 6), i, len(feats[i]))
        )
    scored.sort(key=lambda s: (-s[0], s[1]))
    want = [
        (rank, i, n, w)
        for rank, (w, i, n) in enumerate(scored[:K], start=1)
    ]
    assert [(r, i, n) for r, i, n, _ in sorted(got)] == [
        (r, i, n) for r, i, n, _ in want
    ]
    for (_, _, _, gw), (_, _, _, ww) in zip(sorted(got), want):
        assert abs(gw - ww) < 1e-9


def test_readability_zero_word_documents_are_null_not_crash(spark):
    """A document with no [a-z] runs (digits-only, punctuation, or a
    non-Latin script) has n_words = 0: the ratio divisions must yield
    NULL (DuckDB's double/0) rather than throwing under ANSI — checked
    against the registered DuckDB oracle on the same degenerate table."""
    import shutil
    import tempfile

    import duckdb

    from datapipeline_gcp_spark.functions.text import (
        _READABILITY_ORACLE,
        text_readability,
    )

    rows = [
        (0, "1234 5678 !!", "xx", "src0", 12),
        (1, "", "xx", "src0", 0),
        (2, "plain words here", "en", "src0", 16),
    ]
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    tmp = tempfile.mkdtemp(prefix="readability_prop_")
    try:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/documents.parquet")
        got = {
            r["doc_id"]: (
                r["n_words"],
                r["n_syllables"],
                r["syllables_per_word"],
                r["long_word_frac"],
            )
            for r in text_readability(spark, tmp).collect()
        }
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{tmp}/documents.parquet/*.parquet'"
        )
        want = {
            r[0]: tuple(r[2:])  # skip lang — got tuples start at n_words
            for r in con.execute(_READABILITY_ORACLE).fetchall()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert got[0] == (0, 0, None, None)
    assert got[1] == (0, 0, None, None)
    assert got.keys() == want.keys()
    for k in got:
        assert got[k][:2] == want[k][:2]
        for g, w in zip(got[k][2:], want[k][2:]):
            assert (g is None) == (w is None)
            if g is not None:
                assert abs(g - w) < 1e-12


def test_ivf_zero_centroid_is_null_ranked_not_crash(spark):
    """A zero (padding) vector among the centroid seeds gives cnorm = 0:
    the assignment-ranking division must yield NULL (ordered last, as
    DuckDB orders its natural double/0 NULL under DESC) instead of
    throwing under ANSI. Full oracle parity on the degenerate corpus
    for all three centroid-ranking consumers."""
    import math
    import shutil
    import tempfile

    import duckdb

    from datapipeline_gcp_spark.functions import similarity as sim

    dim = 4
    rows = []
    for i in range(40):
        if i == 3:  # inside the first N_CENTROIDS → a zero centroid
            vec = [0.0] * dim
        else:
            vec = [
                round(math.sin(i * dim + d) * 0.5 + 0.5, 3) for d in range(dim)
            ]
        rows.append((i, vec, i % 3))
    tmp = tempfile.mkdtemp(prefix="ivf_zero_prop_")
    try:
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>, label int"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{tmp}/embeddings.parquet"
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{tmp}/embeddings.parquet/*.parquet'"
        )
        for fn, oracle in [
            (sim.ann_ivf_topk, sim._IVF_ORACLE),
            (sim.ann_ivf_cell_stats, sim._IVF_STATS_ORACLE),
            (sim.dedup_semantic, sim._SEMDEDUP_ORACLE),
        ]:
            got = sorted(tuple(r) for r in fn(spark, tmp).collect())
            want = sorted(tuple(r) for r in con.execute(oracle).fetchall())
            assert len(got) == len(want), fn.__name__
            for g, w in zip(got, want):
                assert len(g) == len(w), fn.__name__
                for a, b in zip(g, w):
                    if isinstance(a, float) and b is not None:
                        assert abs(a - b) < 1e-9, (fn.__name__, g, w)
                    else:
                        assert a == b, (fn.__name__, g, w)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_empty_corpus_oracle_parity_for_r7_fix_classes(spark):
    """Pin the empty-corpus fix classes (VERIFY_DEGENERATE.md) into the
    suite: 0-row tables, full oracle parity for the queries the r7
    sweep found broken — driver-side types[0] crash (as-of split),
    grouping-sets-on-empty grand-total row, funnel n1=0 rate,
    format_string NULL rendering + SUM-over-empty in the profile.
    (The streaming gate's batch-accounting fix is covered by the sweep
    itself — too heavy for the suite.)"""
    import importlib.util
    import os
    import shutil
    import tempfile

    import duckdb

    from datapipeline_gcp_spark import registry

    tool = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "make_degenerate_fixtures.py",
    )
    spec = importlib.util.spec_from_file_location("make_degenerate_fixtures", tool)
    mk = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mk)

    names = [
        "asof_join_events",
        "asof_join_forward_events",
        "rollup_agg",
        "cube_agg",
        "grouping_sets_agg",
        "corpus_datacard",
        "events_funnel",
        "lineitem_profile",
    ]
    qs, oracles = registry.all_queries(), registry.all_oracles()
    tmp = tempfile.mkdtemp(prefix="empty_corpus_prop_")
    try:
        mk.main(tmp)
        sf = f"{tmp}/empty"
        con = duckdb.connect()
        for t in mk.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
            )
        for name in names:
            got = sorted(tuple(r) for r in qs[name](spark, sf).collect())
            want = sorted(tuple(r) for r in con.execute(oracles[name]).fetchall())
            assert len(got) == len(want), (name, got, want)
            for g, w in zip(got, want):
                for a, b in zip(g, w):
                    if isinstance(a, float) and b is not None:
                        assert abs(a - b) < 1e-9, (name, g, w)
                    else:
                        assert (a is None) == (b is None), (name, g, w)
                        if a is not None:
                            assert str(a) == str(b), (name, g, w)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@given(
    log=st.lists(
        st.tuples(
            st.integers(0, 3),            # user
            st.integers(0, 50),           # ts offset (minutes)
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_last_touch_attribution_matches_python_scan(spark, log):
    """last_touch_attribution vs a per-user ordered scan carrying the
    most recent click: every purchase credits the latest click at or
    before it under the (ts, event_id) total order. Duplicate
    timestamps are common in the generated log — exactly the tie the
    event_id tie-break must settle identically."""
    import datetime as dt

    from datapipeline_gcp_spark.operators.analytics import (
        last_touch_attribution,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, u, base + dt.timedelta(minutes=m), t, float(i))
        for i, (u, m, t) in enumerate(log)
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp, event_type string, value double"
    )
    got = sorted(
        tuple(r)
        for r in last_touch_attribution(df)
        .select(
            "purchase_event_id", "user_id", "touch_event_id", "touch_ts"
        )
        .collect()
    )

    want = []
    by_user: dict[int, list] = {}
    for eid, u, ts, t, _v in rows:
        by_user.setdefault(u, []).append((ts, eid, t))
    for u, evs in by_user.items():
        last_click = (None, None)
        for ts, eid, t in sorted(evs):
            if t == "click":
                last_click = (eid, ts)
            if t == "purchase":
                want.append((eid, u, last_click[0], last_click[1]))
    assert got == sorted(want)


@given(
    log=st.lists(
        st.tuples(
            st.integers(0, 3),
            st.integers(0, 30),
            st.sampled_from(["a", "b", "c", "d"]),
        ),
        min_size=2,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_markov_transitions_match_python_counter(spark, log):
    """events_markov_transitions vs Counter arithmetic over per-user
    (ts, event_id)-ordered bigram chains, including the qround'd row
    normalization."""
    import datetime as dt
    import math
    import shutil
    import tempfile
    from collections import Counter

    from datapipeline_gcp_spark.operators.analytics import (
        events_markov_transitions,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=m), u, t, 1.0, "{}")
        for i, (u, m, t) in enumerate(log)
    ]
    tmp = tempfile.mkdtemp(prefix="markov_prop_")
    try:
        spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, event_type string,"
            " value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        got = sorted(
            tuple(r) for r in events_markov_transitions(spark, tmp).collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    by_user: dict[int, list] = {}
    for eid, ts, u, t, _v, _p in rows:
        by_user.setdefault(u, []).append((ts, eid, t))
    pairs = Counter()
    for evs in by_user.values():
        s = [t for _, _, t in sorted(evs)]
        for a, b in zip(s, s[1:]):
            pairs[(a, b)] += 1
    totals = Counter()
    for (a, _b), n in pairs.items():
        totals[a] += n
    want = sorted(
        (a, b, n, math.floor(n / totals[a] * 1e9 + 0.5) / 1e9)
        for (a, b), n in pairs.items()
    )
    assert got == want


@given(
    edges=st.sets(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_triangle_counts_match_bruteforce(spark, edges):
    """Degree-ordered triangle counting vs brute-force enumeration over
    adjacency sets — the orientation must change the enumeration
    schedule, never the triangle set."""
    from itertools import combinations

    from datapipeline_gcp_spark.functions.clusters import triangle_counts

    und = sorted({(min(u, v), max(u, v)) for u, v in edges})
    df = spark.createDataFrame(und, "u bigint, v bigint")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}

    adj: dict[int, set] = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want: dict[int, int] = {}
    for x, y, z in combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for n in (x, y, z):
                want[n] = want.get(n, 0) + 1
    assert got == want


@given(
    cur_keys=st.sets(st.integers(0, 20), min_size=1, max_size=12),
    upd_keys=st.sets(st.integers(0, 30), min_size=0, max_size=12),
)
@settings(**_SETTINGS)
def test_scd2_history_invariants_and_reference(spark, cur_keys, upd_keys):
    """scd2_history vs direct set arithmetic plus the SCD2 invariants:
    exactly one is_current=1 row per surviving key, closed versions only
    for updated pre-existing keys, and version counts = 2 for updated
    existing keys / 1 otherwise."""
    from datapipeline_gcp_spark.operators.maintenance import scd2_history

    cur = spark.createDataFrame(
        [(k, f"name{k}") for k in sorted(cur_keys)], "k bigint, payload string"
    )
    upd = spark.createDataFrame(
        [(k, f"upd{k}") for k in sorted(upd_keys)], "k bigint, payload string"
    ) if upd_keys else spark.createDataFrame([], "k bigint, payload string")
    out = scd2_history(cur, upd, keys=["k"]).collect()

    by_key: dict[int, list] = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r)
    assert set(by_key) == cur_keys | upd_keys
    for k, versions in by_key.items():
        n_current = sum(1 for r in versions if r["is_current"] == 1)
        assert n_current == 1, (k, versions)
        open_row = next(r for r in versions if r["is_current"] == 1)
        assert open_row["valid_to"] is None
        if k in upd_keys:
            assert open_row["payload"] == f"upd{k}"
        else:
            assert open_row["payload"] == f"name{k}"
        if k in cur_keys and k in upd_keys:
            assert len(versions) == 2
            closed = next(r for r in versions if r["is_current"] == 0)
            assert closed["payload"] == f"name{k}"
            assert closed["valid_to"] is not None
        else:
            assert len(versions) == 1


@given(
    hours=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 24)),
        min_size=1,
        max_size=25,
    )
)
@settings(**_SETTINGS)
def test_gap_detection_matches_python_range(spark, hours):
    """events_gap_detection (gap-RUN form, r8) vs a Python scan over
    each type's sorted active hours: every consecutive pair further
    than one hour apart is a run (start, end, count)."""
    import datetime as dt
    import shutil
    import tempfile

    from datapipeline_gcp_spark.operators.analytics import (
        events_gap_detection,
    )

    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, base + dt.timedelta(hours=h, minutes=i % 60), i % 5, t, 0.5, "{}")
        for i, (t, h) in enumerate(hours)
    ]
    tmp = tempfile.mkdtemp(prefix="gap_prop_")
    try:
        spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, event_type string,"
            " value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        got = sorted(
            (r["event_type"], r["gap_start"], r["gap_end"], r["missing_hours"])
            for r in events_gap_detection(spark, tmp).collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    active: dict[str, set] = {}
    for _i, ts, _u, t, _v, _p in rows:
        active.setdefault(t, set()).add(ts.replace(minute=0, second=0))
    want = []
    for t, hs in active.items():
        ordered = sorted(hs)
        for h, nxt in zip(ordered, ordered[1:]):
            n_missing = int((nxt - h).total_seconds() // 3600) - 1
            if n_missing > 0:
                want.append(
                    (t, h + dt.timedelta(hours=1),
                     nxt - dt.timedelta(hours=1), n_missing)
                )
    assert got == sorted(want)


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 300)),
        min_size=1,
        max_size=25,
    ),
    ivs=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 280), st.integers(1, 90)),
        min_size=1,
        max_size=10,
    ),
)
@settings(**_SETTINGS)
def test_range_join_matches_nested_loop(spark, pts, ivs):
    """Bucketed range_join vs the naive nested loop: same (key,
    start <= ts < end) match set regardless of how intervals straddle
    bucket boundaries (minute-scale offsets against 1-hour buckets)."""
    import datetime as dt

    from datapipeline_gcp_spark.operators.rangejoin import range_join

    base = dt.datetime(2024, 5, 1)
    points = [
        (i, k, base + dt.timedelta(minutes=m)) for i, (k, m) in enumerate(pts)
    ]
    intervals = [
        (
            100 + j,
            k,
            base + dt.timedelta(minutes=s),
            base + dt.timedelta(minutes=s + d),
        )
        for j, (k, s, d) in enumerate(ivs)
    ]
    pdf = spark.createDataFrame(
        points, "pid bigint, k bigint, ts timestamp"
    )
    idf = spark.createDataFrame(
        intervals, "iid bigint, k bigint, t0 timestamp, t1 timestamp"
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join(
            pdf, idf, ts_col="ts", start_col="t0", end_col="t1", by_cols=["k"]
        ).collect()
    )
    want = sorted(
        (pid, iid)
        for pid, pk, ts in points
        for iid, ik, t0, t1 in intervals
        if pk == ik and t0 <= ts < t1
    )
    assert got == want


@given(
    obs=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 9), st.integers(0, 100)),
        min_size=1,
        max_size=25,
    )
)
@settings(**_SETTINGS)
def test_resample_ffill_matches_python_loop(spark, obs):
    """resample_ffill vs a Python daily grid with last-observation-
    carried-forward: per (key, day) the lexicographically-last (ts,
    event_id) observation wins, gaps inherit the previous day's value,
    has_obs marks real observations."""
    import datetime as dt

    from datapipeline_gcp_spark.operators.analytics import resample_ffill

    base = dt.datetime(2024, 2, 1)
    rows = [
        (i, k, base + dt.timedelta(days=d, minutes=i % 7), float(v))
        for i, (k, d, v) in enumerate(obs)
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp, value double"
    )
    got = sorted(
        (r["user_id"], r["day"], r["value"], r["has_obs"])
        for r in resample_ffill(df).collect()
    )

    daily: dict[tuple, tuple] = {}
    for eid, k, ts, v in rows:
        d = ts.date()
        cur = daily.get((k, d))
        if cur is None or (ts, eid) > cur[:2]:
            daily[(k, d)] = (ts, eid, v)
    want = []
    keys = {k for k, _ in daily}
    for k in keys:
        days = [d for kk, d in daily if kk == k]
        lo, hi = min(days), max(days)
        carried = None
        d = lo
        while d <= hi:
            if (k, d) in daily:
                carried = daily[(k, d)][2]
                want.append((k, d, carried, 1))
            else:
                want.append((k, d, carried, 0))
            d += dt.timedelta(days=1)
    assert got == sorted(want)


@given(
    scores=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 20)),
        min_size=1,
        max_size=25,
    )
)
@settings(**_SETTINGS)
def test_quantile_norm_matches_python_percent_rank(spark, scores):
    """quantile_normalized_scores vs direct percent_rank arithmetic
    ((rank-1)/(n-1) under the (score, doc_id) total order, 0.0 for a
    1-row source) including the floor/least decile bucketing. Duplicate
    scores within a source are the interesting case."""
    import math

    from datapipeline_gcp_spark.functions.quality import (
        quantile_normalized_scores,
    )

    rows = [
        (i, f"src{s}", float(v) / 20.0) for i, (s, v) in enumerate(scores)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, score double")
    got = sorted(
        (r["doc_id"], r["pct"], r["decile"])
        for r in quantile_normalized_scores(df).collect()
    )

    want = []
    for src in {r[1] for r in rows}:
        grp = sorted((score, did) for did, s, score in rows if s == src)
        n = len(grp)
        for idx, (score, did) in enumerate(grp):
            # percent_rank: (rank - 1) / (n - 1); rank counts PEERS by
            # the ORDER BY key — the (score, doc_id) order has no ties,
            # so rank == idx + 1
            pct = 0.0 if n == 1 else idx / (n - 1)
            want.append((did, pct, min(math.floor(pct * 10), 9)))
    assert got == sorted(want)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("red blue green gold gray".split()),
                 min_size=0, max_size=8),
        min_size=1,
        max_size=10,
    )
)
@settings(**_SETTINGS)
def test_inverted_index_matches_python_dict(spark, docs):
    """inverted_index vs a Python postings dict: document frequency over
    distinct in-doc tokens, postings = the first `cap` doc ids ascending
    (cap=3 exercised), min_df filter applied after."""
    from datapipeline_gcp_spark.functions.indexing import inverted_index

    cap, min_df = 3, 2
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(
        tuple(r) for r in inverted_index(df, cap=cap, min_df=min_df).collect()
    )

    postings: dict[str, list] = {}
    for did, text in rows:
        norm = " ".join(text.split()).lower()
        for tok in dict.fromkeys(norm.split(" ")):
            postings.setdefault(tok, []).append(did)
    want = sorted(
        (tok, len(dids), ",".join(str(d) for d in sorted(dids)[:cap]))
        for tok, dids in postings.items()
        if len(dids) >= min_df
    )
    assert got == want


@given(
    toks=st.lists(
        st.tuples(
            st.sampled_from(["en", "fr"]),
            st.integers(0, 40),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_kmv_sketch_matches_python_reference(spark, toks):
    """distinct_kmv vs direct k-minimum-values arithmetic over the md5
    hash replica: h_k is the k-th smallest distinct hash, the estimate
    is (k-1)*P/h_k, and groups under k values fall back to the exact
    count (both branches exercised by the small k)."""
    import hashlib

    from datapipeline_gcp_spark.functions.dedup import P
    from datapipeline_gcp_spark.functions.indexing import distinct_kmv

    k = 5
    rows = [(g, f"tok{v}") for g, v in toks]
    df = spark.createDataFrame(rows, "lang string, token string")
    got = sorted(tuple(r) for r in distinct_kmv(df, k=k).collect())

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % P

    want = []
    for g in {g for g, _ in rows}:
        hs = sorted({h(t) for gg, t in rows if gg == g})
        if len(hs) >= k:
            hk = hs[k - 1]
            want.append((g, len(hs), hk, float((k - 1) * P) / float(hk)))
        else:
            want.append((g, len(hs), None, float(len(hs))))
    assert got == sorted(want)


@given(seed=st.integers(0, 10_000), n=st.integers(12, 40))
@settings(**_SETTINGS)
def test_kmeans_lloyd_matches_python_reference(spark, seed, n):
    """kmeans_clusters vs a pure-Python Lloyd replica on the same
    integer-quantized arithmetic: identical assignments (exact integer
    squared-L2, centroid-id tie-break), identical floored centroid
    updates, identical decimal-summed inertia — bit-for-bit, any seed."""
    import math
    import random
    from decimal import Decimal

    from datapipeline_gcp_spark.functions.kmeans import kmeans_clusters
    from datapipeline_gcp_spark.functions.similarity import QUANT

    k, n_iter, dim = 3, 2, 4
    rnd = random.Random(seed)
    # multiples of 1/64: exactly representable in float32, so the
    # array<float> storage round-trip is lossless and qx is exact
    vecs = [
        [rnd.randrange(0, 65) / 64.0 for _ in range(dim)] for _ in range(n)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    got = sorted(tuple(r) for r in kmeans_clusters(df, k=k, n_iter=n_iter).collect())

    q = [[math.floor(x * QUANT) for x in v] for v in vecs]
    cents = {c: list(q[c]) for c in range(k)}
    assign = {}
    for _ in range(n_iter):
        assign = {}
        for i, qv in enumerate(q):
            best = min(
                (sum((qv[d] - qc[d]) ** 2 for d in range(dim)), c)
                for c, qc in cents.items()
            )
            assign[i] = best  # (dist, cluster)
        cents = {}
        members: dict[int, list] = {}
        for i, (_dist, c) in assign.items():
            members.setdefault(c, []).append(i)
        for c, ids in members.items():
            cents[c] = [
                math.floor(
                    float(sum(q[i][d] for i in ids)) / float(len(ids))
                )
                for d in range(dim)
            ]
    want = []
    for c, ids in members.items():
        inertia = sum(
            Decimal(
                math.floor((assign[i][0] / float(QUANT) ** 2) * 1e9 + 0.5)
            )
            / Decimal(10**9)
            for i in ids
        )
        want.append((c, len(ids), float(inertia), sum(cents[c])))
    assert got == sorted(want)


def test_text_metrics_empty_document_is_null_not_crash(spark):
    """An empty document (n_chars = 0) must yield NULL ratios (DuckDB's
    division-by-zero) instead of throwing under ANSI — full oracle
    parity on the degenerate table for the registered text_metrics
    query (the corpus_mixture_weights / corpus_source_budget consumers
    share with_text_metrics)."""
    import shutil
    import tempfile

    import duckdb

    from datapipeline_gcp_spark.functions.text import (
        _METRICS_ORACLE,
        text_metrics,
    )

    rows = [
        (0, "", "xx", "src0", 0),
        (1, "plain words here and the of", "en", "src0", 27),
        (2, "12 34!", "xx", "src1", 6),
    ]
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    tmp = tempfile.mkdtemp(prefix="metrics_prop_")
    try:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/documents.parquet")
        out = text_metrics(spark, tmp)
        cols = out.columns
        got = {r["doc_id"]: r.asDict() for r in out.collect()}
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{tmp}/documents.parquet/*.parquet'"
        )
        opdf = con.execute(_METRICS_ORACLE).df()
        assert sorted(cols) == sorted(opdf.columns)
        want = {int(r["doc_id"]): r for _, r in opdf.iterrows()}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    import math

    assert got[0]["punct_ratio"] is None
    assert got[0]["digit_ratio"] is None
    # quality_score is NOT NULL for the empty doc: least() skips NULL
    # arguments in BOTH engines, so the punct term collapses to 0 and
    # the n_tokens=1 term survives — parity below is the arbiter
    assert got.keys() == want.keys()
    for k in got:
        for c in cols:
            g, w = got[k][c], want[k][c]
            if isinstance(w, float) and math.isnan(w):
                w = None
            if isinstance(g, float):
                assert w is not None and abs(g - w) < 1e-12, (k, c, g, w)
            else:
                assert (g is None) == (w is None), (k, c, g, w)
                if g is not None:
                    assert str(g) == str(w), (k, c, g, w)


@given(
    parts=st.lists(
        st.sampled_from(
            [
                "plain words",
                "a.b@mail.example.com",
                "call 555-1234 now",
                "at 192.168.0.1 gateway",
                "u1@x.io and u2@y.co",
                "v 10.0.300.5",
                "555-12345",
            ]
        ),
        min_size=0,
        max_size=6,
    )
)
@settings(**_SETTINGS)
def test_pii_redaction_matches_python_re(spark, parts):
    """with_pii_redaction vs Python re on the shared patterns: counts
    and the 3-pass tagged replacement (email first, then IP, then
    phone) must agree — including the boundary cases the corpus
    snippets plant (over-long octets, 5-digit phone tails)."""
    import re

    from datapipeline_gcp_spark.functions.cleaning import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
        with_pii_redaction,
    )

    text = " ".join(parts)
    df = spark.createDataFrame([(0, text)], "doc_id bigint, text string")
    row = with_pii_redaction(df).collect()[0]

    assert row["n_emails"] == len(re.findall(EMAIL_RE, text))
    assert row["n_phones"] == len(re.findall(PHONE_RE, text))
    assert row["n_ips"] == len(re.findall(IPV4_RE, text))
    clean = re.sub(EMAIL_RE, "<EMAIL>", text)
    clean = re.sub(IPV4_RE, "<IP>", clean)
    clean = re.sub(PHONE_RE, "<PHONE>", clean)
    assert row["clean_text"] == clean


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["shared header", "cookie banner", "body a",
                             "body b", "body c"]),
            min_size=0,
            max_size=5,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_boilerplate_lines_match_python_dict(spark, docs):
    """boilerplate_line_scores vs direct distinct-document counting —
    a line is boilerplate when >= min_docs DISTINCT docs contain it
    (in-doc repeats count once for flagging but each occurrence counts
    in n_boiler_lines). Zero-line documents must yield a NULL fraction,
    not an ANSI crash."""
    from datapipeline_gcp_spark.functions.cleaning import (
        boilerplate_line_scores,
    )

    min_docs = 2
    rows = [(i, lines) for i, lines in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, lines array<string>")
    got = {
        r["doc_id"]: (r["n_lines"], r["n_boiler_lines"], r["boiler_frac"])
        for r in boilerplate_line_scores(df, min_docs=min_docs).collect()
    }

    from collections import Counter

    nd = Counter()
    for _i, lines in rows:
        for line in set(lines):
            nd[line] += 1
    boiler = {line for line, c in nd.items() if c >= min_docs}
    for i, lines in rows:
        hits = sum(1 for line in lines if line in boiler)
        frac = hits / len(lines) if lines else None
        g = got[i]
        assert g[0] == len(lines) and g[1] == hits, (i, g)
        if frac is None:
            assert g[2] is None, (i, g)
        else:
            assert abs(g[2] - frac) < 1e-12, (i, g)


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from(
                list("abc \t\n\x01\x07\x0b\x7f") + ["�", "é", "日"]
            ),
            min_size=0,
            max_size=30,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(**_SETTINGS)
def test_encoding_anomalies_match_python_re(spark, texts):
    """text_encoding_anomalies vs Python re over adversarial strings
    mixing C0/C1 controls (tab/newline excluded), U+FFFD, and
    non-ASCII — counts and the keep flag must agree."""
    import re
    import shutil
    import tempfile

    from datapipeline_gcp_spark.functions.cleaning import (
        text_encoding_anomalies,
    )

    rows = [(i, t, "xx", "src0", len(t)) for i, t in enumerate(texts)]
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    tmp = tempfile.mkdtemp(prefix="enc_prop_")
    try:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/documents.parquet")
        got = {
            r["doc_id"]: (
                r["n_control"], r["n_replacement"], r["n_nonascii"], r["keep"]
            )
            for r in text_encoding_anomalies(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    ctrl_re = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")
    nonascii_re = re.compile(r"[^\x00-\x7f]")
    for i, t in enumerate(texts):
        nc = len(ctrl_re.findall(t))
        nr = t.count("�")
        na = len(nonascii_re.findall(t))
        assert got[i] == (nc, nr, na, nc == 0 and nr == 0), (i, t, got[i])


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["Alpha", "beta", "GAMMA", "delta"]),
                 min_size=0, max_size=8),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_fingerprints_match_python_md5(spark, docs):
    """with_fingerprints vs hashlib: fp_exact hashes the normalized
    text; fp_bag must be invariant to word order and repetition
    (identical for any permutation-with-repeats of the same token set)."""
    import hashlib

    from datapipeline_gcp_spark.functions.text import with_fingerprints

    rows = [(i, "  ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["fp_exact"], r["fp_bag"])
        for r in with_fingerprints(df).collect()
    }
    for i, text in rows:
        norm = " ".join(text.split()).lower()
        bag = " ".join(sorted(set(norm.split(" "))))
        assert got[i] == (
            hashlib.md5(norm.encode()).hexdigest(),
            hashlib.md5(bag.encode()).hexdigest(),
        ), (i, text)


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["fn", "x", "return", "y", "if"]),
                 min_size=1, max_size=10),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_fim_split_matches_python_slices(spark, docs):
    """fim_transform vs Python slicing on the md5-derived cut points:
    prefix/suffix/middle partition the token list exactly and the PSM
    re-ordering concatenates them with the shared sentinels."""
    import hashlib

    from datapipeline_gcp_spark.functions.corpus import fim_transform

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in fim_transform(df).collect()}

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 1000000007

    for i, text in rows:
        t = text.split(" ")
        n = len(t)
        c1, c2 = h(f"fim1_{i}") % (n + 1), h(f"fim2_{i}") % (n + 1)
        lo, hi = min(c1, c2), max(c1, c2)
        pre, mid, suf = t[:lo], t[lo:hi], t[hi:]
        want = (
            "<fim_prefix>" + " ".join(pre)
            + "<fim_suffix>" + " ".join(suf)
            + "<fim_middle>" + " ".join(mid)
        )
        g = got[i]
        assert (g["n_tokens"], g["cut_lo"], g["cut_hi"]) == (n, lo, hi), (i, text)
        assert g["fim_text"] == want, (i, text)


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_zorder_key_matches_python_interleave(spark, pairs):
    """Morton interleave vs Python bit arithmetic, plus the locality
    invariant that makes Z-ordering work: the key restricted to one
    dimension (other fixed to 0) is monotone in that dimension."""
    from datapipeline_gcp_spark.operators.layout import zorder_key

    df = spark.createDataFrame(pairs, "b1 long, b2 long")
    got = [
        r[0]
        for r in df.select(zorder_key(F.col("b1"), F.col("b2"))).collect()
    ]

    def morton(b1: int, b2: int) -> int:
        out = 0
        for i in range(8):
            out |= ((b1 >> i) & 1) << (2 * i + 1)
            out |= ((b2 >> i) & 1) << (2 * i)
        return out

    assert got == [morton(b1, b2) for b1, b2 in pairs]
    ax = sorted(morton(b, 0) for b in range(256))
    assert ax == [morton(b, 0) for b in range(256)]  # monotone in b1


@given(
    vals=st.lists(
        st.tuples(st.sampled_from(["a", "b"]),
                  st.integers(0, 1000)),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_exact_percentiles_match_python_interpolation(spark, vals):
    """Spark's exact percentile vs the (n-1)*p linear interpolation
    computed directly — the contract both engines share."""
    import datetime as dt
    import shutil
    import tempfile

    from datapipeline_gcp_spark.operators.analytics import events_percentiles

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), i % 3, t, v / 10.0, "{}")
        for i, (t, v) in enumerate(vals)
    ]
    tmp = tempfile.mkdtemp(prefix="pct_prop_")
    try:
        spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, event_type string,"
            " value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        got = {
            r["event_type"]: (r["p50"], r["p95"], r["p99"], r["n_events"])
            for r in events_percentiles(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    def interp(xs, p):
        xs = sorted(xs)
        k = (len(xs) - 1) * p
        lo, hi = int(k), min(int(k) + 1, len(xs) - 1)
        return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)

    for t in {t for t, _ in vals}:
        xs = [v / 10.0 for tt, v in vals if tt == t]
        g = got[t]
        assert g[3] == len(xs)
        for gi, p in zip(g[:3], (0.5, 0.95, 0.99)):
            assert abs(gi - interp(xs, p)) < 1e-9, (t, p, gi)


@given(ids=st.sets(st.integers(0, 500), min_size=1, max_size=40),
       epoch=st.integers(0, 5))
@settings(**_SETTINGS)
def test_shard_shuffle_matches_python_permutation(spark, ids, epoch):
    """shard_shuffle vs the md5 permutation computed directly: shard
    assignment, within-shard position (hash order, doc_id tie-break),
    and the epoch-keyed reproducibility contract."""
    import hashlib

    from datapipeline_gcp_spark.functions.corpus import shard_shuffle

    n_shards = 8
    df = spark.createDataFrame([(i,) for i in sorted(ids)], "doc_id bigint")
    got = sorted(
        tuple(r)
        for r in shard_shuffle(df, n_shards=n_shards, epoch=epoch).collect()
    )

    def h(i: int) -> int:
        s = f"e{epoch}_{i}"
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 1000000007

    by_shard: dict[int, list] = {}
    for i in ids:
        by_shard.setdefault(h(i) % n_shards, []).append((h(i), i))
    want = []
    for shard, members in by_shard.items():
        for pos, (_hh, i) in enumerate(sorted(members), start=1):
            want.append((i, shard, pos))
    assert got == sorted(want)


@given(
    names=st.lists(
        st.tuples(
            st.integers(0, 1),  # block
            st.text(alphabet="abc", min_size=1, max_size=6),
        ),
        min_size=2,
        max_size=15,
    )
)
@settings(**_SETTINGS)
def test_fuzzy_match_pairs_matches_python_levenshtein(spark, names):
    """FastSS deletion-neighborhood blocking vs brute-force Levenshtein
    over every same-block pair: the blocking must lose NO pair within
    max_distance=1 (its correctness guarantee) and verification must
    reject everything beyond it."""
    from datapipeline_gcp_spark.operators.relational import fuzzy_match_pairs

    rows = [(i, b, t) for i, (b, t) in enumerate(names)]
    df = spark.createDataFrame(rows, "id bigint, block int, name string")
    got = sorted(
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_match_pairs(
            df, block_cols=["block"], id_col="id", text_col="name"
        ).collect()
    )

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    want = sorted(
        (ia, ib, lev(ta, tb))
        for ia, ba, ta in rows
        for ib, bb, tb in rows
        if ia < ib and ba == bb and lev(ta, tb) <= 1
    )
    assert got == want


@given(
    keys=st.sets(st.integers(1, 60), min_size=1, max_size=30),
)
@settings(**_SETTINGS)
def test_snapshot_reconcile_status_partition(spark, keys):
    """snapshot_reconcile-style FULL OUTER diff vs direct set logic —
    exercised through the same %7/%5/%3 derivation on a synthetic
    orders table so added/removed/changed/unchanged all appear."""
    import datetime as dt
    import shutil
    import tempfile

    from datapipeline_gcp_spark.operators.relational import snapshot_reconcile

    rows = [
        (k, k % 4, "O", 100.0 + k, dt.datetime(1995, 1, 1 + k % 28),
         "P", k % 3, f"c{k}")
        for k in sorted(keys)
    ]
    tmp = tempfile.mkdtemp(prefix="recon_prop_")
    try:
        spark.createDataFrame(
            rows,
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
            " o_totalprice double, o_orderdate timestamp,"
            " o_orderpriority string, o_shippriority bigint, o_clerk string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
        got = {
            r["o_orderkey"]: r["status"]
            for r in snapshot_reconcile(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    want = {}
    for k in keys:
        in_old, in_new = k % 7 != 0, k % 5 != 0
        if not in_old and not in_new:
            continue
        if not in_old:
            want[k] = "added"
        elif not in_new:
            want[k] = "removed"
        elif k % 3 == 0:
            want[k] = "changed"
        else:
            want[k] = "unchanged"
    assert got == want


@given(
    vals=st.lists(
        st.tuples(st.integers(0, 2), st.integers(-50, 50)),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_robust_zscore_matches_python_median_mad(spark, vals):
    """robust_zscore_per_group (grouped-map pandas) vs direct
    median/MAD arithmetic, including the zero-MAD fallback to 0.0 (any
    group where >= half the values tie — common in the generated
    data)."""
    import statistics

    from datapipeline_gcp_spark.functions.udfs import robust_zscore_per_group

    rows = [(i, g, float(v)) for i, (g, v) in enumerate(vals)]
    df = spark.createDataFrame(rows, "row_id bigint, grp int, value double")
    got = {
        r["row_id"]: r["robust_z"]
        for r in robust_zscore_per_group(df, ["grp"], "value").collect()
    }
    for g in {g for _, g, _ in rows}:
        xs = [v for _, gg, v in rows if gg == g]
        med = statistics.median(xs)
        mad = statistics.median(sorted(abs(x - med) for x in xs))
        scale = 1.4826 * mad
        for i, gg, v in rows:
            if gg != g:
                continue
            want = 0.0 if scale == 0 else (v - med) / scale
            assert abs(got[i] - want) < 1e-12, (i, g, got[i], want)


@given(
    vals=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 200)),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_histogram_bins_match_python(spark, vals):
    """events_histogram vs direct bin arithmetic — equal-width bins over
    the per-group [min, max], top edge folded into the last bin, and
    the degenerate single-value group pinned to bin 0."""
    import datetime as dt
    import math
    import shutil
    import tempfile
    from collections import Counter

    from datapipeline_gcp_spark.operators.analytics import (
        N_BINS,
        events_histogram,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), i % 3, t, v / 7.0, "{}")
        for i, (t, v) in enumerate(vals)
    ]
    tmp = tempfile.mkdtemp(prefix="hist_prop_")
    try:
        spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, event_type string,"
            " value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        got = sorted(
            (r["event_type"], r["bin"], r["n_events"])
            for r in events_histogram(spark, tmp).collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    cnt = Counter()
    for t in {t for t, _ in vals}:
        xs = [v / 7.0 for tt, v in vals if tt == t]
        vmin, vmax = min(xs), max(xs)
        for x in xs:
            if vmax == vmin:
                b = 0
            else:
                b = min(math.floor((x - vmin) / (vmax - vmin) * N_BINS),
                        N_BINS - 1)
            cnt[(t, b)] += 1
    want = sorted((t, b, n) for (t, b), n in cnt.items())
    assert got == want


@given(
    log=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 14)),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_cohort_retention_matches_python_dicts(spark, log):
    """cohort_retention vs direct dict arithmetic: first-day cohort
    assignment, distinct active days, per-(cohort, offset) distinct
    user counts over cohort size."""
    import datetime as dt

    from datapipeline_gcp_spark.operators.analytics import cohort_retention

    base = dt.datetime(2024, 1, 1, 9, 30)
    rows = [
        (u, base + dt.timedelta(days=d, minutes=u)) for u, d in log
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    got = sorted(
        tuple(r) for r in cohort_retention(df).collect()
    )

    first: dict[int, object] = {}
    active: set = set()
    for u, ts in rows:
        d = ts.date()
        active.add((u, d))
        if u not in first or d < first[u]:
            first[u] = d
    sizes: dict = {}
    for u, c in first.items():
        sizes[c] = sizes.get(c, 0) + 1
    cells: dict = {}
    for u, d in active:
        key = (first[u], (d - first[u]).days)
        cells.setdefault(key, set()).add(u)
    want = sorted(
        (c, off, len(us), sizes[c], len(us) / sizes[c])
        for (c, off), us in cells.items()
    )
    assert got == want


@given(
    cur_keys=st.sets(st.integers(0, 20), min_size=1, max_size=12),
    upd_keys=st.sets(st.integers(0, 30), min_size=0, max_size=12),
)
@settings(**_SETTINGS)
def test_scd1_upsert_matches_python_merge(spark, cur_keys, upd_keys):
    """scd1_upsert vs direct dict merge: update-wins payloads and the
    insert/update/keep op classification."""
    from datapipeline_gcp_spark.operators.maintenance import scd1_upsert

    cur = spark.createDataFrame(
        [(k, f"name{k}") for k in sorted(cur_keys)], "k bigint, payload string"
    )
    upd = spark.createDataFrame(
        [(k, f"upd{k}") for k in sorted(upd_keys)], "k bigint, payload string"
    ) if upd_keys else spark.createDataFrame([], "k bigint, payload string")
    got = {
        r["k"]: (r["payload"], r["op"])
        for r in scd1_upsert(cur, upd, keys=["k"]).collect()
    }
    want = {}
    for k in cur_keys | upd_keys:
        if k in upd_keys:
            want[k] = (f"upd{k}", "update" if k in cur_keys else "insert")
        else:
            want[k] = (f"name{k}", "keep")
    assert got == want


@given(
    log=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 6)),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_audience_overlap_matches_python_sets(spark, log):
    """events_audience_overlap vs direct set Jaccard over per-type
    distinct user sets — the distributed count-based intersection must
    equal the materialized-set arithmetic it deliberately avoids."""
    import datetime as dt
    import math
    import shutil
    import tempfile

    from datapipeline_gcp_spark.operators.analytics import (
        events_audience_overlap,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), u, t, 1.0, "{}")
        for i, (t, u) in enumerate(log)
    ]
    tmp = tempfile.mkdtemp(prefix="overlap_prop_")
    try:
        spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, event_type string,"
            " value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        got = sorted(
            tuple(r) for r in events_audience_overlap(spark, tmp).collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    sets: dict[str, set] = {}
    for _i, _ts, u, t, _v, _p in rows:
        sets.setdefault(t, set()).add(u)
    want = []
    types = sorted(sets)
    for i, ta in enumerate(types):
        for tb in types[i + 1:]:
            both = len(sets[ta] & sets[tb])
            if not both:
                continue
            na, nb = len(sets[ta]), len(sets[tb])
            jac = math.floor(both / (na + nb - both) * 1e9 + 0.5) / 1e9
            want.append((ta, tb, na, nb, both, jac))
    assert got == sorted(want)


@given(
    counts=st.lists(st.tuples(st.integers(0, 40), st.integers(1, 9)),
                    min_size=1, max_size=30, unique_by=lambda x: x[0])
)
@settings(**_SETTINGS)
def test_anomaly_hours_match_python_window(spark, counts):
    """events_anomaly_hours vs a direct trailing-24-ACTIVE-hour window
    over integer counts: exact Σcnt/Σcnt² stats, the min-points gate,
    the flat-baseline NULL, and the |z|>3 flag."""
    import datetime as dt
    import math
    import shutil
    import tempfile

    from datapipeline_gcp_spark.operators.analytics import (
        ANOM_LOOKBACK,
        ANOM_MIN_POINTS,
        ANOM_Z,
        events_anomaly_hours,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h, c in counts:
        for j in range(c):
            rows.append(
                (eid, base + dt.timedelta(hours=h, minutes=j), j % 3,
                 "a", 1.0, "{}")
            )
            eid += 1
    tmp = tempfile.mkdtemp(prefix="anom_prop_")
    try:
        spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, event_type string,"
            " value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        got = {
            r["hour"]: (r["cnt"], r["baseline_mean"], r["z"], r["is_anomaly"])
            for r in events_anomaly_hours(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    def q6(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    hours = sorted(dict(counts))
    cnt = dict(counts)
    want = {}
    for h in hours:
        basewin = [cnt[g] for g in hours if h - ANOM_LOOKBACK <= g <= h - 1]
        if len(basewin) < ANOM_MIN_POINTS:
            continue
        n = float(len(basewin))
        mean = sum(basewin) / n
        var = sum(c * c for c in basewin) / n - mean * mean
        z = q6((cnt[h] - mean) / math.sqrt(var)) if var > 0 else None
        flag = abs(z) > ANOM_Z if var > 0 else False
        want[base + dt.timedelta(hours=h)] = (cnt[h], q6(mean), z, flag)
    assert got == want


@given(
    fact=st.lists(
        st.tuples(st.integers(0, 60), st.sampled_from(["HI", "LO"])),
        min_size=1,
        max_size=30,
    ),
    dim=st.sets(st.integers(0, 80), min_size=0, max_size=15),
)
@settings(**_SETTINGS)
def test_bloom_semijoin_matches_python_bitmap(spark, fact, dim):
    """bloom_semijoin_report vs a Python replica of the exact bitmap:
    identical pass verdicts bit-for-bit (the bloom is deterministic,
    not probabilistic, once the hash is fixed), exact-membership
    counts, false-positive accounting, and the no-false-negative
    invariant."""
    import hashlib
    import math

    from datapipeline_gcp_spark.functions.dedup import P
    from datapipeline_gcp_spark.operators.relational import (
        BLOOM_BITS,
        BLOOM_K,
        bloom_semijoin_report,
    )

    orders = spark.createDataFrame(
        [(i, k, p) for i, (k, p) in enumerate(fact)],
        "o_orderkey bigint, o_custkey bigint, o_orderpriority string",
    )
    keys = (
        spark.createDataFrame([(k,) for k in sorted(dim)], "c_custkey bigint")
        if dim
        else spark.createDataFrame([], "c_custkey bigint")
    )
    got = sorted(
        tuple(r) for r in bloom_semijoin_report(orders, keys).collect()
    )

    def h(i: int, key: int) -> int:
        s = f"bloom{i}_{key}"
        return (
            int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % P
        ) % BLOOM_BITS

    bits = {h(i, k) for k in dim for i in range(BLOOM_K)}

    def bloom_pass(k: int) -> bool:
        return all(h(i, k) in bits for i in range(BLOOM_K))

    agg: dict[str, list] = {}
    for _i, (k, p) in enumerate(fact):
        agg.setdefault(p, []).append(k)
    want = []
    for p, ks in agg.items():
        n = len(ks)
        n_exact = sum(1 for k in ks if k in dim)
        n_pass = sum(1 for k in ks if bloom_pass(k))
        n_fp = sum(1 for k in ks if bloom_pass(k) and k not in dim)
        fp_rate = (
            math.floor(n_fp / (n - n_exact) * 1e9 + 0.5) / 1e9
            if n > n_exact
            else None
        )
        # no false negatives: every member must pass
        assert all(bloom_pass(k) for k in ks if k in dim)
        want.append((p, n, n_exact, n_pass, n_fp, fp_rate))
    assert got == sorted(want)


@given(
    orders=st.lists(
        st.tuples(st.integers(0, 30), st.sampled_from(["1-URGENT", "2-HIGH"]),
                  st.integers(0, 11)),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_priority_drift_matches_python_shares(spark, orders):
    """orders_priority_drift vs direct share arithmetic: per-month and
    baseline shares from exact counts, qround'd log-ratio."""
    import datetime as dt
    import math
    import shutil
    import tempfile
    from collections import Counter

    from datapipeline_gcp_spark.operators.analytics import (
        orders_priority_drift,
    )

    rows = [
        (i, i % 4, "O", 100.0 + i, dt.datetime(1995, 1 + m, 5),
         p, 0, f"c{i}")
        for i, (_k, p, m) in enumerate(orders)
    ]
    tmp = tempfile.mkdtemp(prefix="drift_prop_")
    try:
        spark.createDataFrame(
            rows,
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
            " o_totalprice double, o_orderdate timestamp,"
            " o_orderpriority string, o_shippriority bigint, o_clerk string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
        got = sorted(
            (r["month"], r["o_orderpriority"], r["n"], r["share"],
             r["baseline"], r["log_drift"])
            for r in orders_priority_drift(spark, tmp).collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    def q(x, d):
        return math.floor(x * 10**d + 0.5) / 10**d

    cells = Counter()
    for _i, (_k, p, m) in enumerate(orders):
        cells[(dt.datetime(1995, 1 + m, 1), p)] += 1
    month_tot = Counter()
    prio_tot = Counter()
    grand = 0
    for (mo, p), n in cells.items():
        month_tot[mo] += n
        prio_tot[p] += n
        grand += n
    want = sorted(
        (
            mo, p, n,
            q(n / month_tot[mo], 9),
            q(prio_tot[p] / grand, 9),
            q(math.log((n / month_tot[mo]) / (prio_tot[p] / grand)), 6),
        )
        for (mo, p), n in cells.items()
    )
    assert got == want


@given(
    items=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 7)),
        min_size=2,
        max_size=35,
    )
)
@settings(**_SETTINGS)
def test_basket_affinity_matches_python_counter(spark, items):
    """parts_basket_affinity vs direct basket arithmetic: order-local
    distinct pairs, the support floor, exact lift, and the
    (lift desc, pair) top-k ordering."""
    import datetime as dt
    import math
    import shutil
    import tempfile
    from collections import Counter
    from itertools import combinations

    from datapipeline_gcp_spark.operators.analytics import (
        BASKET_MIN_COUNT,
        BASKET_TOP_K,
        parts_basket_affinity,
    )

    rows = [
        (o, i, 7000 + i % 3, p, i % 5 + 1, 1.0 + i, 10.0, 0.05, 0.01,
         dt.datetime(1995, 3, 1), "N")
        for i, (o, p) in enumerate(items)
    ]
    tmp = tempfile.mkdtemp(prefix="basket_prop_")
    try:
        spark.createDataFrame(
            rows,
            "l_orderkey bigint, l_linenumber bigint, l_suppkey bigint,"
            " l_partkey bigint, l_quantity bigint, l_extendedprice double,"
            " l_tax double, l_discount double, l_dummy double,"
            " l_shipdate timestamp, l_returnflag string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")
        got = [
            (r["part_a"], r["part_b"], r["n_ab"], r["n_a"], r["n_b"], r["lift"])
            for r in parts_basket_affinity(spark, tmp).collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    baskets: dict[int, set] = {}
    for o, p in items:
        baskets.setdefault(o, set()).add(p)
    pair_n = Counter()
    item_n = Counter()
    for parts in baskets.values():
        for p in parts:
            item_n[p] += 1
        for a, b in combinations(sorted(parts), 2):
            pair_n[(a, b)] += 1
    n_orders = len(baskets)
    want = []
    for (a, b), nab in pair_n.items():
        if nab < BASKET_MIN_COUNT:
            continue
        lift = math.floor(
            nab * n_orders / (item_n[a] * item_n[b]) * 1e9 + 0.5
        ) / 1e9
        want.append((a, b, nab, item_n[a], item_n[b], lift))
    want.sort(key=lambda t: (-t[5], t[0], t[1]))
    assert got == want[:BASKET_TOP_K]


@given(
    users=st.lists(
        st.tuples(
            st.integers(0, 5),
            st.sampled_from(["view", "purchase", "click"]),
            st.integers(0, 500),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_conversion_latency_matches_python(spark, users):
    """events_conversion_latency vs direct first-view→first-purchase
    arithmetic: negative gaps excluded, exact mean, (n-1)*p percentile
    interpolation — including the all-negative / no-converter edge
    where every output is NULL over a count of 0."""
    import datetime as dt
    import shutil
    import tempfile

    from datapipeline_gcp_spark.operators.analytics import (
        events_conversion_latency,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=m), u, t, 1.0, "{}")
        for i, (u, t, m) in enumerate(users)
    ]
    tmp = tempfile.mkdtemp(prefix="convlat_prop_")
    try:
        spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, event_type string,"
            " value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        got = events_conversion_latency(spark, tmp).collect()[0]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    first: dict[tuple, object] = {}
    for u, t, m in users:
        key = (u, t)
        if key not in first or m < first[key]:
            first[key] = m
    lats = []
    for u in {u for u, _t, _m in users}:
        if (u, "view") in first and (u, "purchase") in first:
            d_us = (first[(u, "purchase")] - first[(u, "view")]) * 60_000_000
            if d_us >= 0:
                lats.append(d_us)

    if not lats:
        assert got["n_converted"] == 0
        assert got["mean_latency_us"] is None
        assert got["p50_us"] is None
        return

    def interp(xs, p):
        xs = sorted(xs)
        k = (len(xs) - 1) * p
        lo, hi = int(k), min(int(k) + 1, len(xs) - 1)
        return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)

    assert got["n_converted"] == len(lats)
    assert abs(got["mean_latency_us"] - sum(lats) / len(lats)) < 1e-6
    for col, p in (("p50_us", 0.5), ("p90_us", 0.9), ("p99_us", 0.99)):
        assert abs(got[col] - interp(lats, p)) < 1e-6, (col, got[col])


@given(ids=st.sets(st.integers(0, 400), min_size=1, max_size=60))
@settings(**_SETTINGS)
def test_domain_caps_match_python_counter(spark, ids):
    """web_domain_caps vs direct per-host arithmetic on the planted-URL
    derivation: doc-id-ordered rank against the cap, kept counts, and
    the max kept id per host."""
    import shutil
    import tempfile

    from datapipeline_gcp_spark.functions.cleaning import (
        DOMAIN_CAP,
        web_domain_caps,
    )

    rows = [(i, f"text {i}", "en", "src0", 7) for i in sorted(ids)]
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    tmp = tempfile.mkdtemp(prefix="domcap_prop_")
    try:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/documents.parquet")
        got = sorted(tuple(r) for r in web_domain_caps(spark, tmp).collect())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    hosts: dict[str, list] = {}
    for i in sorted(ids):
        dom = i % 3 if i % 4 == 0 else i % 50
        hosts.setdefault(f"www.site{dom}.example", []).append(i)
    want = sorted(
        (
            h,
            len(ds),
            min(len(ds), DOMAIN_CAP),
            max(ds[:DOMAIN_CAP]),
        )
        for h, ds in hosts.items()
    )
    assert got == want


@given(
    months=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 300)),
        min_size=1, max_size=25, unique_by=lambda x: x[0],
    )
)
@settings(**_SETTINGS)
def test_monthly_seasonality_matches_python_lags(spark, months):
    """orders_monthly_seasonality vs direct lag arithmetic over the
    month-ordered revenue series — including a zero-revenue month
    (every (h % 7 == 0) month gets all-zero prices), which must yield a
    NULL change ratio (DuckDB's double/0), not an ANSI crash, in the
    FOLLOWING month. Checked against the registered oracle on the same
    degenerate table so both engines are pinned."""
    import datetime as dt
    import math
    import shutil
    import tempfile

    import duckdb

    from datapipeline_gcp_spark.operators.analytics import (
        _SEASONALITY_ORACLE,
        orders_monthly_seasonality,
    )

    rows = []
    i = 0
    for m, v in months:
        price = 0.0 if m % 7 == 0 else float(v) + 0.25
        for j in range(2):
            rows.append(
                (i, i % 4, "O",
                 price,
                 dt.datetime(1995 + m // 12, m % 12 + 1, 3 + j),
                 "1-URGENT", 0, f"c{i}")
            )
            i += 1
    tmp = tempfile.mkdtemp(prefix="season_prop_")
    try:
        spark.createDataFrame(
            rows,
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
            " o_totalprice double, o_orderdate timestamp,"
            " o_orderpriority string, o_shippriority bigint, o_clerk string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
        got = sorted(
            tuple(r) for r in orders_monthly_seasonality(spark, tmp).collect()
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW orders AS SELECT * FROM '{tmp}/orders.parquet/*.parquet'"
        )
        want_oracle = sorted(
            tuple(r) for r in con.execute(_SEASONALITY_ORACLE).fetchall()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # leg 1: engine vs oracle on the degenerate table
    assert len(got) == len(want_oracle)
    for g, w in zip(got, want_oracle):
        for a, b in zip(g, w):
            if isinstance(a, float) and b is not None:
                assert abs(a - b) < 1e-9, (g, w)
            else:
                assert (a is None) == (b is None), (g, w)

    # leg 2: engine vs direct Python lag arithmetic
    def q6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    series = sorted(
        (dt.datetime(1995 + m // 12, m % 12 + 1, 1),
         2 * (0.0 if m % 7 == 0 else float(v) + 0.25))
        for m, v in months
    )
    for idx, (g, (mo, rev)) in enumerate(zip(got, series)):
        assert g[0] == mo and g[1] == 2
        assert abs(g[2] - rev) < 1e-9
        for col, k in ((3, 1), (4, 12)):
            if idx - k < 0 or series[idx - k][1] == 0.0:
                assert g[col] is None, (g, idx, k)
            else:
                assert abs(g[col] - q6(rev / series[idx - k][1] - 1.0)) < 1e-9


def test_connected_components_long_chain_falls_back(spark):
    """VERDICT r7 #6: a path graph whose diameter ≫ max_iter must not
    raise — label propagation hands off to large-star/small-star
    contraction, which converges in O(log n) rounds regardless of
    diameter, and the fixpoint (min reachable id) is identical."""
    from datapipeline_gcp_spark.functions.clusters import connected_components

    n = 64  # path 0-1-2-...-64: diameter 64 ≫ max_iter 6
    edges = [(i, i + 1) for i in range(n)]
    df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    got = {
        (r["node"], r["component"])
        for r in connected_components(df, max_iter=6).collect()
    }
    assert got == {(i, 0) for i in range(n + 1)}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 19), st.integers(0, 19)),
        min_size=1, max_size=24),
)
@settings(**_SETTINGS)
def test_star_contraction_matches_union_find(spark, edges):
    """connected_components_star vs a Python union-find over arbitrary
    random graphs — same (node, min-reachable-id) map as label
    propagation computes, by a different algorithm."""
    from datapipeline_gcp_spark.functions.clusters import (
        connected_components_star,
    )

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    got = {
        (r["node"], r["component"])
        for r in connected_components_star(df).collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(node, find(node)) for node in parent}
    assert got == want


def test_language_id_null_text_is_und(spark):
    """The r8 NULL-text boundary: a NULL document scores 0 on every
    language and classifies 'und' — in the engine here, and in the
    oracle via the full nulltext sweep (VERIFY_DEGENERATE.md)."""
    from datapipeline_gcp_spark.functions.text import with_language_id

    df = spark.createDataFrame(
        [(0, None), (1, "the the the")], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: r["lang_pred"] for r in with_language_id(df).collect()}
    assert got == {0: "und", 1: "en"}


@given(seed=st.integers(0, 10_000))
@settings(**_SETTINGS)
def test_event_time_validity_split_partitions_input(spark, seed):
    """r9 watermark boundary: split_event_time is a PARTITION of the
    input — every row lands in exactly one side, NULL and out-of-window
    clocks (1901/2099/epoch-zero) always in rejected, in-window always
    in valid — against a pure-Python replica over adversarial clocks."""
    import datetime as dt
    import random

    from datapipeline_gcp_spark.streaming.harness import (
        EVENT_TIME_VALID_MAX,
        EVENT_TIME_VALID_MIN,
        split_event_time,
    )

    rng = random.Random(seed)
    pool = [
        None,
        dt.datetime(1901, 3, 7, 4, 5, 6),
        dt.datetime(1970, 1, 1, 0, 0, 0),
        dt.datetime(1989, 12, 31, 23, 59, 59),
        dt.datetime(1990, 1, 1, 0, 0, 0),  # inclusive lower bound
        dt.datetime(2024, 6, 1, 12, 0, 0),
        dt.datetime(2034, 12, 31, 23, 59, 59),
        dt.datetime(2035, 1, 1, 0, 0, 0),  # exclusive upper bound
        dt.datetime(2038, 1, 19, 3, 14, 8),
        dt.datetime(2099, 11, 23, 21, 22, 23),
    ]
    rows = [(i, rng.choice(pool)) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    valid, rejected = split_event_time(df)
    got_valid = {r.id for r in valid.collect()}
    got_rejected = {r.id for r in rejected.collect()}

    lo = dt.datetime.fromisoformat(EVENT_TIME_VALID_MIN)
    hi = dt.datetime.fromisoformat(EVENT_TIME_VALID_MAX)
    want_valid = {i for i, t in rows if t is not None and lo <= t < hi}
    assert got_valid == want_valid
    assert got_rejected == {i for i, _ in rows} - want_valid
    assert not (got_valid & got_rejected)
