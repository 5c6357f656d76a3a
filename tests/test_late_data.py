"""Late / out-of-order events BEYOND the watermark horizon (VERDICT r10
#8): when files arrive one per micro-batch, which late rows drop, which
aggregate, and which windows emit — checked against an independent
in-test simulator of the watermark contract, not against Spark's own
output re-read.

The EMPIRICAL contract (established by probing Spark 4.1.2 and encoded
in ``_simulate``; the naive textbook model is wrong in two ways):

- the eviction/emission watermark in force during batch N is computed
  from event times through batch N-1 (one-batch lag, readable as
  ``batchWatermarkMs`` in the checkpoint offset log);
- the LATE-ROW FILTER lags one batch further: batch N's input is
  filtered with batch N-1's in-force watermark. Consequence: a late row
  whose window closes IN THIS VERY BATCH is still absorbed before the
  end-of-batch eviction emits the window, while a row for an
  already-evicted window is dropped (and never re-emits the window —
  append-mode outputs stay unique per window);
- ``availableNow`` runs a final EMPTY batch after the data is drained,
  so every window the fully-advanced watermark passed emits before
  termination; windows beyond it emit nothing (the closure semantics
  every streaming-gate oracle encodes).
"""

from __future__ import annotations

import datetime as dt
import os
import time

from pyspark.sql import types as T

from datapipeline_gcp_spark.streaming.harness import run_to_memory_sink
from datapipeline_gcp_spark.streaming.windows import tumbling_agg

_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)

_D = dt.datetime  # naive; the session is pinned UTC so the cast is identity
WIDTH = dt.timedelta(hours=1)
DELAY = dt.timedelta(minutes=30)

#: (event_id, ts, value) per micro-batch — one file per batch.
BATCHES = [
    # batch 0: two rows in the 10:00 window
    [(1, _D(2024, 1, 1, 10, 5), 1.0), (2, _D(2024, 1, 1, 10, 45), 2.0)],
    # batch 1: 12:xx rows; wm in force next batch becomes 12:20
    [(3, _D(2024, 1, 1, 12, 10), 4.0), (4, _D(2024, 1, 1, 12, 50), 8.0)],
    # batch 2: 10:30 arrives in the SAME batch that evicts the 10:00
    # window (late filter lags) → absorbed, emitted inside it; 12:15 is
    # older than the eviction wm but its window is open → aggregated
    [(5, _D(2024, 1, 1, 10, 30), 16.0), (6, _D(2024, 1, 1, 12, 15), 32.0)],
    # batch 3: 13:40 pushes the next wm to 13:10
    [(7, _D(2024, 1, 1, 13, 40), 64.0)],
    # batch 4: 10:35 targets the ALREADY-EVICTED 10:00 window → dropped,
    # and the window must NOT re-emit
    [(8, _D(2024, 1, 1, 10, 35), 100.0)],
    # batch 5: 15:30 advances the final wm to 15:00 → the 13:00 window
    # closes in the final flush batch; 15:00's own window never emits
    [(9, _D(2024, 1, 1, 15, 30), 200.0)],
]


def _simulate(batches):
    """Independent fold of the empirical contract in the module
    docstring. Returns {window_start: [(event_id, value), ...]} for the
    EMITTED windows only."""
    floor_min = dt.datetime.min
    wm_in_force = floor_min  # evicts/emits during the current batch
    wm_late = floor_min  # filters the current batch's input (lags 1)
    state: dict[dt.datetime, list] = {}
    emitted: dict[dt.datetime, list] = {}
    max_ts = None
    for batch in batches + [[]]:  # availableNow's final empty flush batch
        for eid, ts, val in batch:
            ws = ts.replace(minute=0, second=0, microsecond=0)
            if ws + WIDTH <= wm_late:
                continue  # too late per the PREVIOUS trigger's watermark
            state.setdefault(ws, []).append((eid, val))
        for ws in sorted(state):
            if ws + WIDTH <= wm_in_force:
                assert ws not in emitted  # append-mode: one emission ever
                emitted[ws] = state.pop(ws)
        for _, ts, _ in batch:
            max_ts = ts if max_ts is None else max(max_ts, ts)
        wm_late = wm_in_force
        if max_ts is not None:
            wm_in_force = max(wm_in_force, max_ts - DELAY)
    return emitted


def test_late_data_drops_match_watermark_contract(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "late_events"
    os.makedirs(src)
    now = time.time()
    for i, batch in enumerate(BATCHES):
        # one plain FILE per batch (the streaming file source does not
        # recurse into Spark-style output directories), written UTC-typed
        # so the declared TimestampType schema reads it as an instant
        tbl = pa.table(
            {
                "event_id": pa.array([e for e, _, _ in batch], pa.int64()),
                "ts": pa.array(
                    [ts for _, ts, _ in batch], pa.timestamp("us", tz="UTC")
                ),
                "user_id": pa.array([100 + e for e, _, _ in batch], pa.int64()),
                "event_type": pa.array(["click"] * len(batch), pa.string()),
                "value": pa.array([v for _, _, v in batch], pa.float64()),
            }
        )
        part = str(src / f"b{i}.parquet")
        pq.write_table(tbl, part)
        # the file source orders files by modification time: force the
        # batch order to be the declared one
        os.utime(part, (now + i, now + i))

    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "30 minutes")
    )
    out = tumbling_agg(stream)
    run_to_memory_sink(spark, out, "late_data_sink", str(tmp_path / "ckpt"))
    rows = spark.table("late_data_sink").collect()
    got = {
        r.window_start.replace(tzinfo=None): (r.n_events, r.total_value)
        for r in rows
    }
    assert len(rows) == len(got)  # no window emitted twice

    want = {
        ws: (len(evs), float(sum(v for _, v in evs)))
        for ws, evs in _simulate(BATCHES).items()
    }
    assert got == want
    # pin the shape the simulator predicts, so a silent simulator bug
    # cannot vacuously pass: the 10:00 window emitted WITH the
    # same-batch-as-eviction late row 5 but WITHOUT the already-evicted
    # row 8; the 12:00 window emitted WITH the late-but-open row 6; the
    # 13:00 window emitted in the final flush; 15:00's never emitted
    assert want == {
        _D(2024, 1, 1, 10): (3, 19.0),
        _D(2024, 1, 1, 12): (3, 44.0),
        _D(2024, 1, 1, 13): (1, 64.0),
    }


# ---------------------------------------------------------------------------
# Property form: the simulator must match Spark on RANDOM batch shapes,
# not just the one pinned fixture. Timestamps carry a fixed :17 second
# offset so max_ts - DELAY can never EQUAL an hour-aligned window end —
# the emit-at-exact-boundary tie is deliberately out of scope (both
# engines' behavior at strict inequality is what the contract pins).
# ---------------------------------------------------------------------------

from hypothesis import example, given, settings, strategies as st  # noqa: E402

_MINUTES = st.integers(min_value=0, max_value=600)
_BATCHES_STRATEGY = st.lists(
    st.lists(_MINUTES, min_size=1, max_size=5), min_size=2, max_size=5
)


def _run_stream(spark, root, batches):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = root / "ev"
    os.makedirs(src)
    now = time.time()
    for i, batch in enumerate(batches):
        tbl = pa.table(
            {
                "event_id": pa.array([e for e, _, _ in batch], pa.int64()),
                "ts": pa.array(
                    [ts for _, ts, _ in batch], pa.timestamp("us", tz="UTC")
                ),
                "user_id": pa.array([100 + e for e, _, _ in batch], pa.int64()),
                "event_type": pa.array(["click"] * len(batch), pa.string()),
                "value": pa.array([v for _, _, v in batch], pa.float64()),
            }
        )
        part = str(src / f"b{i}.parquet")
        pq.write_table(tbl, part)
        os.utime(part, (now + i, now + i))
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "30 minutes")
    )
    name = f"late_prop_{os.path.basename(root)}"
    run_to_memory_sink(
        spark, tumbling_agg(stream), name, str(root / "ckpt")
    )
    return {
        r.window_start.replace(tzinfo=None): (r.n_events, r.total_value)
        for r in spark.table(name).collect()
    }


@given(minute_batches=_BATCHES_STRATEGY)
@settings(max_examples=4, deadline=None)
def test_late_data_contract_holds_on_random_batches(
    spark, tmp_path_factory, minute_batches
):
    base = _D(2024, 3, 1, 8, 0, 17)  # :17 — never on a wm/end boundary
    eid = 0
    batches = []
    for mb in minute_batches:
        batch = []
        for m in mb:
            eid += 1
            batch.append((eid, base + dt.timedelta(minutes=m), float(eid)))
        batches.append(batch)
    got = _run_stream(spark, tmp_path_factory.mktemp("latep"), batches)
    want = {
        ws: (len(evs), float(sum(v for _, v in evs)))
        for ws, evs in _simulate(batches).items()
    }
    assert got == want


# ---------------------------------------------------------------------------
# SESSION WINDOWS (VERDICT r11 #6): the same two-lag watermark contract,
# with session-specific late semantics established by probing Spark
# 4.1.2 (fixtures below are the probe scenarios):
#
# - the late filter uses the row's PRE-MERGE session end: a row is
#   dropped iff ts + gap <= wm_late (shifted, like tumbling's
#   window-end predicate — NOT the raw ts the join operator uses);
# - sessions merge when their [ts, ts+gap) intervals overlap OR touch:
#   a row at exactly session_end extends the session (probed within one
#   batch and across batches, in both arrival orders);
# - eviction at end of batch emits sessions with end <= wm_in_force;
# - a late row that passes the filter but lands in the time range of an
#   ALREADY-EMITTED session cannot re-open it (the state is gone): it
#   forms a NEW session, so append-mode output may contain OVERLAPPING
#   session rows for one key. Downstream consumers must key sessions by
#   (user, start, end), not by time-range containment.
# ---------------------------------------------------------------------------

from datapipeline_gcp_spark.streaming.windows import session_agg  # noqa: E402

GAP = dt.timedelta(minutes=10)


def _simulate_session(batches, gap=GAP, delay=DELAY):
    """Independent fold of the empirical session-window contract.
    ``batches``: list of list of (eid, ts, value, user). Returns
    {(user, start, end): [(eid, value), ...]} for EMITTED sessions."""
    floor_min = dt.datetime.min
    wm_in_force = floor_min
    wm_late = floor_min
    state: dict[int, list] = {}  # user -> [[start, end, rows], ...]
    emitted: dict[tuple, list] = {}
    max_ts = None
    for batch in batches + [[]]:
        for eid, ts, val, user in batch:
            if ts + gap <= wm_late:
                continue  # pre-merge session end below the lagged wm
            sessions = state.setdefault(user, [])
            merged = [ts, ts + gap, [(eid, val)]]
            keep = []
            for s in sessions:
                # touching endpoints merge, like overlapping ones
                if merged[0] <= s[1] and merged[1] >= s[0]:
                    merged[0] = min(merged[0], s[0])
                    merged[1] = max(merged[1], s[1])
                    merged[2].extend(s[2])
                else:
                    keep.append(s)
            keep.append(merged)
            state[user] = keep
        for user, sessions in state.items():
            still = []
            for s in sessions:
                if s[1] <= wm_in_force:
                    emitted[(user, s[0], s[1])] = s[2]
                else:
                    still.append(s)
            state[user] = still
        for _, ts, _, _ in batch:
            max_ts = ts if max_ts is None else max(max_ts, ts)
        wm_late = wm_in_force
        if max_ts is not None:
            wm_in_force = max(wm_in_force, max_ts - delay)
    return emitted


def _run_session_stream(spark, root, batches, watermark="30 minutes"):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = root / "ev"
    os.makedirs(src)
    now = time.time()
    for i, batch in enumerate(batches):
        tbl = pa.table(
            {
                "event_id": pa.array([e for e, _, _, _ in batch], pa.int64()),
                "ts": pa.array(
                    [ts for _, ts, _, _ in batch], pa.timestamp("us", tz="UTC")
                ),
                "user_id": pa.array([u for _, _, _, u in batch], pa.int64()),
                "event_type": pa.array(["click"] * len(batch), pa.string()),
                "value": pa.array([v for _, _, v, _ in batch], pa.float64()),
            }
        )
        part = str(src / f"b{i}.parquet")
        pq.write_table(tbl, part)
        os.utime(part, (now + i, now + i))
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", watermark)
    )
    name = f"late_sess_{os.path.basename(root)}"
    run_to_memory_sink(
        spark, session_agg(stream, "10 minutes"), name, str(root / "ckpt")
    )
    return {
        (
            r.user_id,
            r.session_start.replace(tzinfo=None),
            r.session_end.replace(tzinfo=None),
        ): (r.n_events, r.total_value)
        for r in spark.table(name).collect()
    }


#: probe scenarios, re-asserted pinned: (batches, expected emissions)
_SESSION_FIXTURE = [
    # late row merges an open session but NOT a non-overlapping later one
    [(1, _D(2024, 1, 1, 10, 0), 1.0, 1), (2, _D(2024, 1, 1, 10, 5), 2.0, 1)],
    [(3, _D(2024, 1, 1, 10, 20), 4.0, 1)],
    [(4, _D(2024, 1, 1, 10, 7), 8.0, 1)],
    [(5, _D(2024, 1, 1, 12, 0), 16.0, 1)],
]

_SESSION_REOPEN_FIXTURE = [
    # a late row overlapping an EMITTED session forms a NEW overlapping
    # session (state is gone; append-mode cannot retract)
    [(1, _D(2024, 1, 1, 10, 0), 1.0, 1)],
    [(2, _D(2024, 1, 1, 10, 40), 2.0, 1)],
    [(3, _D(2024, 1, 1, 10, 41), 4.0, 1)],  # evicts+emits [10:00,10:10)
    [(4, _D(2024, 1, 1, 10, 5), 8.0, 1)],  # 10:15 > wm_late 10:10: admitted
    [(5, _D(2024, 1, 1, 12, 0), 16.0, 1)],
]


def test_session_late_merge_matches_contract(spark, tmp_path):
    got = _run_session_stream(spark, tmp_path, _SESSION_FIXTURE)
    want = {
        k: (len(evs), float(sum(v for _, v in evs)))
        for k, evs in _simulate_session(_SESSION_FIXTURE).items()
    }
    assert got == want
    assert want == {
        (1, _D(2024, 1, 1, 10, 0), _D(2024, 1, 1, 10, 17)): (3, 11.0),
        (1, _D(2024, 1, 1, 10, 20), _D(2024, 1, 1, 10, 30)): (1, 4.0),
    }


def test_session_late_row_cannot_reopen_emitted_session(spark, tmp_path):
    got = _run_session_stream(spark, tmp_path, _SESSION_REOPEN_FIXTURE)
    want = {
        k: (len(evs), float(sum(v for _, v in evs)))
        for k, evs in _simulate_session(_SESSION_REOPEN_FIXTURE).items()
    }
    assert got == want
    # the pinned hazard: TWO overlapping emitted sessions for user 1
    assert (1, _D(2024, 1, 1, 10, 0), _D(2024, 1, 1, 10, 10)) in want
    assert (1, _D(2024, 1, 1, 10, 5), _D(2024, 1, 1, 10, 15)) in want


@given(minute_batches=_BATCHES_STRATEGY)
# user 2's late 15:54:17 row ends exactly where its 16:04:17 session
# starts: touching sessions merge
@example(minute_batches=[[484, 0, 515], [0, 474]])
@settings(max_examples=3, deadline=None)
def test_session_late_contract_holds_on_random_batches(
    spark, tmp_path_factory, minute_batches
):
    base = _D(2024, 3, 1, 8, 0, 17)
    eid = 0
    batches = []
    for mb in minute_batches:
        batch = []
        for m in mb:
            eid += 1
            batch.append(
                (eid, base + dt.timedelta(minutes=m), float(eid), 1 + eid % 2)
            )
        batches.append(batch)
    got = _run_session_stream(
        spark, tmp_path_factory.mktemp("sessp"), batches,
        # 30m11s: wm carries :06 seconds vs the rows' :17, so eviction
        # and late-filter comparisons can never TIE — the boundary
        # convention (<= vs <) is deliberately out of contract scope
        watermark="1811 seconds",
    )
    want = {
        k: (len(evs), float(sum(v for _, v in evs)))
        for k, evs in _simulate_session(
            batches, delay=dt.timedelta(seconds=1811)
        ).items()
    }
    assert got == want


# ---------------------------------------------------------------------------
# STREAM-STREAM INTERVAL JOIN (VERDICT r11 #6): late-data contract of
# the attribution join (clicks in [p_ts - 1h, p_ts]), established by
# probing Spark 4.1.2:
#
# - the global watermark is the MIN over both sides of
#   (max side event time - delay) — a side that has seen no rows holds
#   the global watermark at the floor (state grows unboundedly until
#   BOTH sides advance: monitor per-side watermarks in production);
# - the in-force/late lag structure is identical to the agg operators:
#   eviction during batch N uses events through N-1; the late-INPUT
#   filter lags one batch further;
# - the late-input filter uses the RAW row timestamp per side
#   (ts < wm_late drops), NOT the interval-shifted eviction predicate —
#   a click whose join window still overlaps live purchases is dropped
#   anyway once its own ts falls below the lagged watermark;
# - state EVICTION is interval-shifted: purchases evict at
#   p_ts < wm_in_force; clicks survive while c_ts + interval >=
#   wm_in_force (so a timely purchase can still match a click whose raw
#   ts the watermark has passed — probe S8);
# - within a batch the JOIN runs before eviction (join-then-evict), so
#   a row arriving in the very batch whose watermark evicts its partner
#   still emits the pair; new rows also match other new rows of the
#   same batch.
# ---------------------------------------------------------------------------

from datapipeline_gcp_spark.streaming.joins import (  # noqa: E402
    streaming_interval_join,
)

_JOIN_INTERVAL = dt.timedelta(hours=1)


def _simulate_interval_join(batches, interval=_JOIN_INTERVAL, delay=DELAY):
    """Independent fold of the empirical join contract. ``batches``:
    list of list of (eid, ts, kind, user) with kind in
    {'purchase', 'click'}. Returns the set of emitted (p_eid, c_eid)."""
    floor_min = dt.datetime.min
    wm_in_force = floor_min
    wm_late = floor_min
    left: list = []  # purchases [(eid, ts, user)]
    right: list = []  # clicks
    pairs: set = set()
    max_l = None
    max_r = None

    def match(p, c):
        return p[2] == c[2] and p[1] - interval <= c[1] <= p[1]

    for batch in batches + [[]]:
        new_l = [
            (e, ts, u)
            for e, ts, k, u in batch
            if k == "purchase" and not ts < wm_late
        ]
        new_r = [
            (e, ts, u)
            for e, ts, k, u in batch
            if k == "click" and not ts < wm_late
        ]
        for p in new_l:
            for c in right + new_r:
                if match(p, c):
                    pairs.add((p[0], c[0]))
        for c in new_r:
            for p in left:
                if match(p, c):
                    pairs.add((p[0], c[0]))
        left.extend(new_l)
        right.extend(new_r)
        left = [p for p in left if not p[1] < wm_in_force]
        right = [c for c in right if not c[1] + interval < wm_in_force]
        for e, ts, k, u in batch:
            if k == "purchase":
                max_l = ts if max_l is None else max(max_l, ts)
            else:
                max_r = ts if max_r is None else max(max_r, ts)
        wm_late = wm_in_force
        if max_l is not None and max_r is not None:
            wm_in_force = max(wm_in_force, min(max_l, max_r) - delay)
    return pairs


def _run_join_stream(spark, root, batches, watermark="30 minutes"):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    src = root / "ev"
    os.makedirs(src)
    now = time.time()
    for i, batch in enumerate(batches):
        tbl = pa.table(
            {
                "event_id": pa.array([e for e, _, _, _ in batch], pa.int64()),
                "ts": pa.array(
                    [ts for _, ts, _, _ in batch], pa.timestamp("us", tz="UTC")
                ),
                "user_id": pa.array([u for _, _, _, u in batch], pa.int64()),
                "event_type": pa.array(
                    [k for _, _, k, _ in batch], pa.string()
                ),
                "value": pa.array([1.0] * len(batch), pa.float64()),
            }
        )
        part = str(src / f"b{i}.parquet")
        pq.write_table(tbl, part)
        os.utime(part, (now + i, now + i))

    def side(kind):
        return (
            spark.readStream.schema(_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .filter(F.col("event_type") == kind)
        )

    out = streaming_interval_join(
        side("purchase"), side("click"), "1 HOUR", watermark
    )
    name = f"late_join_{os.path.basename(root)}"
    run_to_memory_sink(spark, out, name, str(root / "ckpt"))
    return {
        (r.purchase_id, r.click_id) for r in spark.table(name).collect()
    }


_P, _C = "purchase", "click"

#: probe S1/S2 composed: C2 in the eviction batch still pairs
#: (join-then-evict + filter lag); C3 one batch later is lost.
_JOIN_FIXTURE = [
    [(1, _D(2024, 1, 1, 10, 0), _P, 1), (50, _D(2024, 1, 1, 10, 0), _C, 3)],
    [(9, _D(2024, 1, 1, 12, 0), _P, 2), (51, _D(2024, 1, 1, 12, 0), _C, 3)],
    [(2, _D(2024, 1, 1, 9, 50), _C, 1)],  # same batch as P1's eviction
    [(8, _D(2024, 1, 1, 12, 5), _P, 2), (52, _D(2024, 1, 1, 12, 5), _C, 3)],
    [(3, _D(2024, 1, 1, 9, 55), _C, 1)],  # one batch later: dropped
    [(7, _D(2024, 1, 1, 13, 0), _P, 2), (53, _D(2024, 1, 1, 13, 0), _C, 3)],
]

#: probe S8: the click outlives its raw ts (shifted eviction) and pairs
#: with a timely purchase after the watermark passed c_ts.
_JOIN_SHIFTED_FIXTURE = [
    [(2, _D(2024, 1, 1, 10, 0), _C, 1), (60, _D(2024, 1, 1, 10, 0), _P, 3)],
    [(9, _D(2024, 1, 1, 11, 10), _P, 2), (51, _D(2024, 1, 1, 11, 10), _C, 3)],
    [(8, _D(2024, 1, 1, 11, 12), _P, 2), (52, _D(2024, 1, 1, 11, 12), _C, 3)],
    [(1, _D(2024, 1, 1, 10, 50), _P, 1)],  # wm passed c_ts=10:00; pair lives
    [(7, _D(2024, 1, 1, 13, 0), _P, 2), (53, _D(2024, 1, 1, 13, 0), _C, 3)],
]


def test_interval_join_late_click_contract(spark, tmp_path):
    got = _run_join_stream(spark, tmp_path, _JOIN_FIXTURE)
    want = _simulate_interval_join(_JOIN_FIXTURE)
    assert got == want
    assert (1, 2) in want  # same-batch-as-eviction click still pairs
    assert not any(c == 3 for _, c in want)  # one batch later: lost


def test_interval_join_shifted_click_eviction(spark, tmp_path):
    got = _run_join_stream(spark, tmp_path, _JOIN_SHIFTED_FIXTURE)
    want = _simulate_interval_join(_JOIN_SHIFTED_FIXTURE)
    assert got == want
    assert (1, 2) in want  # click alive while c_ts + interval >= wm


_JOIN_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=240),  # minutes
        st.booleans(),  # purchase?
        st.integers(min_value=1, max_value=2),  # user
    ),
    min_size=1,
    max_size=4,
)
_JOIN_BATCHES = st.lists(_JOIN_ROWS, min_size=2, max_size=5)


@given(shape=_JOIN_BATCHES)
@settings(max_examples=3, deadline=None)
def test_interval_join_late_contract_holds_on_random_batches(
    spark, tmp_path_factory, shape
):
    base = _D(2024, 3, 1, 8, 0, 17)
    eid = 0
    batches = []
    for rows in shape:
        batch = []
        for m, is_p, u in rows:
            eid += 1
            batch.append(
                (
                    eid,
                    base + dt.timedelta(minutes=m),
                    _P if is_p else _C,
                    u,
                )
            )
        batches.append(batch)
    got = _run_join_stream(
        spark, tmp_path_factory.mktemp("joinp"), batches,
        watermark="1811 seconds",  # :06 vs :17 — no boundary ties
    )
    want = _simulate_interval_join(
        batches, delay=dt.timedelta(seconds=1811)
    )
    assert got == want


# ---------------------------------------------------------------------------
# COMPOSED unikeys x late-data (VERDICT r11 #8): every key distinct (one
# state row per key — the opposite pole from the capped-hotkey case) with
# out-of-order arrival beyond the watermark. This probe caught a real
# divergence: the custom applyInPandasWithState sessionizer used STRICT
# closure (end < wm) while the built-in session_window emits INCLUSIVE
# (end <= wm) — a session whose end ties the terminal watermark was
# withheld by one and emitted by the other. Fixed in stateful.py (r12);
# this test pins the built-in against the simulator AND the custom
# operator against the built-in on the composed shape.
# ---------------------------------------------------------------------------


def _unikeys_batches():
    eid = 0

    def rows(users, t0):
        nonlocal eid
        out = []
        for i, u in enumerate(users):
            eid += 1
            out.append((eid, t0 + dt.timedelta(minutes=i), float(u), u))
        return out

    return [
        rows(range(1, 41), _D(2024, 1, 1, 10, 0)),
        # user 70's session ends 12:39 — exactly the terminal watermark
        # (13:09 - 30m): the inclusive-closure tie the probe caught
        rows(range(41, 81), _D(2024, 1, 1, 12, 0)),
        (
            rows(range(81, 101), _D(2024, 1, 1, 11, 50))
            # ts+gap in (10:10..10:19] > wm_late 10:09: admitted late
            + rows(range(101, 106), _D(2024, 1, 1, 10, 10))
            # ts+gap in (9:40..9:49] <= 10:09: dropped
            + rows(range(106, 111), _D(2024, 1, 1, 9, 30))
        ),
        rows(range(111, 121), _D(2024, 1, 1, 13, 0)),
    ]


def test_unikeys_late_data_builtin_matches_simulator(spark, tmp_path):
    batches = _unikeys_batches()
    got = _run_session_stream(spark, tmp_path, batches)
    want = {
        k: (len(evs), float(sum(v for _, v in evs)))
        for k, evs in _simulate_session(batches).items()
    }
    assert got == want
    users = {u for u, _, _ in want}
    assert all(n == 1 for n, _ in want.values())  # unikeys: no merges
    assert set(range(101, 106)) <= users  # late-but-admitted rows landed
    assert not (set(range(106, 111)) & users)  # beyond-late rows dropped
    # the boundary tie: user 70's session end == terminal watermark
    assert (70, _D(2024, 1, 1, 12, 29), _D(2024, 1, 1, 12, 39)) in want


def test_unikeys_late_data_custom_sessionizer_matches_builtin(
    spark, tmp_path
):
    import pandas as pd

    from pyspark.sql import functions as F  # noqa: F401

    from datapipeline_gcp_spark.streaming.stateful import (
        streaming_sessionize_stateful,
    )

    batches = _unikeys_batches()
    got_builtin = _run_session_stream(spark, tmp_path / "bi", batches)

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "cu" / "ev"
    os.makedirs(src)
    now = time.time()
    for i, batch in enumerate(batches):
        tbl = pa.table(
            {
                "event_id": pa.array([e for e, _, _, _ in batch], pa.int64()),
                "ts": pa.array(
                    [ts for _, ts, _, _ in batch], pa.timestamp("us", tz="UTC")
                ),
                "user_id": pa.array([u for _, _, _, u in batch], pa.int64()),
                "event_type": pa.array(["click"] * len(batch), pa.string()),
                "value": pa.array([v for _, _, v, _ in batch], pa.float64()),
            }
        )
        part = str(src / f"b{i}.parquet")
        pq.write_table(tbl, part)
        os.utime(part, (now + i, now + i))
    emissions = []
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select("user_id", "ts", "value")
    )
    q = (
        streaming_sessionize_stateful(
            stream, gap="10 minutes", watermark="30 minutes"
        )
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: emissions.append(df.toPandas()))
        .option("checkpointLocation", str(tmp_path / "cu" / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = (
        pd.concat([e for e in emissions if len(e)])
        if any(len(e) for e in emissions)
        else pd.DataFrame(
            columns=[
                "user_id", "session_start", "session_end", "n_events",
                "total_value",
            ]
        )
    )
    got_custom = {
        (
            r.user_id,
            r.session_start.to_pydatetime(),
            r.session_end.to_pydatetime(),
        ): (r.n_events, r.total_value)
        for r in out.itertuples(index=False)
    }
    assert got_custom == got_builtin  # incl. the end==wm tie (user 70)

# ---------------------------------------------------------------------------
# dst × late-data composition (VERDICT r12 #8): late rows arriving ACROSS
# a DST transition while the SESSION renders timestamps in the DST zone.
# The engine's watermark/window arithmetic must be EVENT-TIME (epoch),
# never wall-clock: around fall-back, wall-clock differences understate
# physical time by an hour (the 01:00-02:00 local hour repeats), so a
# wall-clock implementation would mis-drop/mis-keep rows near the horizon
# and mis-close the windows spanning the repeated hour. Comparison is in
# epoch seconds on both sides — rendering differences are out of scope.
# ---------------------------------------------------------------------------

import pytest  # noqa: E402


@pytest.mark.parametrize(
    "base",
    [
        # fall-back: America/New_York repeats 01:00-02:00 local on
        # 2024-11-03 (transition instant 06:00 UTC) — pattern spans
        # 03:10..08:30 UTC, late rows cross the repeated hour
        _D(2024, 11, 3, 3, 0, 17),
        # spring-forward: 02:00-03:00 local skipped on 2024-03-10
        # (transition 07:00 UTC) — pattern spans 04:10..09:30 UTC
        _D(2024, 3, 10, 4, 0, 17),
    ],
    ids=["fall_back", "spring_forward"],
)
def test_late_data_across_dst_transition_epoch_semantics(
    spark, tmp_path, base
):
    """Same contract shape as the pinned tumbling fixture, shifted onto
    a DST transition and run with the session timezone set to the DST
    zone itself: emitted windows must equal the epoch-arithmetic
    simulator exactly (late row absorbed in its eviction batch, evicted
    window never re-emits, final flush closes what the terminal
    watermark passed) — on the SAME instants, an engine doing any
    wall-clock arithmetic diverges by the transition hour."""
    minute_pattern = [
        [(1, 10, 1.0), (2, 50, 2.0)],
        [(3, 130, 4.0), (4, 170, 8.0)],
        [(5, 30, 16.0), (6, 135, 32.0)],  # same-batch-as-eviction late
        [(7, 220, 64.0)],
        [(8, 35, 100.0)],                 # already-evicted -> dropped
        [(9, 330, 200.0)],                # terminal watermark advance
    ]
    batches = [
        [(eid, base + dt.timedelta(minutes=m), v) for eid, m, v in b]
        for b in minute_pattern
    ]
    tz_key = "spark.sql.session.timeZone"
    saved = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "America/New_York")
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql import functions as F

        src = tmp_path / "ev"
        os.makedirs(src)
        now = time.time()
        for i, batch in enumerate(batches):
            tbl = pa.table(
                {
                    "event_id": pa.array([e for e, _, _ in batch], pa.int64()),
                    "ts": pa.array(
                        [ts for _, ts, _ in batch],
                        pa.timestamp("us", tz="UTC"),
                    ),
                    "user_id": pa.array(
                        [100 + e for e, _, _ in batch], pa.int64()
                    ),
                    "event_type": pa.array(["click"] * len(batch), pa.string()),
                    "value": pa.array([v for _, _, v in batch], pa.float64()),
                }
            )
            part = str(src / f"b{i}.parquet")
            pq.write_table(tbl, part)
            os.utime(part, (now + i, now + i))
        stream = (
            spark.readStream.schema(_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .withWatermark("ts", "30 minutes")
        )
        name = f"late_dst_{base:%m%d}"
        run_to_memory_sink(
            spark, tumbling_agg(stream), name, str(tmp_path / "ckpt")
        )
        rows = (
            spark.table(name)
            .select(
                F.col("window_start").cast("long").alias("ws_epoch"),
                "n_events",
                "total_value",
            )
            .collect()
        )
    finally:
        spark.conf.set(tz_key, saved)
    got = {r.ws_epoch: (r.n_events, r.total_value) for r in rows}
    assert len(rows) == len(got)  # append-mode: no window emitted twice
    want = {
        int(ws.replace(tzinfo=dt.timezone.utc).timestamp()): (
            len(evs),
            float(sum(v for _, v in evs)),
        )
        for ws, evs in _simulate(batches).items()
    }
    assert got == want
    # the simulator must predict the SAME shape as the non-DST pinned
    # fixture (instants shifted, arithmetic identical): three windows,
    # late row 5 absorbed, row 8 dropped, terminal flush closes +3h
    assert sorted((n, t) for n, t in want.values()) == [
        (1, 64.0), (3, 19.0), (3, 44.0),
    ]
