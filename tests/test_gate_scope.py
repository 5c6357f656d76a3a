"""``harness.gate_scope``: the one place a streaming gate sets the
session's shuffle partition count and gets its scratch root. Pins that
the scope restores the caller's count and removes its root, on a clean
exit, on an error, and around real gates of both families (the shared
``run_gate_query`` harness and the composed e2e ingest gates)."""

from __future__ import annotations

import os
import tempfile

import pytest

from datapipeline_gcp_spark.streaming.dedup import events_stream_dedup_gate
from datapipeline_gcp_spark.streaming.e2e import events_stream_e2e_ingest_gate
from datapipeline_gcp_spark.streaming.harness import (
    GATE_SHUFFLE_PARTITIONS,
    gate_scope,
)

from tests.conftest import SF_SMOKE

PARTS = "spark.sql.shuffle.partitions"
SENTINEL = "13"  # a count no gate or session default sets


@pytest.fixture
def sentinel_parts(spark):
    """Start the test at SENTINEL partitions; put the session's own
    count back afterwards whatever the test did."""
    original = spark.conf.get(PARTS)
    spark.conf.set(PARTS, SENTINEL)
    try:
        yield
    finally:
        spark.conf.set(PARTS, original)


def _gate_dirs() -> set[str]:
    # the base gate_scope picks: tmpfs when the host has it
    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    return {d for d in os.listdir(base) if d.startswith("gate_")}


def test_gate_scope_sets_and_restores(spark, sentinel_parts):
    with gate_scope(spark, "gate_test_") as root:
        assert spark.conf.get(PARTS) == GATE_SHUFFLE_PARTITIONS
        assert os.path.isdir(root)
        assert os.path.basename(root).startswith("gate_test_")
    assert spark.conf.get(PARTS) == SENTINEL
    assert not os.path.exists(root)


def test_gate_scope_restores_after_error(spark, sentinel_parts):
    with pytest.raises(RuntimeError, match="gate body failed"):
        with gate_scope(spark, "gate_test_") as root:
            open(os.path.join(root, "partial"), "w").close()
            raise RuntimeError("gate body failed")
    assert spark.conf.get(PARTS) == SENTINEL
    assert not os.path.exists(root)


@pytest.mark.parametrize(
    "gate",
    [events_stream_dedup_gate, events_stream_e2e_ingest_gate],
    ids=["harness", "e2e"],
)
def test_gates_leave_session_and_tmpfs_as_found(spark, sentinel_parts, gate):
    before = _gate_dirs()
    assert gate(spark, SF_SMOKE).count() > 0
    assert spark.conf.get(PARTS) == SENTINEL
    assert _gate_dirs() - before == set()
