"""Round-trip fidelity of text landing formats (landing_format.py).

The r10 `blanktext` degenerate sweep found Spark CSV defaults silently
corrupting landed values (writer-side whitespace trim; "" collapsing to
NULL on read; quoted embedded newlines sheared by the line-based
reader). These tests pin the contract on both read paths, the DAG's
batch load (read_landing) and the event path's stream
(stream_landing_table): write_landing_file → read is the identity on
string values, with the one documented exception (a literal ``\\N``
ingests as NULL — the sentinel collision inherent to any text NULL
encoding), and a malformed value fails both paths alike.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from datapipeline_gcp_spark.landing_format import NULL_SENTINEL
from datapipeline_gcp_spark.sources.generators import write_landing_file
from datapipeline_gcp_spark.sources.readers import read_landing
from datapipeline_gcp_spark.streaming.ingest import drain, stream_landing_table

_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("s", T.StringType()),
    ]
)

#: (value written, value expected back) — identity except the sentinel.
_CASES = [
    (1, "word", "word"),
    (2, "", ""),
    (3, "  word  ", "  word  "),
    (4, None, None),
    (5, "\t", "\t"),
    (6, "line\nbreak", "line\nbreak"),
    (7, 'quote " and, comma', 'quote " and, comma'),
    (8, NULL_SENTINEL, None),  # documented sentinel collision
]


def _stream_into(spark, tmp_path, table, fmt, schema, target):
    """Run one availableNow event-path stream over *tmp_path*'s landing
    files of *table* into the scratch table *target*, and drain it."""
    spark.sql(f"DROP TABLE IF EXISTS {target}")
    drain(
        stream_landing_table(
            spark, str(tmp_path), table, fmt, schema, target,
            f"{tmp_path}/archive", f"{tmp_path}/ckpt_{target}",
        )
    )
    return spark.table(target)


def _roundtrip(spark, tmp_path, fmt, path):
    df = spark.createDataFrame(
        [(i, v) for i, v, _ in _CASES], schema=_SCHEMA
    )
    write_landing_file(df, str(tmp_path), "rt", fmt, "20240101")
    if path == "batch":
        back = read_landing(spark, f"{tmp_path}/{fmt}/rt_*.{fmt}", _SCHEMA, fmt)
    else:
        back = _stream_into(spark, tmp_path, "rt", fmt, _SCHEMA, f"rt_stream_{fmt}")
    back = back.toPandas().set_index("id")["s"]
    assert len(back) == len(_CASES), (fmt, path, len(back))
    for i, _, want in _CASES:
        got = back[i]
        got = None if got is None or got != got else got
        assert got == want or (got is None and want is None), (
            fmt,
            path,
            i,
            repr(got),
            repr(want),
        )


def test_csv_landing_roundtrip_is_identity(spark, tmp_path):
    _roundtrip(spark, tmp_path, "csv", "batch")


def test_tsv_landing_roundtrip_is_identity(spark, tmp_path):
    _roundtrip(spark, tmp_path, "txt", "batch")


@pytest.mark.parametrize("fmt", ["csv", "txt"])
def test_stream_landing_roundtrip_is_identity(spark, tmp_path, fmt):
    _roundtrip(spark, tmp_path, fmt, "stream")


_COST_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("cost", T.DoubleType()),
    ]
)


@pytest.mark.parametrize("fmt", ["csv", "txt"])
def test_malformed_landing_value_fails_on_both_paths(spark, tmp_path, fmt):
    """A landed ``cost`` of ``abc`` fails the DAG load and the event
    path alike: the stream's micro-batch fails instead of appending the
    row with ``cost = NULL``, its file stays in landing and no row of it
    reaches the table."""
    landed = spark.createDataFrame([(1, "10.5"), (2, "abc")], "id long, cost string")
    write_landing_file(landed, str(tmp_path), "bad", fmt, "20240101")
    files = os.listdir(f"{tmp_path}/{fmt}")

    with pytest.raises(Exception, match="MALFORMED_RECORD_IN_PARSING"):
        read_landing(spark, f"{tmp_path}/{fmt}/bad_*.{fmt}", _COST_SCHEMA, fmt).collect()

    target = f"malformed_stream_{fmt}"
    with pytest.raises(Exception, match="MALFORMED_RECORD_IN_PARSING"):
        _stream_into(spark, tmp_path, "bad", fmt, _COST_SCHEMA, target)
    assert os.listdir(f"{tmp_path}/{fmt}") == files
    assert not os.path.isdir(f"{tmp_path}/archive") or not [
        f for f in os.listdir(f"{tmp_path}/archive") if f.startswith("bad_")
    ]
    assert not spark.catalog.tableExists(target) or spark.table(target).count() == 0


# --- property form: ARBITRARY text survives the landing round-trip ----------

from hypothesis import given, settings, strategies as st  # noqa: E402

#: printable+control+non-BMP text, excluding only what the contract
#: documents: the \N sentinel (collides by design), NUL (univocity's
#: C parser truncates at NUL — typed formats carry it), and lone
#: surrogates (not encodable to UTF-8 at all). \r is normalized to \n
#: by the multiLine parser's universal-newline handling — tested via
#: canonicalization below rather than excluded, as real corpora carry
#: CRLF.
_TEXT = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs",), blacklist_characters="\x00"
    ),
    max_size=40,
).filter(lambda s: s != NULL_SENTINEL)


def _canon_newlines(s):
    return None if s is None else s.replace("\r\n", "\n").replace("\r", "\n")


@given(vals=st.lists(st.one_of(st.none(), _TEXT), min_size=1, max_size=8))
@settings(max_examples=5, deadline=None)
def test_csv_roundtrip_property(spark, tmp_path_factory, vals):
    tmp = tmp_path_factory.mktemp("rtprop")
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], schema=_SCHEMA
    )
    write_landing_file(df, str(tmp), "rt", "csv", "20240101")
    back = (
        read_landing(spark, f"{tmp}/csv/rt_*.csv", _SCHEMA, "csv")
        .toPandas()
        .set_index("id")["s"]
    )
    for i, want in enumerate(vals):
        got = back.get(i)
        got = None if got is None or got != got else got
        assert _canon_newlines(got) == _canon_newlines(want), (
            i,
            repr(got),
            repr(want),
        )


# ---------------------------------------------------------------------------
# Foreign-writer CSVs (ADVICE r10): files produced by a plain csv.writer
# (the reference's own landing writer) encode NULL as a bare empty
# field. external=True reads them with standard CSV semantics — the
# default landing convention would ingest "" as a string and FAILFAST
# on empty typed fields.
# ---------------------------------------------------------------------------

_EXT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)


def test_external_csv_reads_plain_writer_output(spark, tmp_path):
    import csv

    path = tmp_path / "ext.csv"
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["id", "s", "n"])
        w.writerow([1, "word", 7])
        w.writerow([2, "", ""])  # csv.writer's None → empty field
        w.writerow([3, "x,y", 9])
    got = (
        read_landing(spark, str(path), _EXT_SCHEMA, "csv", external=True)
        .toPandas()
        .set_index("id")
    )
    assert got.loc[1, "s"] == "word" and got.loc[1, "n"] == 7
    # standard CSV: empty field is NULL for every type — no FAILFAST
    # on the empty LongType field, no "" string fabricated
    assert got.loc[2, "s"] is None or got.loc[2, "s"] != got.loc[2, "s"]
    assert got.loc[2, "n"] != got.loc[2, "n"] or got.loc[2, "n"] is None
    assert got.loc[3, "s"] == "x,y"


def test_external_csv_quoted_embedded_newline(spark, tmp_path):
    """ADVICE r11: RFC-4180 writers quote embedded newlines; external
    mode must keep multiLine so such records aren't sheared mid-field."""
    import csv

    path = tmp_path / "ext_nl.csv"
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["id", "s", "n"])
        w.writerow([1, "line one\nline two", 5])
        w.writerow([2, "plain", 6])
    got = (
        read_landing(spark, str(path), _EXT_SCHEMA, "csv", external=True)
        .toPandas()
        .set_index("id")
    )
    assert len(got) == 2
    assert _canon_newlines(got.loc[1, "s"]) == _canon_newlines(
        "line one\nline two"
    )
    assert got.loc[1, "n"] == 5 and got.loc[2, "s"] == "plain"


def test_external_csv_splittable_optout(spark, tmp_path):
    """external_multiline=False restores splittable parsing for bulk
    newline-free foreign files (multiLine costs one parse task per
    file); plain rows must read identically either way."""
    import csv

    path = tmp_path / "ext_bulk.csv"
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["id", "s", "n"])
        for i in range(5):
            w.writerow([i, f"w{i}", i * 10])
    got = (
        read_landing(
            spark, str(path), _EXT_SCHEMA, "csv", external=True,
            external_multiline=False,
        )
        .toPandas()
        .set_index("id")
        .sort_index()
    )
    assert list(got["s"]) == [f"w{i}" for i in range(5)]
    assert list(got["n"]) == [i * 10 for i in range(5)]
