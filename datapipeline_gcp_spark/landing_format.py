"""The landing-file contract: one definition of each landing format.

Landing files are written by ``generators.write_landing_file`` and read
by two paths, the DAG's batch loads (``readers.read_landing``) and the
event path's streams (``streaming.ingest.stream_landing_table`` and the
e2e gates' quarantine and docs streams). :data:`FORMATS` is the contract
between them: each format's Spark source and its read and write options,
parse mode included. Every landing reader and writer goes through
:func:`with_format`, so the batch and the event path parse a file the
same way, and a value the DAG load rejects is rejected by the stream
too (``mode=FAILFAST``: a malformed field fails the load, and on the
event path its micro-batch, instead of landing NULL).

Text formats (``csv`` with a header row, ``txt`` tab-separated without
one). Spark's CSV defaults break the write-then-read round trip in two
silent ways (found by the r10 ``blanktext`` degenerate sweep):

- the *writer* trims leading/trailing whitespace
  (``ignoreLeadingWhiteSpace``/``ignoreTrailingWhiteSpace`` default
  TRUE on write), so ``"  word  "`` lands as ``word``;
- empty string and NULL collapse: the writer emits ``""`` for an empty
  string but the *reader*'s default ``nullValue=""`` maps it back to
  NULL, so ``""`` ingests as NULL.

So whitespace is preserved verbatim on write, and NULL is encoded as
the conventional ``\\N`` sentinel (Hive/MySQL-dump style) so the reader
can tell ``""`` (quoted empty field) from NULL (bare ``\\N``). The
reader's ``emptyValue=""`` keeps a quoted empty field an empty STRING,
and ``multiLine`` parses the quoted embedded newlines the writer emits
(the default line-splitting reader would shear the record). Scale note:
multiLine disables intra-file line-split parallelism — acceptable for
landing objects (one small file per bus event, read many-files-
parallel); bulk data enters via parquet, which needs none of this.
Timestamps are written and parsed with one text pattern,
:data:`TIMESTAMP_PATTERN`.

Documented limitation (inherent to ANY sentinel encoding): a literal
string value ``\\N`` is written unquoted and ingests as NULL. Payloads
that may legitimately contain the sentinel belong in a typed format
(parquet landing shards), not CSV — same boundary as binary columns.
Parquet landing files carry types natively and need no options.
"""

from __future__ import annotations

from pyspark.sql import DataFrameWriter

#: NULL sentinel in text landing files — distinguishes NULL from "".
NULL_SENTINEL = "\\N"

#: Text pattern of every landing timestamp: the writer formats with it,
#: the readers parse with it.
TIMESTAMP_PATTERN = "yyyy-MM-dd HH:mm:ss"

_CSV = {"header": "true"}
_TSV = {"sep": "\t", "header": "false"}
#: Read options that pair with this repo's writer only: the \\N/""
#: sentinels and the multiLine parse of the quoted newlines it writes.
_TEXT_READ = {"nullValue": NULL_SENTINEL, "emptyValue": "", "multiLine": "true"}
#: Read options for every text landing file, whoever wrote it.
_TEXT_PARSE = {"timestampFormat": TIMESTAMP_PATTERN, "mode": "FAILFAST"}
_TEXT_WRITE = {
    "timestampFormat": TIMESTAMP_PATTERN,
    "ignoreLeadingWhiteSpace": "false",
    "ignoreTrailingWhiteSpace": "false",
    "nullValue": NULL_SENTINEL,
}

#: Landing format → (Spark source, read options, write options).
FORMATS: dict[str, tuple[str, dict[str, str], dict[str, str]]] = {
    "csv": ("csv", {**_CSV, **_TEXT_PARSE, **_TEXT_READ}, {**_CSV, **_TEXT_WRITE}),
    "txt": ("csv", {**_TSV, **_TEXT_PARSE, **_TEXT_READ}, {**_TSV, **_TEXT_WRITE}),
    "parquet": ("parquet", {}, {}),
}

#: Read options for text files from FOREIGN writers (``external=True``),
#: in place of ``_TEXT_READ``. Only the \\N/"" sentinel conventions
#: conflict with other writers; ``multiLine`` does not — standard writers
#: (Python's ``csv.writer``, RFC 4180) legitimately quote embedded
#: newlines, and without it Spark shears such records mid-field (ADVICE
#: r11).
EXTERNAL_TEXT_READ_OPTS: dict[str, str] = {
    "multiLine": "true",
}


def with_format(rw, fmt: str, external: bool = False, external_multiline: bool = True):
    """Apply landing format *fmt* to a DataFrameReader, DataStreamReader
    or DataFrameWriter — all three share ``format()`` and ``option()``:
    its Spark source, then its write options on a writer and its read
    options on a reader. ``external=True`` reads a foreign writer's text
    file: ``EXTERNAL_TEXT_READ_OPTS`` (or none, with
    ``external_multiline=False``) replace the sentinel options."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported landing format: {fmt}")
    source, read, write = FORMATS[fmt]
    if isinstance(rw, DataFrameWriter):
        opts = write
    elif external and read:
        opts = {k: v for k, v in read.items() if k not in _TEXT_READ}
        if external_multiline:
            opts |= EXTERNAL_TEXT_READ_OPTS
    else:
        opts = read
    rw = rw.format(source)
    for k, v in opts.items():
        rw = rw.option(k, v)
    return rw
