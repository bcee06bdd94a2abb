"""Initial table bootstrap: COPY snapshot → typed DataFrame.

The reference streams changes only — a user switching a live table
needs the INITIAL state too, the way PostgreSQL's own ``CREATE
SUBSCRIPTION`` runs a table-sync COPY before applying the stream.
The flow (single replication connection, the consistency window the
protocol gives for free):

    t = WalsenderTransport(...)
    slot = t.create_replication_slot("s1", plugin="wal2json")
    rows = copy_out(t, "COPY public.users TO STDOUT")   # snapshot
    snap = snapshot_dataframe(spark, rows, {"id": "bigint", ...}, dir)
    t.start_replication("s1", slot["consistent_point"], ...)
    # stream events decode as usual; the current table is
    # apply_changes over snapshot-as-inserts UNION the stream
    # (see bootstrap_events)

Scale note: one COPY is one ordered connection — the snapshot
bandwidth ceiling is the socket, exactly like the reference's
consumers. The Spark side starts at the staging write: raw COPY text
lands in ``staging_dir`` untouched, and ALL parsing (tab split,
escape folding, NULLs, typing) runs declaratively over
``spark.read.text`` — whole-stage codegen, no Python per row.

COPY text format (postgresql.org/docs/current/sql-copy.html): one
line per row, real tab bytes ONLY as separators (tabs in data arrive
as the two-character sequence ``\\t``), ``\\N`` alone is NULL,
backslash escapes ``\\b \\f \\n \\r \\t \\v \\\\``. Octal/hex escapes
(``\\digits``) are not folded — a loud ``raise_error`` guards them
rather than silently corrupting a value.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_logical_replication_spark.sources.transport import (
    BOOTSTRAP_DONE_MARKER,
    write_frame,
)

#: placeholder for '\\' during escape folding: SOH never occurs in
#: COPY text output (control chars are escaped by the server)
_SOH = "\x01"

_ESCAPES = [
    ("\\\\b", "\b"),
    ("\\\\f", "\f"),
    ("\\\\n", "\n"),
    ("\\\\r", "\r"),
    ("\\\\t", "\t"),
    ("\\\\v", "\v"),
]


def _unescape(col):
    """Fold COPY text escapes, declaratively and order-correctly:
    ``\\\\`` is hidden behind a placeholder FIRST so ``\\\\n`` (a
    literal backslash + n) survives as ``\\n`` instead of becoming a
    newline, then the single-char escapes fold, then any REMAINING
    backslash (octal/hex escape or server/client mismatch) trips a
    loud error, then the placeholder unhides."""
    out = F.regexp_replace(col, "\\\\\\\\", _SOH)
    for pat, repl in _ESCAPES:
        out = F.regexp_replace(out, pat, repl)
    out = F.when(
        out.rlike("\\\\"),
        F.raise_error(
            F.concat(
                F.lit("bootstrap: unsupported COPY escape in field: "), out
            )
        ),
    ).otherwise(out)
    return F.regexp_replace(out, _SOH, "\\\\")


def snapshot_dataframe(
    spark: SparkSession,
    rows: list[bytes],
    columns: dict[str, str],
    staging_dir: str,
) -> DataFrame:
    """COPY text rows → typed snapshot DataFrame.

    ``columns`` maps column name → PG type name IN COPY COLUMN ORDER
    (the same shape ``apply_changes(columns=...)`` takes). The raw
    rows are staged to ``staging_dir`` verbatim and every downstream
    step is a Catalyst expression: split on the real-tab separator,
    ``\\N`` → NULL, escape folding, then ``pg_value`` typing — the
    identical text-format value domain the CDC decoders produce, so a
    snapshot column and a streamed column of the same PG type compare
    equal."""
    os.makedirs(staging_dir, exist_ok=True)
    with open(os.path.join(staging_dir, "snapshot.copy"), "wb") as f:
        for r in rows:
            f.write(r + b"\n")
    return parse_copy_lines(spark.read.text(staging_dir), columns)


def bootstrap_events(
    snapshot: DataFrame,
    table: str,
    lsn: str = "0/00000000",
) -> DataFrame:
    """Snapshot rows → synthetic 'insert' ChangeEvents at the slot's
    consistent point, unionable with the decoded stream so ONE
    ``apply_changes`` materializes initial state + changes (stream
    events carry later LSNs, so latest-image-per-key semantics give
    streamed updates precedence automatically)."""
    from pg_logical_replication_spark.model import lsn_to_long

    cols = snapshot.columns
    after = F.map_from_arrays(
        F.array(*[F.lit(c) for c in cols]),
        F.array(*[F.col(c).cast("string") for c in cols]),
    )
    return snapshot.select(
        F.lit("insert").alias("op"),
        F.lit(lsn).alias("lsn"),
        F.lit(None).cast("long").alias("xid"),
        F.lit(None).cast("timestamp").alias("commit_ts"),
        F.lit("public").alias("schema"),
        F.lit(table.split(".")[-1]).alias("table"),
        F.lit(None).cast("map<string,string>").alias("key"),
        F.lit(None).cast("map<string,string>").alias("before"),
        after.alias("after"),
        F.create_map(F.lit("origin"), F.lit("bootstrap")).alias("meta"),
        F.lit(lsn_to_long(lsn)).cast("long").alias("lsn_long"),
        F.monotonically_increasing_id().alias("seq"),
    )


def parse_copy_lines(
    lines: DataFrame, columns: dict[str, str], value_col: str = "value"
) -> DataFrame:
    """The Catalyst core of :func:`snapshot_dataframe`, usable on any
    DataFrame of COPY text lines (staged snapshot files, archived COPY
    dumps, synthetic fixtures): tab split → ``\\N`` NULL → escape fold
    → ``pg_value`` typing."""
    from pg_logical_replication_spark.functions import pg_value

    parts = F.split(F.col(value_col), "\t")
    out = []
    for i, (name, pg_type) in enumerate(columns.items()):
        field = parts.getItem(i)
        text = F.when(field == "\\N", F.lit(None)).otherwise(_unescape(field))
        out.append(pg_value(text, pg_type).alias(name))
    return lines.select(*out)


def to_copy_text(df: DataFrame, columns: list[str]) -> DataFrame:
    """Render rows INTO PostgreSQL COPY text format (one ``value``
    line per row) — the exact inverse of :func:`parse_copy_lines` and
    the payload for :func:`copy_in`-based bulk loads back into PG
    (``COPY ... FROM STDIN``). Escape order matters and mirrors the
    server: backslash doubles FIRST, then tab/newline/CR fold to their
    two-character escapes; NULL renders as ``\\N``. Pure codegen — the
    render happens executor-side, only the socket write is serial."""

    def esc(c):
        out = F.regexp_replace(F.col(c).cast("string"), "\\\\", "\\\\\\\\")
        for ch, rep in (("\t", "\\\\t"), ("\n", "\\\\n"), ("\r", "\\\\r")):
            out = F.regexp_replace(out, ch, rep)
        return F.coalesce(out, F.lit("\\N"))

    return df.select(
        F.concat_ws("\t", *[esc(c) for c in columns]).alias("value")
    )


def bootstrap_to_frame_log(
    snapshot: DataFrame,
    columns: dict[str, str],
    table: str,
    log_dir: str,
    lsn: str = "0/00000010",
) -> int:
    """Write the snapshot INTO the frame log as wal2json insert frames
    at the slot's consistent point — the STREAMING bootstrap: Spark
    cannot union a static snapshot into a running stream, but the
    frame log is an ordered medium, so snapshot rows land as ordinary
    'w' frames in segments named BEFORE the relay's ``000001.seg``
    (``000000.<part>.bootstrap.seg``) and one unmodified
    ``subscribe(source='frames')`` replays initial state then live
    changes, in order, through the same decode → apply path.

    The render is declarative (``to_json`` struct per row — zero
    Python in the row loop until the final file write); each Spark
    partition writes its own segment, so the write parallelizes across
    executors onto the shared log directory. Returns rows written.

    Crash safety (ADVICE r5): partitions write ``*.seg.tmp`` files,
    which no reader lists (``transport.list_segments`` skips ``*.tmp``
    and the marker); only after EVERY partition succeeds does the calling
    process rename them into place and drop the ``BOOTSTRAP_DONE_MARKER`` file.
    A crash mid-write therefore leaves no visible ``.seg`` and no
    marker — the next subscribe sees an incomplete load and re-runs it
    instead of silently streaming from partial initial state."""
    import struct

    from pg_logical_replication_spark.model import lsn_to_long

    names = list(columns)
    payload = F.to_json(
        F.struct(
            F.array(
                F.struct(
                    F.lit("insert").alias("kind"),
                    F.lit("public").alias("schema"),
                    F.lit(table.split(".")[-1]).alias("table"),
                    F.array(*[F.lit(c) for c in names]).alias("columnnames"),
                    F.array(*[F.lit(t) for t in columns.values()]).alias(
                        "columntypes"
                    ),
                    F.array(*[F.col(c).cast("string") for c in names]).alias(
                        "columnvalues"
                    ),
                )
            ).alias("change"),
            F.lit(lsn).alias("nextlsn"),
        )
    ).alias("value")
    rendered = snapshot.select(payload)
    lsn_long = lsn_to_long(lsn)
    # 'w' XLogData header: walStart = walEnd = the consistent point
    header = b"w" + struct.pack(">QQQ", lsn_long, lsn_long, 0)
    os.makedirs(log_dir, exist_ok=True)

    def write_part(idx, it):
        wrote = 0
        name = f"000000.{idx:05d}.bootstrap.seg"
        fh = None
        try:
            for row in it:
                if fh is None:  # no file for empty partitions
                    fh = open(os.path.join(log_dir, name + ".tmp"), "wb")
                write_frame(fh, header + row["value"].encode())
                wrote += 1
        finally:
            if fh is not None:
                fh.close()
        yield (name, wrote)

    parts = rendered.rdd.mapPartitionsWithIndex(write_part).collect()
    # every partition finished: publish atomically-per-file, then the
    # marker commits the load as a whole. A partition that reported
    # rows but whose tmp file the driver cannot see (non-shared
    # log_dir, attribute-cache lag) must FAIL the load — silently
    # skipping it and still writing the marker would commit a partial
    # snapshot as complete (round-6 review #2).
    total = 0
    for name, wrote in parts:
        tmp = os.path.join(log_dir, name + ".tmp")
        if wrote:
            if not os.path.exists(tmp):
                raise FileNotFoundError(
                    f"bootstrap_to_frame_log: partition segment {tmp} "
                    f"reported {wrote} rows but is not visible to the "
                    "driver — log_dir must be shared storage; refusing "
                    "to mark the load complete"
                )
            os.rename(tmp, os.path.join(log_dir, name))
        total += wrote
    with open(os.path.join(log_dir, BOOTSTRAP_DONE_MARKER), "w") as f:
        f.write(f"{total}\n")
    return total
