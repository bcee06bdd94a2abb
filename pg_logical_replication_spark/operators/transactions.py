"""Transaction framing: attach xid / commit_ts to DML rows by wire order.

The reference's stream is transactionally framed — every committed txn
arrives as ``begin → changes* → commit`` (asserted at
``decoder-pgoutput.spec.ts:260-272``); pgoutput carries xid only on Begin
and test_decoding only on BEGIN/COMMIT lines, so DML rows inherit their
transaction from position. Frames are contiguous in wire order, so every
operator here asks one question of each row: which is the NEWEST frame
marker (a ``begin``, a two-phase frame control, a stream start/stop) at
or before it? That rule is written once, :func:`_frame`, and each
operator calls it once.

Scale — :func:`_frame` keeps two physical shapes behind one signature
(VERDICT r5 #6):

* **Default (bounded chunk)**: markers are one row per transaction or
  segment (orders of magnitude smaller than the stream), and the
  ``lead()`` window runs over markers only — never a global sort of the
  full stream. The interval join is NON-equi, so the marker side is
  explicitly broadcast; the operators' contract is therefore that the
  processed chunk's frame set fits executor memory — the same way
  ``logical_decoding_work_mem`` bounds the server side (reference
  ``postgresql-16.conf:145``). The streaming path frames per
  micro-batch, which satisfies this by construction.

* **``partition_col=`` (unbounded backfill)**: pass a column that is
  MONOTONE in wire order and partitions the stream (the frame-log
  segment index — the same key ``reassemble_json_documents`` windows
  on). Frame attribution becomes a per-partition fill-forward window
  plus an EXACT cross-partition carry (per-partition last-marker
  summary → one window over the partition-count-sized table → carry-in
  broadcast — the census shape). Nothing serializes on one lead over all
  markers and nothing txn-count-sized is forced into executor memory: a
  100 TB WAL backfill frames segment-parallel. Only the caller knows
  which column is monotone in wire order, hence the parameter.

:func:`_small` is the matching join policy for the per-transaction side
tables (fates, commit timestamps, origins): broadcast in the default
shape; with ``partition_col`` no hint, so Catalyst shuffle-joins them
co-partitioned by xid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _fill_forward_markers(
    events: DataFrame,
    marker_pred: Column,
    cols: dict[str, Column],
    seq_col: str,
    partition_col: str,
) -> DataFrame:
    """:func:`_frame`'s backfill shape: fill-forward per
    ``partition_col``, with exact carry across partitions. Requires
    ``partition_col`` ascending to agree with ``seq_col`` ascending
    across partitions (frame-log segment indexes do).

    One window per partition (scales with partition size, runs
    everywhere in parallel); the carry table is one row per partition
    value — its single-partition window is bounded by partition COUNT,
    not data (the token-budget census argument), and joins back as a
    broadcast.
    """
    part = F.col(partition_col)
    w = (
        Window.partitionBy(partition_col)
        .orderBy(seq_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marker = F.struct(*[e.alias(n) for n, e in cols.items()])
    filled = events.withColumn(
        "_mk_local", F.last(F.when(marker_pred, marker), ignorenulls=True).over(w)
    )

    # carry-in: the last marker of the nearest EARLIER partition that
    # has one. Built over distinct partition values so marker-less
    # partitions inherit through.
    parts = events.select(part.alias("_p")).distinct()
    summ = events.filter(marker_pred).groupBy(part.alias("_p")).agg(
        F.max_by(marker, F.col(seq_col)).alias("_m")
    )
    w_carry = Window.orderBy("_p").rowsBetween(Window.unboundedPreceding, -1)
    carry = (
        parts.join(summ, "_p", "left")
        .withColumn("_mk_carry", F.last("_m", ignorenulls=True).over(w_carry))
        .select("_p", "_mk_carry")
    )
    out = filled.join(
        F.broadcast(carry), part == F.col("_p"), "left"
    ).withColumn("_mk", F.coalesce("_mk_local", "_mk_carry"))
    for n in cols:
        out = out.withColumn(n, F.col("_mk").getField(n))
    return out.drop("_p", "_mk_local", "_mk_carry", "_mk")


def _frame(
    events: DataFrame,
    marker_pred: Column,
    cols: dict[str, Column],
    seq_col: str,
    partition_col: str | None,
) -> DataFrame:
    """Every row of ``events`` plus ``cols`` evaluated on the NEWEST
    marker row (``marker_pred``) at or before it in wire order; null
    where no marker precedes it. A marker row frames itself.

    Without ``partition_col``: ``lead()`` over the markers only, then a
    broadcast non-equi left join of the stream against the resulting
    ``[seq, next seq)`` intervals. With it: the per-partition
    fill-forward of :func:`_fill_forward_markers`.
    """
    if partition_col is not None:
        return _fill_forward_markers(
            events, marker_pred, cols, seq_col, partition_col
        )
    markers = (
        events.filter(marker_pred)
        .select(
            F.col(seq_col).alias("_fseq"),
            *[e.alias(n) for n, e in cols.items()],
        )
        .withColumn("_next_fseq", F.lead("_fseq").over(Window.orderBy("_fseq")))
    )
    seq = events[seq_col]  # disambiguate: markers derive from events
    return events.join(
        F.broadcast(markers),
        (seq >= markers["_fseq"])
        & (markers["_next_fseq"].isNull() | (seq < markers["_next_fseq"])),
        "left",
    ).drop("_fseq", "_next_fseq")


def _small(side: DataFrame, partition_col: str | None) -> DataFrame:
    """Join policy for a per-transaction side table: broadcast in the
    default shape; unhinted with ``partition_col``, where the table is
    txn-count-sized on an unbounded backfill and shuffle-joins
    co-partitioned by xid instead."""
    return side if partition_col is not None else F.broadcast(side)


def assign_transactions(
    events: DataFrame,
    seq_col: str = "seq",
    attach_xid: bool = True,
    attach_ts: bool = True,
    partition_col: str | None = None,
) -> DataFrame:
    """Fill xid and commit_ts on every row from its enclosing transaction.

    commit_ts is taken from whichever marker carries it: pgoutput puts the
    commit timestamp on Begin AND Commit (``pgoutput-parser.ts:54-73``),
    test_decoding only on COMMIT (``decoder.ts:17`` grammar trx_commit).

    ``attach_xid=False`` / ``attach_ts=False`` suppress the field in the
    OUTPUT (framing still runs internally — the ts fill joins by xid) —
    the consumer side of test_decoding's include-xids/include-timestamp
    option pushdown. Both off skips the framing joins entirely.

    ``partition_col`` switches to the segment-parallel backfill shape
    (module docstring) — transactions MAY span partition boundaries.
    """
    if not attach_xid and not attach_ts:
        return events.withColumn("xid", F.lit(None).cast("long")).withColumn(
            "commit_ts", F.lit(None).cast("timestamp")
        )
    framed = (
        _frame(
            events,
            F.col("op") == "begin",
            {"_bxid": F.col("xid"), "_bts": F.col("commit_ts")},
            seq_col,
            partition_col,
        )
        .withColumn("xid", F.coalesce("xid", "_bxid"))
        .withColumn("commit_ts", F.coalesce("commit_ts", "_bts"))
        .drop("_bxid", "_bts")
    )
    # commit-side timestamps (test_decoding): one row per xid
    commits = (
        framed.filter(
            (F.col("op") == "commit")
            & F.col("xid").isNotNull()
            & F.col("commit_ts").isNotNull()
        )
        .select(F.col("xid").alias("_cxid"), F.col("commit_ts").alias("_cts"))
        .dropDuplicates(["_cxid"])
    )
    out = (
        framed.join(
            _small(commits, partition_col),
            framed["xid"] == commits["_cxid"],
            "left",
        )
        .withColumn("commit_ts", F.coalesce("commit_ts", "_cts"))
        .drop("_cxid", "_cts")
    )
    if not attach_xid:
        out = out.withColumn("xid", F.lit(None).cast("long"))
    if not attach_ts:
        out = out.withColumn("commit_ts", F.lit(None).cast("timestamp"))
    return out


def filter_by_origin(
    events: DataFrame,
    seq_col: str = "seq",
    filter_origins: list[str] | None = None,
    keep_local: bool = True,
    partition_col: str | None = None,
) -> DataFrame:
    """Drop transactions by replication origin — loop prevention.

    pgoutput emits an ``origin`` message ('O', decoded by
    sources/pgoutput_format.py) inside a transaction's frame when its
    changes were themselves replicated from another node; wal2json
    exposes the same server-side as ``filter-origins`` (reference
    ``wal2json-plugin-options.type.ts:83-119``, engine-side for wal2json
    in ``decode_wal2json(filter_origins=...)``). This gives pgoutput the
    equivalent: the origin marker is attributed to its enclosing
    transaction positionally (the newest ``begin`` at-or-before it in
    wire order), and every change of that transaction is dropped when

    * its origin is in ``filter_origins``, or
    * ``filter_origins`` is None and ``keep_local`` (default): ANY
      foreign origin drops — the bidirectional-replication loop guard.

    Local transactions (no origin message) always pass. Origin marker
    rows are consumed. One framing pass attributes origin and data rows
    alike; the per-transaction origin set joins back by :func:`_small`.
    """
    if filter_origins is None and not keep_local:
        # dropping every foreign origin AND local traffic keeps nothing
        raise ValueError("filter_origins=None requires keep_local=True")
    tagged = _frame(
        events,
        F.col("op") == "begin",
        {"_bseq": F.col(seq_col)},
        seq_col,
        partition_col,
    )
    txn_origin = (
        tagged.filter(F.col("op") == "origin")
        .select(
            F.col("_bseq").alias("_obseq"),
            F.col("meta").getItem("origin").alias("_origin"),
        )
        .dropDuplicates(["_obseq"])
    )
    if filter_origins is not None:
        drop_set = txn_origin.filter(F.col("_origin").isin(list(filter_origins)))
    else:
        drop_set = txn_origin

    out = (
        tagged.filter(F.col("op") != "origin")
        .join(
            _small(drop_set, partition_col),
            F.col("_bseq") == F.col("_obseq"),
            "left",
        )
        .filter(F.col("_obseq").isNull())
        .drop("_obseq", "_origin")
    )
    if not keep_local:
        # keep ONLY origin-attributed transactions: local (originless)
        # rows drop too (previously silently ignored; review r2)
        has_origin = txn_origin.select(F.col("_obseq").alias("_aseq"))
        out = (
            out.join(
                _small(has_origin, partition_col),
                F.col("_bseq") == F.col("_aseq"),
                "left",
            )
            .filter(F.col("_aseq").isNotNull())
            .drop("_aseq")
        )
    return out.drop("_bseq")


def resolve_prepared(
    events: DataFrame,
    seq_col: str = "seq",
    partition_col: str | None = None,
) -> DataFrame:
    """Gate two-phase-commit transactions on their prepared fate.

    With the ``two_phase`` slot option (PG 15+, public spec) a prepared
    transaction arrives framed ``begin_prepare → changes* → prepare`` and
    its fate follows LATER as ``commit_prepared`` or
    ``rollback_prepared`` (decoded by sources/pgoutput_format.py; the
    reference's v1-only parser predates the option). This operator:

    * attributes changes to their prepared frame positionally (newest
      frame control at-or-before the row's wire position is a
      ``begin_prepare``); plain ``begin``/``commit`` markers close
      frames too, so interleaved v1 traffic never mis-tags;
    * keeps a prepared transaction's changes only once its
      ``commit_prepared`` arrived, dropping ``rollback_prepared`` ones —
      2PC's rollback invisibility;
    * stamps kept rows with the frame's xid, the commit_prepared
      timestamp, and the transaction's ``gid`` (the 2PC handle);
    * passes non-2PC rows through untouched (``gid`` null);
    * consumes ONLY fates whose xid matches a ``begin_prepare`` frame —
      ``commit_prepared``/``rollback_prepared`` rows for transactions
      whose changes arrived some other way (streamed-2PC segments) pass
      through for ``resolve_streamed`` to gate, so the two operators
      chain in either order on a mixed stream.

    Scale: frame/fate sets are rows-per-transaction (:func:`_small`);
    the change stream is never sorted or shuffled in the default shape.
    """
    is_fate = F.col("op").isin("commit_prepared", "rollback_prepared")
    frame_xids = (
        events.filter(F.col("op") == "begin_prepare")
        .select(F.col("xid").alias("_px"))
        .distinct()
    )
    fates = events.filter(is_fate)
    # fates with no begin_prepare frame here belong to another resolver
    # (streamed 2PC) — emit them unchanged instead of swallowing them
    foreign_fates = fates.join(
        _small(frame_xids, partition_col),
        fates["xid"] == F.col("_px"),
        "left_anti",
    )

    commits = (
        events.filter(F.col("op") == "commit_prepared")
        .select(F.col("xid").alias("_k_xid"), F.col("commit_ts").alias("_k_ts"))
        .dropDuplicates(["_k_xid"])
    )
    rollbacks = (
        events.filter(F.col("op") == "rollback_prepared")
        .select(F.col("xid").alias("_r_xid"))
        .distinct()
    )

    # plain begin/commit markers act as frame-closers but remain data
    # (downstream framing may still need them); only the 2PC frame and
    # fate rows are consumed
    tagged = (
        _frame(
            events,
            F.col("op").isin("begin_prepare", "prepare", "begin", "commit"),
            {
                "_open": F.col("op") == "begin_prepare",
                "_fxid": F.col("xid"),
                "_fgid": F.col("meta").getItem("gid"),
            },
            seq_col,
            partition_col,
        )
        .filter(~F.col("op").isin("begin_prepare", "prepare") & ~is_fate)
        .withColumn("_prepared", F.coalesce(F.col("_open"), F.lit(False)))
        .drop("_open")
    )
    resolved = (
        tagged.join(
            _small(commits, partition_col), F.col("_fxid") == F.col("_k_xid"), "left"
        )
        .join(
            _small(rollbacks, partition_col),
            F.col("_fxid") == F.col("_r_xid"),
            "left",
        )
        .filter(
            ~F.col("_prepared")
            | (F.col("_k_xid").isNotNull() & F.col("_r_xid").isNull())
        )
        .withColumn(
            "xid",
            F.when(F.col("_prepared"), F.coalesce(F.col("xid"), F.col("_fxid")))
            .otherwise(F.col("xid")),
        )
        .withColumn(
            "commit_ts",
            F.when(
                F.col("_prepared"), F.coalesce(F.col("commit_ts"), F.col("_k_ts"))
            ).otherwise(F.col("commit_ts")),
        )
        .withColumn("gid", F.when(F.col("_prepared"), F.col("_fgid")))
        .drop("_fxid", "_fgid", "_k_xid", "_k_ts", "_r_xid", "_prepared")
    )
    return resolved.unionByName(
        foreign_fates.withColumn("gid", F.lit(None).cast("string"))
    )


def resolve_streamed(
    events: DataFrame,
    seq_col: str = "seq",
    partition_col: str | None = None,
) -> DataFrame:
    """Commit-gate pgoutput protocol-v2 streamed transactions.

    Input: decoded ChangeEvent rows including the v2 stream control ops
    (``stream_start``/``stream_stop``/``stream_commit``/``stream_abort``,
    sources/pgoutput_format.py). Streamed changes are *in-progress* —
    PG ships them before the transaction's fate is known (that is the
    whole point: transactions larger than logical_decoding_work_mem
    stream instead of spooling server-side). This operator applies the
    fate after the fact:

    * a change is *streamed* iff the newest control row at-or-before its
      wire position is a ``stream_start`` (segments are [start, stop)
      intervals in wire order);
    * its top-level xid is that segment's xid — the per-message spliced
      xid may be a subtransaction xid;
    * streamed changes survive only if their top xid has a
      ``stream_commit``, minus subtransactions dropped by a
      ``stream_abort`` (subxid ≠ xid) and whole transactions dropped by
      a top-level abort (subxid = xid) — the streamed twin of the
      reference's rollback-invisibility guarantee
      (decoder-pgoutput.spec.ts:235-274);
    * committed streamed changes inherit ``commit_ts`` from their
      ``stream_commit``; non-streamed rows pass through untouched;
    * ``commit_prepared``/``rollback_prepared`` fates whose xid never
      appeared in a stream control row belong to PLAIN (non-streamed)
      two-phase transactions — they pass through unconsumed so a
      chained :func:`resolve_prepared` can gate those frames (either
      chaining order works; see :func:`resolve_transactions`).

    Output: the data rows (control rows consumed) plus a ``top_xid``
    column. Scale: control/commit/abort sets are one-or-two rows per
    *segment/transaction* — orders of magnitude smaller than the change
    stream — so every side table joins by :func:`_small`.
    """
    is_ctrl = F.col("op").isin("stream_start", "stream_stop")
    # stream_prepare is informational here: the decisive fate for a
    # streamed two-phase txn is the later commit_prepared / rollback_
    # prepared (same xid), folded into commits / top-aborts below
    is_fate = F.col("op").isin(
        "stream_commit", "stream_abort", "stream_prepare",
        "commit_prepared", "rollback_prepared",
    )

    commits = (
        events.filter(F.col("op").isin("stream_commit", "commit_prepared"))
        .select(F.col("xid").alias("_cm_xid"), F.col("commit_ts").alias("_cm_ts"))
        .dropDuplicates(["_cm_xid"])
    )
    abort_sub = F.col("meta").getItem("subxid").cast("long")
    aborts = events.filter(F.col("op") == "stream_abort").select(
        F.col("xid").alias("_ab_xid"), abort_sub.alias("_ab_subxid")
    )
    top_aborts = (
        aborts.filter(F.col("_ab_subxid") == F.col("_ab_xid"))
        .select("_ab_xid")
        .unionByName(
            events.filter(F.col("op") == "rollback_prepared")
            .select(F.col("xid").alias("_ab_xid"))
        )
        .distinct()
    )
    sub_aborts = (
        aborts.filter(F.col("_ab_subxid") != F.col("_ab_xid"))
        .select("_ab_subxid").distinct()
    )

    # prepared fates for xids never seen in a stream segment are plain
    # 2PC traffic — resolve_prepared's job, not ours; pass them through
    stream_xids = (
        events.filter(
            is_ctrl
            | F.col("op").isin("stream_commit", "stream_abort", "stream_prepare")
        )
        .select(F.col("xid").alias("_sx"))
        .distinct()
    )
    prep_fates = events.filter(
        F.col("op").isin("commit_prepared", "rollback_prepared")
    )
    foreign_fates = prep_fates.join(
        _small(stream_xids, partition_col),
        prep_fates["xid"] == F.col("_sx"),
        "left_anti",
    ).withColumn("top_xid", F.col("xid"))

    tagged = (
        _frame(
            events,
            is_ctrl,
            {"_in_stream": F.col("op") == "stream_start", "_top": F.col("xid")},
            seq_col,
            partition_col,
        )
        .filter(~is_ctrl & ~is_fate)
        .withColumn("_streamed", F.coalesce(F.col("_in_stream"), F.lit(False)))
        .withColumn(
            "top_xid",
            F.when(F.col("_streamed"), F.col("_top")).otherwise(F.col("xid")),
        )
        .drop("_in_stream", "_top")
    )
    resolved = (
        tagged.join(
            _small(commits, partition_col),
            F.col("top_xid") == F.col("_cm_xid"),
            "left",
        )
        .join(
            _small(top_aborts, partition_col),
            F.col("top_xid") == F.col("_ab_xid"),
            "left",
        )
        .join(
            _small(sub_aborts, partition_col),
            F.col("xid") == F.col("_ab_subxid"),
            "left",
        )
        .filter(
            ~F.col("_streamed")
            | (
                F.col("_cm_xid").isNotNull()
                & F.col("_ab_xid").isNull()
                & F.col("_ab_subxid").isNull()
            )
        )
        .withColumn(
            "commit_ts",
            F.when(
                F.col("_streamed"), F.coalesce(F.col("commit_ts"), F.col("_cm_ts"))
            ).otherwise(F.col("commit_ts")),
        )
        .drop("_cm_xid", "_cm_ts", "_ab_xid", "_ab_subxid", "_streamed")
    )
    return resolved.unionByName(foreign_fates)


def resolve_transactions(
    events: DataFrame,
    seq_col: str = "seq",
    partition_col: str | None = None,
) -> DataFrame:
    """Gate a mixed stream: streamed (protocol v2) AND plain two-phase.

    Chains :func:`resolve_streamed` → :func:`resolve_prepared`. Each
    consumes only the ``commit_prepared``/``rollback_prepared`` fates it
    owns (streamed-segment xids vs ``begin_prepare``-frame xids) and
    passes the rest through, so the composition gates both transaction
    shapes on one stream — the chaining order is actually commutative,
    this one consumes stream control rows first so the prepared framing
    sees a clean v1-plus-2PC stream. ``partition_col`` threads the
    segment-parallel backfill shape through both stages.
    """
    return resolve_prepared(
        resolve_streamed(events, seq_col, partition_col=partition_col),
        seq_col,
        partition_col=partition_col,
    )
