"""Stateful streaming CDC operators — commit gating, TOAST fill and
chunked-JSON reassembly across micro-batches.

The reference's stream is transactionally framed and **rolled-back
transactions are never streamed at all** (asserted by the reference's
pgoutput spec, ``decoder-pgoutput.spec.ts:260-274``) — PostgreSQL only
decodes committed WAL. When the engine's *input* is a raw message log
where a transaction's changes may arrive in a different micro-batch than
its fate (or a crash leaves an unterminated transaction), that guarantee
has to be re-established engine-side, with per-key state.

Each operator is split into three parts, each written once:

* the **fold** (``streaming/folds.py``) — the per-key semantics as a
  pure function of (key, rows in wire order, state);
* the **input projection** (``fold_input`` and ``gate_frames`` here) —
  the columns and keys the fold sees;
* a **state adapter** per backend. This module's adapters run on
  ``applyInPandasWithState``: one opaque value per key, read and
  rewritten whole every micro-batch (lower per-batch constants).
  ``streaming/tws.py``'s adapters run the same folds on
  ``transformWithStateInPandas``, whose ListState buffer appends per
  batch and is read once, when the fold consumes it.

The operator builders (``_assemble``, ``_gated``, ``_reassemble``,
``_toast``) take the adapter as an argument, so the two backends agree
by construction; ``resolve_*_gate`` picks one by the measured crossover
``TXN_GATE_LISTSTATE_CROSSOVER_ROWS``.

Scale: state per in-flight transaction is bounded by that transaction's
size; PG's ``logical_decoding_work_mem`` (64 MB default, reference
``postgresql-16.conf:145``) bounds the server side the same way. Keys
(xids) hash-distribute across executors; a mega-transaction is one hot
key — the same constraint the reference has (single connection), minus
everything else running in parallel around it.
"""

from __future__ import annotations

from functools import partial

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pg_logical_replication_spark.streaming.folds import (
    FATE_OPS,
    OUT_COLUMNS,
    assemble_fold,
    gate_fold,
    reassemble_fold,
    records,
    toast_fold,
    wire_order,
)

TXN_OUTPUT_SCHEMA = (
    "op string, lsn string, lsn_long long, seq long, xid long, "
    "commit_ts timestamp, schema string, table string, "
    "key map<string,string>, before map<string,string>, "
    "after map<string,string>"
)
# the TOAST-fill output IS the ChangeEvent shape the txn gate emits —
# aliased, not restated, so a schema change can't desynchronize them
TOAST_OUTPUT_SCHEMA = TXN_OUTPUT_SCHEMA

_EVENT_COLUMNS = ["op", "lsn", "lsn_long", "xid", "commit_ts", "schema",
                  "table", "key", "before", "after"]


# ------------------------------------------------- applyInPandasWithState
def _timeout_conf(timeout_ms: int | None):
    from pyspark.sql.streaming.state import GroupStateTimeout

    if timeout_ms is None:
        return GroupStateTimeout.NoTimeout
    return GroupStateTimeout.ProcessingTimeTimeout


def aip_buffered(df, keys, fold, columns, output_schema, meta_schema=None,
                 timeout_ms=None) -> DataFrame:
    """A buffering fold on ``applyInPandasWithState``: the key's value is
    (buffer, *meta), rewritten whole each micro-batch. A key silent for
    ``timeout_ms`` of processing time is dropped unemitted — rollback
    invisibility for a transaction whose fate never arrives."""
    state_schema = "buffered array<string>" + (
        f", {meta_schema}" if meta_schema else ""
    )

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        buf, meta = (
            (list(state.get[0]), tuple(state.get[1:]))
            if state.exists else ([], None)
        )
        out, step = fold(key, records(pdfs, wire_order), meta, lambda: buf)
        if step.meta is None:
            state.remove()
        else:
            kept = [] if step.clear else buf
            state.update((kept + list(step.append), *step.meta))
            if timeout_ms is not None:
                state.setTimeoutDuration(timeout_ms)
        if out:
            yield pd.DataFrame(out, columns=columns)

    return df.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=_timeout_conf(timeout_ms),
    )


def aip_value(df, keys, fold, columns, output_schema, state_schema,
              order=None) -> DataFrame:
    """A value fold on ``applyInPandasWithState``: the fold's tuple is the
    key's value, written when it changes."""

    def fn(key, pdfs, state):
        old = tuple(state.get) if state.exists else None
        out, new = fold(key, records(pdfs, order), old)
        if new != old:
            state.update(new)
        if out:
            yield pd.DataFrame(out, columns=columns)

    return df.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=_timeout_conf(None),
    )


# ------------------------------------------------------ input projections
def fold_input(events: DataFrame, *extra: Column, seq: Column | None = None) -> DataFrame:
    """The ChangeEvent columns ``events`` has, ``seq`` as a long, and
    ``extra``. Input without a ``seq`` column gets ``seq`` (NULL when
    None)."""
    if "seq" in events.columns:
        seq = F.col("seq")
    return events.select(
        *[F.col(c) for c in _EVENT_COLUMNS if c in events.columns],
        (F.lit(None) if seq is None else seq).cast("long").alias("seq"),
        *extra,
    )


def gate_frames(
    events: DataFrame, top: Column, ctrl_ops: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Input projection of the streamed/2PC gate on both backends: the
    streamish predicate, the gate input and the passthrough remainder.

    Returns ``(gate_input, passthrough_rest)``; gate_input carries the
    key ``g_top`` and ``g_subxid``. The marker names have no leading
    underscore: the transformWithState Arrow bridge renames
    leading-underscore columns positionally (``_toast`` arrived as
    ``'_5'``; found by the round-6 agreement test).
    """
    is_ctrl = F.col("op").isin(*ctrl_ops)
    streamish = (top.isNotNull() | F.col("op").isin(*FATE_OPS)) & ~is_ctrl
    gate_input = fold_input(
        events.filter(streamish),
        F.coalesce(top, F.col("xid")).alias("g_top"),
        F.col("meta").getItem("subxid").cast("long").alias("g_subxid"),
    )
    rest = events.filter(~streamish & ~is_ctrl).select(
        *[
            F.col(c) if c in events.columns else F.lit(None).cast("string").alias(c)
            for c in ["op", "lsn"]
        ],
        F.col("lsn_long"),
        (F.col("seq") if "seq" in events.columns else F.lit(None))
        .cast("long").alias("seq"),
        *[F.col(c) for c in _EVENT_COLUMNS[3:]],
    )
    return gate_input, rest


# ------------------------------------------------------- operator builders
def _assemble(events: DataFrame, adapter, timeout_ms) -> DataFrame:
    # seq-less input orders by wal2json's intra-txn meta['pos'] (review
    # r2 — a NULL seq lost the tiebreaker and emitted arbitrary order)
    pos = (
        F.coalesce(F.col("meta").getItem("pos").cast("long"), F.lit(0))
        if "meta" in events.columns else F.lit(0)
    )
    return adapter(
        fold_input(events, seq=pos), ["xid"], assemble_fold, OUT_COLUMNS,
        TXN_OUTPUT_SCHEMA, timeout_ms=timeout_ms,
    )


def _gated(events, combined: bool, passthrough: bool, adapter, timeout_ms):
    """The streamed-only gate (``combined=False``) or the streamed +
    plain-2PC gate (``combined=True``) on ``adapter``'s backend."""
    top = F.col("meta").getItem("stream_top_xid").cast("long")
    ctrl_ops = ["stream_start", "stream_stop"]
    if combined:
        top = F.coalesce(top, F.col("meta").getItem("prepared_xid").cast("long"))
        ctrl_ops += ["begin_prepare", "prepare"]
    gate_input, rest = gate_frames(events, top, ctrl_ops)
    gated = adapter(
        gate_input, ["g_top"],
        partial(gate_fold, reemit_unmatched_fates=not combined),
        OUT_COLUMNS, TXN_OUTPUT_SCHEMA,
        meta_schema="aborted array<long>", timeout_ms=timeout_ms,
    )
    return gated.unionByName(rest) if passthrough else gated


def _reassemble(raw, value_col, order_col, slot_col, adapter) -> DataFrame:
    key = slot_col if slot_col is not None else "__slot"
    df = raw.select(
        F.col(slot_col) if slot_col is not None else F.lit(0).alias(key),
        F.col(order_col).cast("long").alias("seq"),
        F.col(value_col).cast("string").alias("value"),
    )
    out = adapter(
        df, [key], reassemble_fold, ["seq", "value"], "seq long, value string",
        meta_schema="depth long, start_seq long",
    )
    return out.withColumnRenamed("seq", order_col).withColumnRenamed(
        "value", value_col
    )


def _toast(events, key_columns, adapter) -> DataFrame:
    # null parts map to an explicit sentinel: concat_ws SKIPS nulls, so
    # (NULL,'x') and ('x',NULL) would otherwise collide on one state key
    identity = F.concat_ws(
        "\x1f",
        *[
            F.coalesce(
                F.col("key").getItem(k), F.col("after").getItem(k), F.lit("\x1e")
            )
            for k in key_columns
        ],
    )
    ev = fold_input(
        events,
        F.col("meta").getItem("unchanged_toast").alias("t_toast"),
        identity.alias("t_identity"),
    )
    # schema is part of the state key: public.users(id=1) and
    # audit.users(id=1) must not share a TOAST image
    return adapter(
        ev, ["schema", "table", "t_identity"], toast_fold, OUT_COLUMNS,
        TOAST_OUTPUT_SCHEMA, "img string", order=wire_order,
    )


# --------------------------------------------------------------- public API
def assemble_transactions_stream(
    events: DataFrame, timeout_ms: int | None = None
) -> DataFrame:
    """Streaming ChangeEvents → committed-transaction rows only.

    Input: the decoded stream including ``begin``/``commit`` markers
    (e.g. ``decode_wal2json(..., include_transaction_markers=True)``).
    Output: DML rows of committed transactions, stamped with xid +
    commit_ts, in commit order within each transaction. Uncommitted
    transactions are withheld (never emitted — rollback invisibility
    holds regardless of timeout config). Input without ``seq`` orders by
    ``meta['pos']`` (wal2json's intra-transaction position), else 0.

    ``timeout_ms`` additionally GARBAGE-COLLECTS abandoned transactions'
    state after that much processing-time silence. Leave it ``None``
    for drain-and-stop (``availableNow``) runs: registering a
    processing-time timeout keeps the query alive waiting to fire it,
    so the trigger never terminates. Set it only for continuously
    running queries.
    """
    return _assemble(events, aip_buffered, timeout_ms)


def reassemble_json_documents_stream(
    raw: DataFrame,
    value_col: str = "value",
    order_col: str = "seq",
    slot_col: str | None = None,
) -> DataFrame:
    """Streaming form of
    :func:`~pg_logical_replication_spark.sources.wal2json.reassemble_json_documents`:
    wal2json ``write-in-chunks`` / ``pretty-print`` fragments → one row
    per complete JSON document, with a partial document CARRIED ACROSS
    micro-batches in keyed state until its closing brace arrives.

    State per slot is one pending document (fragments, brace depth,
    starting seq) — O(max document size), independent of stream length.
    Fragments must arrive in ``order_col`` wire order per slot and split
    only at structural boundaries (never inside a string literal) — the
    plugin's own chunking contract. Emission is append-mode: a document
    row appears in the micro-batch that completes it.

    ``slot_col`` keys the state (N slots reassemble in parallel);
    without it the whole stream is one slot — serial, like the
    transport that produced it.
    """
    return _reassemble(raw, value_col, order_col, slot_col, aip_buffered)


def resolve_streamed_stream(
    events: DataFrame, timeout_ms: int | None = None, passthrough: bool = True
) -> DataFrame:
    """Streaming commit gate for pgoutput protocol-v2 streamed txns.

    The batch resolver (``operators.transactions.resolve_streamed``)
    attributes changes to segments positionally — a window, unsupported
    on streaming DataFrames. Here attribution already happened at decode
    time: ``decode_pgoutput`` stamps every streamed DML row with its
    segment's top-level xid (``meta['stream_top_xid']``), so the stream
    groups by that key and buffers until the fate row arrives — in this
    or ANY LATER micro-batch:

    * ``stream_commit`` → flush the buffer (minus aborted
      subtransactions), commit_ts + top xid stamped, wire order
      preserved;
    * ``stream_abort`` with subxid = xid → drop everything (top-level
      rollback invisibility); subxid ≠ xid → drop just that
      subtransaction's rows, past and future;
    * no fate + ``timeout_ms`` elapsed → state GC'd, nothing emitted.

    ``passthrough=True`` unions non-streamed rows (begin/commit-framed
    v1 traffic) through untouched, so the operator is drop-in on a mixed
    stream. ``commit_prepared``/``rollback_prepared`` fates whose key
    has no streamed state (plain 2PC transactions — their b..P changes
    take the passthrough branch) are re-emitted rather than swallowed,
    so a downstream prepared-frame gate still sees them. State per
    in-flight streamed txn is bounded by that txn's change volume — the
    same bound PG's reorderbuffer spills under; keys hash-distribute
    across executors.
    """
    return _gated(events, False, passthrough, aip_buffered, timeout_ms)


def resolve_transactions_stream(
    events: DataFrame, timeout_ms: int | None = None, passthrough: bool = True
) -> DataFrame:
    """One stateful gate for BOTH transaction shapes on a mixed stream:
    protocol-v2 streamed txns AND plain two-phase (b..P framed) txns.

    Spark allows one arbitrary-stateful operator per streaming query, so
    chaining ``resolve_streamed_stream`` with a prepared gate is not an
    option — this combines them. Keying uses the decode-time stamps
    (``decode_pgoutput``): ``meta['stream_top_xid']`` for streamed rows,
    ``meta['prepared_xid']`` for b..P-framed rows (frames are atomic
    wire blocks, so the stamp is exact); fates carry their xid natively.
    Fate handling is shared: ``stream_commit``/``commit_prepared``
    flush, ``stream_abort``/``rollback_prepared`` drop, and a fate whose
    key never buffered anything is swallowed (see the fate-only note in
    ``folds.gate_fold``). ``begin_prepare``/``prepare`` markers are
    consumed like stream controls; plain v1 traffic passes through when
    ``passthrough``.
    """
    return _gated(events, True, passthrough, aip_buffered, timeout_ms)


def toast_fill_stream(events: DataFrame, key_columns: list[str]) -> DataFrame:
    """Streaming unchanged-TOAST completion across micro-batches.

    The batch operator (``operators.apply_changes.toast_fill``) fills
    from prior images *within the DataFrame it is given*; in a live
    stream the prior image of a key usually committed in an EARLIER
    micro-batch, so the fill needs per-key state. State = the key's last
    post-fill row image (one image per key — bounded the way a replica
    table is); columns to fill come from each row's own
    ``meta['unchanged_toast']`` marker (pgoutput 'u' kind,
    reference ``pgoutput-parser.ts:260-261``), so no column list is
    configured. Explicit SQL NULLs overwrite the stored image and are
    never themselves overwritten — same contract as the batch operator.

    Scale: grouped on (schema, table, key) — the same partitioning
    apply-changes uses; state is one row image per live key, the same
    asymptote as the MOR snapshot itself.
    """
    return _toast(events, key_columns, aip_value)


# -------------------------------------------------- backend selection
# Measured aip-vs-tws crossover (SCALE.md round 6, RocksDB store,
# one txn held open across micro-batches, fate last): 64k buffered rows
# aip wins (18.5 vs 30.2 s — tws pays per-batch state-server protocol
# constants), ~192k near-tie, 500k ListState wins x1.56 and the gap
# grows quadratically (aip rewrites the whole buffer per batch; tws
# appends). This constant is that measurement, not an asymptotic guess.
TXN_GATE_LISTSTATE_CROSSOVER_ROWS = 200_000


def _pick_gate_backend(backend: str, expected_txn_rows: int | None) -> str:
    if backend not in ("auto", "aip", "tws"):
        raise ValueError(
            f"backend={backend!r}: expected 'auto', 'aip', or 'tws'"
        )
    if backend != "auto":
        return backend
    if (
        expected_txn_rows is not None
        and expected_txn_rows >= TXN_GATE_LISTSTATE_CROSSOVER_ROWS
    ):
        return "tws"
    return "aip"


def resolve_streamed_gate(
    events: DataFrame,
    backend: str = "auto",
    expected_txn_rows: int | None = None,
    timeout_ms: int | None = None,
    passthrough: bool = True,
) -> DataFrame:
    """Streamed-txn commit gate with an explicit state-backend pick —
    the deployment rule from SCALE.md r6 as a flag (VERDICT r6 #7).

    ``backend='aip'`` is the ``applyInPandasWithState`` form (lower
    per-batch constants — wins for OLTP-shaped transactions);
    ``backend='tws'`` is the ``transformWithStateInPandas`` form
    (per-batch ListState APPEND instead of full-buffer rewrite — wins
    when one transaction buffers ~2×10⁵+ changes, exactly the workloads
    ``logical_decoding_work_mem`` streaming exists for). ``'auto'``
    picks by ``expected_txn_rows`` (e.g. the workload's
    ``logical_decoding_work_mem`` row estimate) against the MEASURED
    crossover ``TXN_GATE_LISTSTATE_CROSSOVER_ROWS``; with no estimate
    it stays on aip, the right default for typical OLTP streams. Both
    backends run the same fold (``folds.gate_fold``) over the same
    input projection. Note the tws backend needs the RocksDB state
    store provider (``spark.sql.streaming.stateStore.providerClass`` →
    ``...state.RocksDBStateStoreProvider``) — the default HDFS store
    has no column families and fails the query at start."""
    if _pick_gate_backend(backend, expected_txn_rows) == "tws":
        from pg_logical_replication_spark.streaming.tws import (
            resolve_streamed_tws,
        )

        return resolve_streamed_tws(
            events, ttl_ms=timeout_ms, passthrough=passthrough
        )
    return resolve_streamed_stream(
        events, timeout_ms=timeout_ms, passthrough=passthrough
    )


def resolve_transactions_gate(
    events: DataFrame,
    backend: str = "auto",
    expected_txn_rows: int | None = None,
    timeout_ms: int | None = None,
    passthrough: bool = True,
) -> DataFrame:
    """Combined streamed + plain-2PC gate with the same backend flag as
    :func:`resolve_streamed_gate` (see its docstring for the measured
    crossover semantics)."""
    if _pick_gate_backend(backend, expected_txn_rows) == "tws":
        from pg_logical_replication_spark.streaming.tws import (
            resolve_transactions_tws,
        )

        return resolve_transactions_tws(
            events, ttl_ms=timeout_ms, passthrough=passthrough
        )
    return resolve_transactions_stream(
        events, timeout_ms=timeout_ms, passthrough=passthrough
    )
