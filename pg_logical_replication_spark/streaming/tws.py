"""The stateful operators on Spark 4's ``transformWithStateInPandas``
(public API, SPARK-49564).

Every operator here runs a fold from ``streaming/folds.py`` — the same
function, over the same input projection, that ``streaming/stateful.py``
runs on ``applyInPandasWithState``. This module contributes only the
state adapters:

* ``tws_buffered`` — a buffering fold's buffer lives in a **ListState**:
  each micro-batch APPENDS to it and the fold reads it once, when it
  consumes it (a transaction's fate, a document's closing brace). A
  long-running transaction therefore costs O(txn) total state I/O in the
  RocksDB store instead of the O(txn²) of rewriting an ever-growing blob
  per batch — the difference for the reference's 500k-row
  huge-transaction scenario (decoder-pgoutput.spec.ts:324-373). The
  fold's small meta (aborted subxids, brace depth) is a ValueState.
* ``tws_value`` — a value fold's tuple is one ValueState.

Besides the five operators shared with the applyInPandasWithState
backend (txn assembly, streamed/2PC gate, TOAST fill, chunked-JSON
reassembly, sequence packing), five monitors exist only here: near-dup
band claim, multi-origin conflict, watermark lateness, schema change
and net change.

Requires the RocksDB state store provider
(``spark.sql.streaming.stateStore.providerClass`` →
``RocksDBStateStoreProvider``) — the caller sets it; local HDFS-backed
stores don't support column families. Also requires ``google.protobuf``
(the transformWithState Python runtime speaks protobuf to the JVM) or
the vendored ``_vendor/pbshim`` the package installs when it is absent.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from pg_logical_replication_spark.streaming import folds
from pg_logical_replication_spark.streaming.stateful import (
    _assemble,
    _gated,
    _reassemble,
    _toast,
)


def _require_protobuf() -> None:
    try:
        # either the real protobuf package or the vendored mini-runtime
        # (_vendor/pbshim, appended by the package __init__ when the
        # real one is absent)
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:  # pragma: no cover — env-dependent
        raise ImportError(
            "transformWithStateInPandas needs the google.protobuf package "
            "(its Python worker speaks protobuf to the JVM state server) "
            "or the vendored pbshim, which failed to load; use the "
            "applyInPandasWithState operators in streaming.stateful instead"
        ) from exc


def _run(df, keys, processor, output_schema, ttl_ms) -> DataFrame:
    _require_protobuf()
    return df.groupBy(*keys).transformWithStateInPandas(
        statefulProcessor=processor,
        outputStructType=output_schema,
        outputMode="append",
        timeMode="None" if ttl_ms is None else "ProcessingTime",
    )


class _BufferedFold(StatefulProcessor):
    """ListState buffer + ValueState meta around a buffering fold. With
    no meta schema the key's state is its buffer alone."""

    def __init__(self, fold, columns, meta_schema, ttl_ms):
        self._fold, self._columns = fold, columns
        self._meta_schema, self._ttl_ms = meta_schema, ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._buf = handle.getListState(
            "buffered", "item string", ttlDurationMs=self._ttl_ms
        )
        self._meta = None if self._meta_schema is None else handle.getValueState(
            "meta", self._meta_schema, ttlDurationMs=self._ttl_ms
        )

    def _buffered(self) -> list[str]:
        return [s for (s,) in self._buf.get()] if self._buf.exists() else []

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues: Any
    ) -> Iterator[pd.DataFrame]:
        if self._meta is None:
            meta = () if self._buf.exists() else None
        else:
            meta = self._meta.get() if self._meta.exists() else None
        out, step = self._fold(
            key, folds.records(rows, folds.wire_order), meta, self._buffered
        )
        if step.meta is None or step.clear:
            self._buf.clear()
        if step.meta is not None and step.append:  # incremental — no rewrite
            self._buf.appendList([(s,) for s in step.append])
        if self._meta is not None:
            if step.meta is None:
                self._meta.clear()
            else:
                self._meta.update(step.meta)
        if out:
            yield pd.DataFrame(out, columns=self._columns)


class _ValueFold(StatefulProcessor):
    """One ValueState around a value fold, written when it changes."""

    def __init__(self, fold, columns, state_schema, order, ttl_ms):
        self._fold, self._columns, self._schema = fold, columns, state_schema
        self._order, self._ttl_ms = order, ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState(
            "state", self._schema, ttlDurationMs=self._ttl_ms
        )

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues: Any
    ) -> Iterator[pd.DataFrame]:
        old = self._state.get() if self._state.exists() else None
        out, new = self._fold(key, folds.records(rows, self._order), old)
        if new != old:
            self._state.update(new)
        if out:
            yield pd.DataFrame(out, columns=self._columns)


def tws_buffered(df, keys, fold, columns, output_schema, meta_schema=None,
                 timeout_ms=None) -> DataFrame:
    """A buffering fold on transformWithStateInPandas; ``timeout_ms``
    becomes the state TTL: an expired transaction's state vanishes and a
    late fate finds nothing — the same withhold the applyInPandasWithState
    timeout implements."""
    processor = _BufferedFold(fold, columns, meta_schema, timeout_ms)
    return _run(df, keys, processor, output_schema, timeout_ms)


def tws_value(df, keys, fold, columns, output_schema, state_schema,
              order=None, ttl_ms=None) -> DataFrame:
    """A value fold on transformWithStateInPandas (``ttl_ms`` = state TTL)."""
    processor = _ValueFold(fold, columns, state_schema, order, ttl_ms)
    return _run(df, keys, processor, output_schema, ttl_ms)


# ------------------------------------------- operators shared with aip
def assemble_transactions_tws(
    events: DataFrame, ttl_ms: int | None = None
) -> DataFrame:
    """Commit-gated txn assembly via transformWithStateInPandas.

    Same contract and fold as ``assemble_transactions_stream``: DML of
    committed transactions only, stamped with xid + commit_ts,
    wire-ordered within the transaction; uncommitted/aborted txns never
    emit. ``ttl_ms`` evicts abandoned transactions' state (rollback
    invisibility GC) — requires ``timeMode='ProcessingTime'``, so leave
    it ``None`` for drain-and-stop (``availableNow``) runs.
    """
    return _assemble(events, tws_buffered, ttl_ms)


def toast_fill_tws(events: DataFrame, key_columns: list[str]) -> DataFrame:
    """transformWithStateInPandas form of
    ``streaming.stateful.toast_fill_stream`` — the same fold
    (cross-micro-batch unchanged-TOAST completion, one row image per
    (schema, table, key), explicit NULLs overwrite) on a ValueState."""
    return _toast(events, key_columns, tws_value)


def reassemble_json_documents_tws(
    raw: DataFrame,
    value_col: str = "value",
    order_col: str = "seq",
    slot_col: str | None = None,
) -> DataFrame:
    """transformWithStateInPandas form of
    ``streaming.stateful.reassemble_json_documents_stream``. A pending
    chunked wal2json document can be arbitrarily large (one TOASTed row
    can exceed logical_decoding_work_mem — that is WHY the plugin
    chunks), so each fragment APPENDS to a ListState and the text is
    concatenated exactly once, at completion."""
    return _reassemble(raw, value_col, order_col, slot_col, tws_buffered)


def pack_sequences_tws(
    stream: DataFrame,
    budget: int = 512,
    bucket_size: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """transformWithStateInPandas form of
    ``streaming.packing.pack_sequences_stream`` — the same greedy fold
    and output schema; the open bin rides a typed ValueState."""
    from pg_logical_replication_spark.streaming.packing import _pack

    return _pack(stream, budget, bucket_size, text_col, id_col, tws_value)


def resolve_streamed_tws(
    events: DataFrame, ttl_ms: int | None = None, passthrough: bool = True
) -> DataFrame:
    """transformWithStateInPandas form of
    ``streaming.stateful.resolve_streamed_stream`` — the same fold
    (decode-time top-xid keying, commit flush minus aborted subxacts,
    rollback invisibility, plain-2PC fate re-emission). Measured
    crossover (SCALE.md r6): the aip form's lower per-batch constants
    win below ~2·10⁵ buffered rows; at the 500k-row scenario this gate
    wins ×1.56 and grows from there — pick per workload
    (``resolve_streamed_gate``)."""
    return _gated(events, False, passthrough, tws_buffered, ttl_ms)


def resolve_transactions_tws(
    events: DataFrame, ttl_ms: int | None = None, passthrough: bool = True
) -> DataFrame:
    """transformWithStateInPandas form of
    ``streaming.stateful.resolve_transactions_stream`` (combined
    streamed + plain-2PC gate; unmatched fates swallowed)."""
    return _gated(events, True, passthrough, tws_buffered, ttl_ms)


# ------------------------------------------------------ tws-only monitors
def stream_near_dup_gate_tws(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    ttl_ms: int | None = None,
) -> DataFrame:
    """transformWithStateInPandas form of
    ``streaming.dedup.stream_near_dup_gate`` — same contract (explode
    MinHash band keys, first claim per (band_idx, band_key) wins, feed
    :func:`streaming.dedup.near_dup_gate_rollup` per micro-batch),
    agreement-tested in tests/test_tws.py. State is one existence bit
    per claimed band — the same O(rate × horizon × bands) footprint as
    dropDuplicatesWithinWatermark's key store. Within a batch the
    earliest event time, then the smallest id, wins — deterministic
    where the built-in keeps an arbitrary first; NULL ids pass through.

    Horizon semantics differ by backend, same trade as the txn gate:
    the built-in form evicts by EVENT-time watermark; this one evicts
    by processing-time state TTL (``ttl_ms``; ``None`` = unbounded
    state — fine for bounded replays, not for a forever-run). Use the
    built-in form when event-time retention matters; use this one when
    the state store is RocksDB and per-key TTL + column-family
    lifecycle beat the watermark bookkeeping.
    """
    from pg_logical_replication_spark.streaming.dedup import (
        exploded_band_claims,
    )

    exploded = exploded_band_claims(
        stream, text_col, id_col, ts_col, num_hashes, band_size, shingle_n,
        id_out="doc_id", ts_out="ts",
    )
    # carry the caller's id/ts types through unchanged — the built-in
    # form is type-agnostic (string ids, UUIDs, …) and this one must
    # not narrow that contract to longs
    id_t = exploded.schema["doc_id"].dataType.simpleString()
    ts_t = exploded.schema["ts"].dataType.simpleString()
    out = tws_value(
        exploded, ["band_idx", "band_key"], folds.band_claim_fold,
        ["doc_id", "ts", "band_idx", "band_key"],
        f"doc_id {id_t}, ts {ts_t}, band_idx int, band_key string",
        "claimed boolean", order=folds.claim_order, ttl_ms=ttl_ms,
    )
    return out.withColumnRenamed("doc_id", id_col).withColumnRenamed(
        "ts", ts_col
    )


def conflict_monitor_tws(
    stream: DataFrame,
    window_size: int = 100,
    n_origins: int = 3,
    id_col: str = "event_id",
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming form of ``q_cdc_update_conflicts``: live multi-origin
    write-write conflict records as the stream drains. State per
    (window, key) is five longs — O(active windows × keys), independent
    of stream length; window close-out is the caller's retention policy
    (drop state by timer once a window can no longer receive writes).

    Emits one record per conflicted key per batch that touches it
    (>=2 distinct origins, tested as min!=max — the same predicate as
    q_cdc_update_conflicts); emissions are monotone refinements, so the
    last emission per key agrees with the batch query's per-key
    aggregate (asserted in tests/test_tws.py)."""
    keyed = stream.select(
        F.expr(f"{id_col} div {window_size}").alias("win"),
        (F.col(id_col) % n_origins).cast("long").alias("origin"),
        F.col(key_col).cast("long").alias("user_id"),
        F.col(id_col).cast("long").alias("event_id"),
    )
    return tws_value(
        keyed, ["win", "user_id"], folds.conflict_fold,
        ["win", "user_id", "n_writes", "winner_origin"],
        "win long, user_id long, n_writes long, winner_origin long",
        "o_min long, o_max long, n_writes long, w_origin long, w_eid long",
    )


def lateness_monitor_tws(
    stream: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    arrival_col: str = "event_id",
) -> DataFrame:
    """Streaming lateness census with a PER-TYPE watermark: for each
    event_type, the running max event-time over that type's arrivals
    folds in a four-long ValueState; each batch that touches a type
    emits its cumulative census. Rows inside one batch fold in arrival
    order (``arrival_col``). The LAST emission per type equals a
    per-type prefix-max batch replay (agreement-tested in
    tests/test_tws.py::test_lateness_monitor_tws_agrees_with_batch_replay,
    which replays the same per-type fold).

    This is deliberately NOT the streaming form of
    ``q_events_watermark_lateness`` (ADVICE r8): that batch query folds
    ONE GLOBAL prefix-max across all types in arrival order — the
    horizon-sizing replay — so its ``n_late``/``max_late_us`` differ
    from this monitor's on the same data whenever types interleave. A
    faithful global form would key the stateful op on a constant,
    serializing every event through one task; keying by type keeps the
    monitor partitioned (the per-key watermark view, analogous to
    Kafka/Flink per-partition watermarks before the min-combine). State
    is O(|types|) — independent of stream length."""
    keyed = stream.select(
        F.col(type_col).alias("event_type"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("ts_us"),
        F.col(arrival_col).cast("long").alias("arr"),
    )
    return tws_value(
        keyed, ["event_type"], folds.lateness_fold,
        ["event_type", "n_events", "n_late", "max_late_us", "watermark_us"],
        "event_type string, n_events long, n_late long, "
        "max_late_us long, watermark_us long",
        "wm long, n_events long, n_late long, max_late long",
        order=folds.arrival_order,
    )


def schema_change_monitor_tws(stream: DataFrame) -> DataFrame:
    """Streaming form of ``operators/schema_evolution.schema_change_log``
    — the live schema-change topic: relation announcements stream in,
    version-change records stream out, Debezium's schema-change topic
    shape over pgoutput 'R' rows (reference relation-cache anchor:
    ``pgoutput-parser.ts:86-110``). Cross-batch: a re-announcement in a
    later micro-batch diffs against state, so ALTERs spanning batches
    emit exactly one record each, the first announcement included
    (version 1, everything 'added'); re-announcements of the SAME
    declaration (pgoutput re-sends 'R' after reconnect) fold away
    silently, like the reference's relation cache refresh
    (agreement-tested against the batch fold in tests/test_tws.py).

    State is O(|tables| × declaration width) — registry-sized, never
    data-sized; the stateful op keys on table so it stays partitioned.
    The input is pre-filtered to relation rows: the DML firehose never
    reaches the stateful operator."""
    keyed = stream.filter(
        (F.col("op") == "relation")
        & F.col("meta").getItem("columns").isNotNull()
    ).select(
        F.col("table"),
        F.coalesce(F.col("lsn_long"), F.lit(0)).alias("lsn_long"),
        (F.col("seq").cast("long") if "seq" in stream.columns
         else F.lit(0).cast("long")).alias("seq"),
        F.col("meta").getItem("columns").alias("cols"),
        F.col("meta").getItem("type_oids").alias("oids"),
    )
    return tws_value(
        keyed, ["table"], folds.schema_change_fold,
        ["table", "version", "lsn_long", "n_columns", "added", "dropped",
         "widened"],
        "table string, version long, lsn_long long, n_columns long, "
        "added string, dropped string, widened string",
        "cols string, oids string, version long",
        order=folds.wire_order,
    )


def net_changes_tws(
    stream: DataFrame,
    key_col: str = "k",
    op_col: str = "op",
    ord_col: str = "lsn_long",
) -> DataFrame:
    """Streaming form of ``operators/apply_changes.net_changes`` — the
    live net-effect ledger: as the change stream drains, each touched
    key re-emits its current net operation (first insert … last delete
    cancel to ``none``, first insert folds to net ``insert`` of the
    newest position, trailing delete nets ``delete``, else ``update``).
    A sink that applies only each key's LAST emission applies the same
    net effect the batch squash would.

    State per key is five scalars — O(live keys), independent of stream
    length; the per-key fold is arg-min/arg-max by stream position, so
    batch boundaries and intra-batch arrival order cannot change the
    result. Key-change updates must be split upstream (the batch
    operator's tombstone + insert split is a stateless projection);
    input should be pre-filtered to DML rows."""
    keyed = stream.select(
        F.col(key_col).cast("string").alias("k"),
        F.col(op_col).alias("op"),
        F.col(ord_col).cast("long").alias("lsn_long"),
    )
    return tws_value(
        keyed, ["k"], folds.net_change_fold,
        ["k", "net_op", "n_changes", "first_lsn_long", "last_lsn_long"],
        "k string, net_op string, n_changes long, "
        "first_lsn_long long, last_lsn_long long",
        "first_op string, first_lsn long, last_op string, last_lsn long, "
        "n long",
    )
