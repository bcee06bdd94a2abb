"""LogicalReplicationService — the reference's live API, on Structured
Streaming.

Reference surface (``src/logical-replication-service.ts``):

* ``subscribe(plugin, slot, uptoLsn?)`` (:126-185) — open the stream and
  start emitting decoded messages.
* ``acknowledge(lsn)`` (:254-300) — commit position; auto-ack (:187-192)
  commits after every message.
* ``lastLsn()`` (:65-68) — newest seen position.
* ``stop()`` / ``destroy()`` (:98-124) — lifecycle.
* flow control (:198-229) — bounded, ordered delivery.

Spark-first realization: a "slot" is a checkpointed streaming query over
an event-log directory (files of encoded changesets — the durable form
of the COPY stream; a live PG endpoint would be a thin relay appending
to it, or a Python DataSource, neither needed for correctness here).

* subscribe  → ``readStream`` file source + format decode transform +
  user sink (``foreachBatch`` or a ``MergeOnReadTable``).
* acknowledge → the checkpoint offset log: offsets commit only after a
  micro-batch's sink completes, which IS auto-ack; manual-ack mode is
  ``foreachBatch`` raising before its side effect is durable (batch
  replays — ``acknowledge.spec.ts:32-76`` replay-from-zero semantics).
* resume     → same ``checkpointLocation`` ⇒ uncommitted offsets replay;
  ``replay_all()`` (delete checkpoint) ≙ restart from ``0/00000000``.
* flow control → ``maxFilesPerTrigger`` bounds each micro-batch; within
  a batch, apply-changes re-derives order per key from ``lsn_long`` (the
  engine never needs the reference's pause/resume socket machinery —
  the pull-based micro-batch model is backpressure by construction).

Scale: the event-log directory is listed incrementally by the file
source (compact metadata log); decode is JVM-side for wal2json /
test_decoding and Arrow-batched for pgoutput, so a 1000-executor
cluster partitions by file with no coordination beyond offset planning.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pg_logical_replication_spark.sources import decode


class LogicalReplicationService:
    """One instance ≙ one replication consumer; ``subscribe`` per slot.

    ``event_log_dir`` holds the encoded stream (one changeset per line
    for text formats); ``checkpoint_root`` holds per-slot commit logs.
    """

    def __init__(
        self,
        spark: SparkSession,
        event_log_dir: str,
        checkpoint_root: str,
        max_files_per_trigger: int | None = None,
    ):
        self.spark = spark
        self.event_log_dir = event_log_dir
        self.checkpoint_root = checkpoint_root
        self.max_files_per_trigger = max_files_per_trigger
        self._queries: dict[str, StreamingQuery] = {}
        self._last_lsn: dict[str, str] = {}
        self._acked_lsn: dict[str, str] = {}
        self._slot_source: dict[str, str] = {}
        self._handlers: dict[str, list[Callable[..., Any]]] = {}
        self._slots_by_query: dict[str, str] = {}
        self._listener = None

    # ------------------------------------------------------------- events
    def on(self, event: str, handler: Callable[..., Any]) -> "LogicalReplicationService":
        """EventEmitter parity (reference :37-46). Events:

        * ``start`` (slot_name) — query started (reference :143);
        * ``data`` (lsn, batch_id) — a micro-batch was delivered to the
          sink (the reference emits per message; the engine's unit of
          delivery is the micro-batch);
        * ``acknowledge`` (lsn) — position committed after sink success
          (auto-ack, reference :187-192);
        * ``error`` (exception) — sink failure (reference :213-216);
        * ``heartbeat`` (slot_name, timestamp, last_lsn) — liveness
          signal per micro-batch progress / idle tick, from a
          ``StreamingQueryListener`` (≙ the reference's primary-
          keepalive surface, 0x6b → 'heartbeat' event, :165-171;
          delivered asynchronously from the listener bus).

        * ``metrics`` (slot_name, {n_changes, n_inserts, n_updates,
          n_deletes}) — per-micro-batch operation counters computed by
          ``DataFrame.observe`` INSIDE the streaming plan (no second
          scan, no extra job) and surfaced through the progress
          listener — the engine's analogue of the per-message counters
          the reference's consumers keep by hand (e.g.
          decoder-test.spec.ts:37-41).

        Returns self for chaining, like EventEmitter ``on``.
        """
        self._handlers.setdefault(event, []).append(handler)
        if event in ("heartbeat", "metrics"):
            self._ensure_listener()
        return self

    def _ensure_listener(self) -> None:
        if self._listener is not None:
            return
        from pyspark.sql.streaming import StreamingQueryListener

        svc = self

        class _Heartbeat(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                slot = svc._slots_by_query.get(str(event.progress.id))
                if slot is not None:
                    svc._emit(
                        "heartbeat",
                        slot,
                        event.progress.timestamp,
                        svc._last_lsn.get(slot),
                    )
                    observed = event.progress.observedMetrics.get("cdc")
                    if observed is not None:
                        svc._emit("metrics", slot, observed.asDict())

            def onQueryIdle(self, event):  # noqa: N802
                slot = svc._slots_by_query.get(str(event.id))
                if slot is not None:
                    # ≙ keepalive while no WAL flows (reference :165-171)
                    svc._emit("heartbeat", slot, event.timestamp, svc._last_lsn.get(slot))

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self._listener = _Heartbeat()
        self.spark.streams.addListener(self._listener)

    def _emit(self, event: str, *args: Any) -> None:
        for h in self._handlers.get(event, []):
            h(*args)

    # ------------------------------------------------------------ source
    def changes(
        self, fmt: str, source: str = "files", **decode_options
    ) -> DataFrame:
        """The decoded, unbounded ChangeEvent DataFrame (no sink yet).

        ``source='files'`` tails text segments (one encoded changeset
        per line — the durable relay form). ``source='frames'`` tails a
        raw COPY-frame log through the ``pg_cdc`` frames transport
        (``sources/transport.py``): frames demux JVM-side
        (``wire.demux_copy_stream``), keepalives drop out of the data
        plane, and the 'w' payloads feed the SAME per-format decoders —
        the live-connection path end-to-end, wired at the service
        surface.
        """
        if source == "frames":
            from pg_logical_replication_spark.sources.datasource import (
                register as register_ds,
            )
            from pg_logical_replication_spark.sources.wire import (
                demux_copy_stream,
            )

            register_ds(self.spark)
            reader = (
                self.spark.readStream.format("pg_cdc")
                .option("path", self.event_log_dir)
                .option("transport", "frames")
            )
            if self.max_files_per_trigger is not None:
                reader = reader.option(
                    "maxframespertrigger", self.max_files_per_trigger
                )
            raw = reader.load()
            dm = demux_copy_stream(raw, passthrough=("lsn", "seq")).filter(
                F.col("msg_type") == "w"
            )
            if fmt in ("pgoutput", "decoderbufs"):
                # BINARY formats ride the payload bytes untouched — a
                # string cast would corrupt protobuf/pgoutput frames
                normalized = dm.select("lsn", "seq", F.col("payload").alias("data"))
            else:
                normalized = dm.select(
                    "lsn",
                    "seq",
                    F.col("payload").cast("string").alias("value"),
                )
                decode_options.setdefault("lsn_col", "lsn")
            return decode(normalized, fmt, **decode_options)
        if source != "files":
            raise ValueError(f"unknown source {source!r} (files|frames)")
        reader = self.spark.readStream.format("text")
        if self.max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        raw = reader.load(self.event_log_dir)
        return decode(raw, fmt, **decode_options)

    # --------------------------------------------------------- subscribe
    def subscribe(
        self,
        fmt: str,
        slot_name: str,
        sink: Callable[[DataFrame, int], Any],
        decode_options: dict[str, Any] | None = None,
        available_now: bool = True,
        isolate_errors: bool = False,
        auto_acknowledge: bool = True,
        source: str = "files",
        upto_lsn: str | None = None,
        bootstrap: "DataFrame | None" = None,
        bootstrap_columns: dict[str, str] | None = None,
        bootstrap_table: str = "t",
        bootstrap_lsn: str = "0/00000010",
    ) -> StreamingQuery:
        """Start streaming decoded changes into ``sink`` (foreachBatch).

        ``available_now=True`` processes everything currently in the log
        then stops — the hermetic-test / batch-catchup trigger; pass
        False for a continuously running query (micro-batch default
        trigger). The checkpoint under ``<root>/<slot_name>`` is the
        slot: re-subscribing with the same name resumes from the last
        committed offset; ``upto_lsn`` adds the reference's EXPLICIT
        form (:126-137) — events at or below that position are not
        emitted, for consumers tracking positions outside the
        checkpoint.

        ``isolate_errors`` ≙ the reference's flow-control error handling
        (:213-216): a sink exception emits ``error`` and the stream
        CONTINUES — the failed batch's offsets still commit, so it will
        not replay. Default False: the exception fails the query and the
        batch replays on re-subscribe (at-least-once).

        ``auto_acknowledge=False`` ≙ the reference's
        ``acknowledge: {auto: false}`` manual mode (README.md:171-196):
        delivery still advances ``last_lsn`` and emits ``data``, but the
        acknowledged position — the one a live PG source would report
        upstream for WAL reclaim — only moves when the consumer calls
        :meth:`acknowledge`. Micro-batch replay is still governed by the
        Spark checkpoint (strictly stronger than the reference's
        at-least-once); manual mode controls the *slot position
        surface*, exactly the reference's split between ``_lastLsn``
        and the standby-status update.
        """
        if available_now and source == "frames" and self.max_files_per_trigger:
            # Spark's availableNow trigger takes the frames source's first
            # capped offset as its target and stops there, delivering
            # only the first micro-batch of the backlog
            raise ValueError(
                "subscribe(available_now=True, source='frames') cannot "
                "honour max_files_per_trigger="
                f"{self.max_files_per_trigger}: the query would stop "
                "after the first capped micro-batch; pass "
                "available_now=False (and stop the query once caught up) "
                "or construct the service without max_files_per_trigger"
            )
        # re-subscribe parity: the reference's subscribe() begins with
        # `await this.stop()` (:72-74) — a second subscribe on a live
        # slot replaces the stream instead of racing it on the same
        # checkpoint (Spark would fail the concurrent query anyway,
        # but with a lock error, not the reference's semantics)
        prev = self._queries.get(slot_name)
        if prev is not None and prev.isActive:
            prev.stop()

        if bootstrap is not None:
            # Initial-load convenience (source='frames' only): write the
            # snapshot as pre-stream bootstrap segments ONCE — only into
            # a log that has no segments yet, so a re-subscribe (or a
            # checkpoint resume) can never duplicate the initial state.
            import os as _os

            if source != "frames":
                raise ValueError(
                    "subscribe(bootstrap=...) requires source='frames' "
                    "(the snapshot rides the frame log)"
                )
            if bootstrap_columns is None:
                raise ValueError(
                    "subscribe(bootstrap=...) needs bootstrap_columns="
                    "{name: pg_type} in column order"
                )
            from pg_logical_replication_spark.sources.bootstrap import (
                BOOTSTRAP_DONE_MARKER,
                bootstrap_to_frame_log,
            )
            from pg_logical_replication_spark.sources.transport import (
                list_segments,
            )

            names = (
                _os.listdir(self.event_log_dir)
                if _os.path.isdir(self.event_log_dir)
                else []
            )
            # Once-only AND crash-safe (ADVICE r5): the load is complete
            # only when its marker exists (bootstrap_to_frame_log drops
            # it after all partitions rename into place). Live relay
            # segments also veto a re-run — the stream is already past
            # the snapshot point, re-loading would duplicate state.
            done = BOOTSTRAP_DONE_MARKER in names
            live_segments = any(
                ".bootstrap." not in n
                for n in list_segments(self.event_log_dir)
            )
            if not done and not live_segments:
                # stale partials from a crashed earlier attempt (visible
                # .seg without a marker, or orphaned .tmp) are replaced
                for n in names:
                    if ".bootstrap.seg" in n:  # matches .seg and .seg.tmp
                        _os.unlink(_os.path.join(self.event_log_dir, n))
                bootstrap_to_frame_log(
                    bootstrap,
                    bootstrap_columns,
                    bootstrap_table,
                    self.event_log_dir,
                    lsn=bootstrap_lsn,
                )

        # remembered per slot: acknowledge(ping=True) may only append a
        # binary standby-status frame when THIS slot reads the frame
        # log — for text-format logs the Spark file source would ingest
        # status.log as event data on the next (re)subscribe (ADVICE r8).
        # Persisted beside the checkpoint so a ping ack SURVIVES a
        # process restart without re-subscribing (ADVICE r9) — the
        # reference's acknowledge always emits the standby status for an
        # active subscription.
        self._slot_source[slot_name] = source
        self._persist_slot_source(slot_name, source)
        ev = self.changes(fmt, source=source, **(decode_options or {}))
        if upto_lsn is not None:
            # ≙ the reference's subscribe(..., uptoLsn) third argument
            # (:126-137): positions at or below uptoLsn are considered
            # already consumed and are NOT emitted — the explicit-resume
            # form for consumers that track positions outside the
            # checkpoint (e.g. after bootstrap_events at a snapshot LSN).
            # A scan-stage filter, so Catalyst prunes before any decode
            # output materializes.
            from pg_logical_replication_spark.model import lsn_to_long

            ev = ev.filter(F.col("lsn_long") > lsn_to_long(upto_lsn))
        # observed metrics ride the existing plan (aggregates computed
        # alongside the batch, no second scan) and surface on the
        # 'metrics' event via the progress listener. Only attached when
        # a metrics handler is already registered (register BEFORE
        # subscribe) — the extra per-batch aggregate stage costs ~0.2 s
        # on the visibility-latency path, so consumers who don't ask
        # don't pay.
        if "metrics" in self._handlers:
            def _n(op: str):
                # coalesce: F.sum over an empty micro-batch is NULL, and
                # the event contract promises integer counters
                return F.coalesce(
                    F.sum(F.when(F.col("op") == op, 1).otherwise(0)),
                    F.lit(0),
                ).alias(f"n_{op}s")

            ev = ev.observe(
                "cdc",
                F.count(F.lit(1)).alias("n_changes"),
                _n("insert"),
                _n("update"),
                _n("delete"),
            )

        def tracked_sink(batch_df: DataFrame, batch_id: int) -> None:
            # the sink and the ack position share one decode: without the
            # persist, the delivery aggregate below re-parses the whole
            # micro-batch (a second decode job on the visibility-latency
            # path)
            batch_df.persist()
            try:
                try:
                    sink(batch_df, batch_id)
                except Exception as e:  # noqa: BLE001 — handler decides
                    self._emit("error", e)
                    if not isolate_errors:
                        raise
                    return
                # Delivery stats: a profiling sink (MergeOnReadTable.
                # apply_batch) already aggregated the batch — count and
                # max LSN ride back on the batch handle, so the service
                # runs ZERO extra jobs (optimization r11; formerly the
                # service aggregated pre-sink and hinted the count
                # down). Plain sinks still get the one combined
                # aggregate, now post-sink over the warm cache — and a
                # failed batch skips it entirely.
                stats = getattr(batch_df, "_plrs_delivery", None)
                if stats is None:
                    stats = batch_df.agg(
                        F.count("*").alias("n"),
                        F.max("lsn_long").alias("m"),
                        F.max_by("lsn", "lsn_long").alias("s"),
                    ).first()
                # ≙ `_lastLsn = lsn` after each delivered message
                # (reference :173): recorded only after the sink succeeds,
                # i.e. at the moment the reference would auto-ack
                # (:187-192).
                lsn = None if stats["m"] is None else stats["s"]
                if lsn is not None:
                    self._last_lsn[slot_name] = lsn
                    self._emit("data", lsn, batch_id)
                    if auto_acknowledge:
                        # stored position = received + 1 with carry, the
                        # standby-status form (model.ack_lsn) — identical
                        # to what a manual acknowledge() records, so
                        # acked_lsn() means one thing in both modes; the
                        # event carries the raw delivered lsn, like the
                        # reference's emit('acknowledge', lsn)
                        from pg_logical_replication_spark.model import ack_lsn

                        self._acked_lsn[slot_name] = ack_lsn(lsn)
                        self._emit("acknowledge", lsn)
            finally:
                batch_df.unpersist()

        writer = (
            ev.writeStream.foreachBatch(tracked_sink)
            .option("checkpointLocation", self._checkpoint(slot_name))
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        self._queries[slot_name] = q
        self._slots_by_query[str(q.id)] = slot_name
        self._emit("start", slot_name)
        return q

    def subscribe_and_wait(self, *args, **kwargs) -> None:
        """subscribe(availableNow) + awaitTermination — drain the log."""
        self.subscribe(*args, **kwargs).awaitTermination()

    # ----------------------------------------------------- slot position
    def _checkpoint(self, slot_name: str) -> str:
        return os.path.join(self.checkpoint_root, slot_name)

    def _slot_source_path(self, slot_name: str) -> str:
        # a sibling of the Spark checkpoint dir, never inside it —
        # Spark owns that directory's layout
        return os.path.join(self.checkpoint_root, f"{slot_name}.source")

    def _persist_slot_source(self, slot_name: str, source: str) -> None:
        os.makedirs(self.checkpoint_root, exist_ok=True)
        tmp = self._slot_source_path(slot_name) + ".tmp"
        with open(tmp, "w") as f:
            f.write(source)
        os.replace(tmp, self._slot_source_path(slot_name))

    def _resolve_slot_source(self, slot_name: str) -> str | None:
        """The slot's recorded source: in-memory (this process
        subscribed) else the durable record a previous process wrote —
        so ``acknowledge(ping=True)`` works across restarts (ADVICE
        r9)."""
        src = self._slot_source.get(slot_name)
        if src is not None:
            return src
        try:
            with open(self._slot_source_path(slot_name)) as f:
                src = f.read().strip() or None
        except OSError:
            return None
        if src is not None:
            self._slot_source[slot_name] = src
        return src

    def acknowledge(
        self, slot_name: str, lsn: str, ping: bool = False
    ) -> str:
        """Manually acknowledge up to ``lsn`` (manual-ack mode,
        reference README.md:171-196 / service :254-300): records the
        slot's acknowledged position as ``lsn + 1`` with 32-bit carry —
        the reference's exact standby-status arithmetic
        (:258-272, ``model.ack_lsn``) — and emits ``acknowledge``.
        Returns the recorded position.

        ``ping=True`` ≙ the reference's second parameter
        (``acknowledge(lsn, ping)``, service :250-254 "Request server
        to respond"): the status frame appended to the frame log
        carries the reply-requested flag, and the relay forwards it
        upstream so the server answers with a keepalive. Only
        meaningful for slots subscribed with ``source='frames'`` — for
        text-format event logs there is no upstream to ping AND the
        Spark text source reads every non-hidden file in the log dir,
        so a binary status.log would be ingested as event data on the
        next (re)subscribe; the frame is skipped (gated on the source
        recorded at :meth:`subscribe`, not on the directory existing)."""
        from pg_logical_replication_spark.model import ack_lsn

        pos = ack_lsn(lsn)
        self._acked_lsn[slot_name] = pos
        if ping:
            src = self._resolve_slot_source(slot_name)
            if src == "frames":
                from pg_logical_replication_spark.sources.transport import (
                    FrameLogTailTransport,
                )

                if os.path.isdir(self.event_log_dir):
                    # frame builder re-applies +1 — send the raw lsn
                    FrameLogTailTransport(self.event_log_dir).send_standby_status(
                        lsn, ping=True
                    )
            elif src is None:
                # never silently drop a requested ping for a slot this
                # service has no record of (ADVICE r9)
                import warnings

                warnings.warn(
                    f"acknowledge(ping=True) for unknown slot "
                    f"{slot_name!r}: no in-memory or durable source "
                    "record — ping skipped (subscribe() records the "
                    "slot's source durably).",
                    stacklevel=2,
                )
        self._emit("acknowledge", lsn)
        return pos

    def acked_lsn(self, slot_name: str) -> str | None:
        """The slot's acknowledged position (None before any ack)."""
        return self._acked_lsn.get(slot_name)

    def last_lsn(self, slot_name: str) -> str | None:
        """Newest LSN whose batch the slot's sink has completed
        (≙ ``lastLsn()``, reference :65-68); None before any data."""
        return self._last_lsn.get(slot_name)

    def slot_status(self, slot_name: str) -> dict:
        """Monitoring readout ≙ what an operator reads from
        ``pg_replication_slots`` / ``pg_stat_replication`` on a live
        source: delivered position (``last_lsn``), acknowledged
        position (``acked_lsn`` — the slot's ``confirmed_flush_lsn``
        analogue), the newest durable WAL position in the event log
        (frame-log form), and the byte lag between log head and
        acknowledged position — the retention/alerting signal. Reads
        durable state, so it works with no live query; ``active``
        reflects the registered query handle.
        """
        from pg_logical_replication_spark.model import lsn_to_long

        newest = None
        try:  # text-line logs have no frame structure — lag unknown
            from pg_logical_replication_spark.sources.transport import (
                last_logged_lsn,
            )

            newest = last_logged_lsn(self.event_log_dir)
        except Exception:
            newest = None
        acked = self._acked_lsn.get(slot_name)
        lag = (
            max(lsn_to_long(newest) - lsn_to_long(acked), 0)
            if newest is not None and acked is not None
            else None
        )
        q = self._queries.get(slot_name)
        return {
            "slot": slot_name,
            "active": bool(q is not None and q.isActive),
            "last_lsn": self._last_lsn.get(slot_name),
            "acked_lsn": acked,
            "newest_lsn": newest,
            "lag_bytes": lag,
            "has_checkpoint": os.path.exists(self._checkpoint(slot_name)),
        }

    def replay_all(self, slot_name: str) -> None:
        """Drop the slot's checkpoint ⇒ next subscribe replays the whole
        log (≙ re-subscribing from ``0/00000000``,
        ``acknowledge.spec.ts:70-75``)."""
        cp = self._checkpoint(slot_name)
        if os.path.exists(cp):
            shutil.rmtree(cp)

    # ---------------------------------------------------------- lifecycle
    def is_stop(self) -> bool:
        """No live query (≙ ``isStop()``, reference :89-92)."""
        return all(not q.isActive for q in self._queries.values())

    def stop(self) -> None:
        """Stop all live queries; checkpoints survive for re-subscribe
        (≙ ``stop()`` keeping listeners, reference :98-118)."""
        for q in self._queries.values():
            if q.isActive:
                q.stop()

    def destroy(self) -> None:
        """stop + forget query handles (≙ ``destroy()``, :120-124).
        Checkpoints are durable state and are NOT deleted — that is
        ``replay_all``'s explicit job."""
        self.stop()
        self._queries.clear()
        self._slots_by_query.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None
