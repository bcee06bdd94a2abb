"""The relay process: replication slots → durable frame logs.

Deployment shape (SCALE.md 'Transport ingest is serial BY DESIGN'): this
process owns the single ordered walsender connection the protocol
allows per slot, appends raw COPY frames to the segment log Spark tails
(``pg_cdc`` ``transport=frames`` / ``subscribe(source='frames')``), and
forwards the Standby Status Updates Spark's checkpoint commits append to
``status.log`` back up the live connection — closing the slot-advance
loop end-to-end. Spark scale-out happens downstream of the log.

One relay step (:class:`_SlotRelay`) serves every slot: poll, append,
forward recorded acks, re-ack on the status timer. One loop
(:func:`_relay`) drives a set of steps; :func:`run_relay` is its
one-slot case and :func:`run_multi_relay` its N-slot case. The
``__main__`` CLI wires either to a real endpoint::

    python -m pg_logical_replication_spark.relay \\
        --host pg --port 5432 --user rep --database app \\
        --slot my_slot --plugin wal2json \\
        --option format-version=2 --log-dir /data/wal/my_slot
"""

from __future__ import annotations

import os
import time

from pg_logical_replication_spark.model import ack_lsn, long_to_lsn
from pg_logical_replication_spark.sources.transport import (
    FrameLogWriter,
    WalsenderTransport,
    WalTransport,
    last_logged_lsn,
    read_statuses_since,
)


class _SlotRelay:
    """One slot's relay state: its transport, its frame-log writer and
    its ``status.log`` read cursor."""

    def __init__(
        self,
        name: str,
        transport: WalTransport,
        log_dir: str,
        segment_frames: int,
        rotate_bytes: int,
    ):
        self.name = name
        self.transport = transport
        self.log_dir = log_dir
        self.segment_frames = segment_frames
        self.writer = FrameLogWriter(
            log_dir, segment_frames=segment_frames, rotate_bytes=rotate_bytes
        )
        self.ack_off = 0
        self.last_flushed: int | None = None
        self.last_status = time.monotonic()
        self.total = 0

    def forward_acks(self) -> bool:
        """Send the statuses recorded since the last call upstream —
        O(new acks). Returns whether any went."""
        statuses, self.ack_off = read_statuses_since(self.log_dir, self.ack_off)
        for s in statuses:
            # re-send at the recorded position (standby_status_frame
            # re-applies +1, so step back one byte)
            self.transport.send_standby_status(
                long_to_lsn(s["flushed"] - 1), ping=s["ping"]
            )
        if statuses:
            self.last_flushed = statuses[-1]["flushed"]
        return bool(statuses)

    def step(self, status_interval: float) -> int:
        """Poll, append, forward acks; returns the frames written."""
        wrote = self.writer.append(
            self.transport.poll(max_frames=self.segment_frames)
        )
        self.total += wrote
        now = time.monotonic()
        due = now - self.last_status >= status_interval
        if wrote or due:
            sent = self.forward_acks()
            if not sent and due:
                # No downstream ack progress within the interval —
                # whether the relay is idle OR under sustained traffic
                # with a lagging/absent consumer: re-ack the last
                # recorded position so wal_sender_timeout (default 60s)
                # never fires (reference :238-247 re-acks on every
                # timer expiry regardless of traffic); zero-position
                # keepalive before any ack.
                self.transport.send_standby_status(
                    long_to_lsn(self.last_flushed - 1)
                    if self.last_flushed is not None
                    else "0/00000000"
                )
            if sent or due:
                # last_status tracks when a Standby Status Update
                # actually went upstream — resetting it on mere frame
                # traffic starved the keepalive under load.
                self.last_status = now
        return wrote


def _relay(
    slots: list[_SlotRelay],
    poll_interval: float,
    status_interval: float,
    stop_after_frames: int | None,
    stop_after_seconds: float | None,
    isolate_errors: bool = False,
    failures: dict[str, str] | None = None,
) -> None:
    """Round-robin ``slots`` until a stop condition, then flush acks.

    Transports are non-blocking, so one thread is the whole scheduler:
    no slot can starve another for longer than one drain.
    ``stop_after_frames`` bounds the total across slots."""
    live = list(slots)
    started = time.monotonic()
    while True:
        wrote = 0
        for s in list(live):
            try:
                wrote += s.step(status_interval)
            except (ConnectionError, OSError) as e:
                if not isolate_errors:
                    raise
                # one dead slot must not take down the others:
                # everything relayed so far is already durable in its
                # frame log; record and stop polling this slot only
                if failures is not None:
                    failures[s.name] = f"{type(e).__name__}: {e}"
                live.remove(s)
        if stop_after_frames is not None and (
            sum(s.total for s in slots) >= stop_after_frames
        ):
            break
        if (
            stop_after_seconds is not None
            and time.monotonic() - started >= stop_after_seconds
        ):
            break
        if not live:
            break  # every slot failed: nothing left to poll
        if not wrote:
            time.sleep(poll_interval)
    # final ack flush so a drain-style run leaves nothing behind
    for s in live:
        s.forward_acks()


def run_relay(
    transport: WalTransport,
    log_dir: str,
    poll_interval: float = 0.2,
    status_interval: float = 10.0,
    segment_frames: int = 100_000,
    rotate_bytes: int = 256 * 1024 * 1024,
    stop_after_frames: int | None = None,
    stop_after_seconds: float | None = None,
) -> int:
    """Drain ``transport`` into ``log_dir`` until a stop condition.

    * frames append to numbered segments via
      :class:`~pg_logical_replication_spark.sources.transport.FrameLogWriter`,
      rotating at ``segment_frames`` frames or ``rotate_bytes`` bytes
      (whichever first) so batch readers get file parallelism and
      retention can drop whole segments — every polled frame is
      written, and a crash-restart resumes into the last segment with
      any torn tail truncated;
    * acks recorded by the Spark reader are forwarded upstream at least
      every ``status_interval`` seconds (the reference's standby-status
      timer, ``logical-replication-service.ts:240-248``); when the
      interval elapses with NO new recorded acks, the last status is
      re-sent anyway — the reference re-acks ``lastLsn`` on every
      timeout (``:238-247``) so an idle slot never trips
      ``wal_sender_timeout``;
    * ``stop_after_frames`` / ``stop_after_seconds`` bound the loop for
      tests and drain-style invocations; with neither, runs forever.
      ``stop_after_seconds=0`` makes one pass: poll and append once,
      then forward every recorded ack.

    Returns the total frame count relayed.
    """
    slot = _SlotRelay("", transport, log_dir, segment_frames, rotate_bytes)
    _relay(
        [slot], poll_interval, status_interval,
        stop_after_frames, stop_after_seconds,
    )
    return slot.total


def run_multi_relay(
    transports: dict[str, WalTransport],
    base_dir: str,
    poll_interval: float = 0.2,
    status_interval: float = 10.0,
    segment_frames: int = 100_000,
    rotate_bytes: int = 256 * 1024 * 1024,
    stop_after_frames: int | None = None,
    stop_after_seconds: float | None = None,
    isolate_errors: bool = False,
    failures: dict[str, str] | None = None,
) -> dict[str, int]:
    """Multiplex SEVERAL replication slots through one relay process.

    SCALE.md's ingest story is "N slots × N transports feeding a durable
    frame log": one slot is one ordered walsender connection (protocol
    constraint), so scale-out happens by running more slots — this
    runner drives them all from a single loop, each slot landing in its
    own segment directory ``<base_dir>/<name>/`` with an INDEPENDENT
    frame-log writer and ack cursor (one Spark session then tails N
    directories as N sources). Per-slot rotation, resume and re-ack are
    :func:`run_relay`'s, because both run the same step.

    ``stop_after_frames`` bounds the TOTAL across slots (a drain-style
    invocation). Returns per-slot relayed frame counts.

    ``isolate_errors=True`` keeps the other N-1 slots flowing when one
    transport dies (ConnectionError/OSError): the failed slot stops
    being polled, its error lands in the caller-supplied ``failures``
    dict ({name: message}), and everything it relayed before the
    failure stays durable in its frame log — the multi-slot analogue
    of the reference emitting per-message 'error' events without
    halting the queue. Default remains fail-fast (raise), the right
    behavior when a supervisor owns restarts.
    """
    slots = [
        _SlotRelay(
            name, t, os.path.join(base_dir, name), segment_frames, rotate_bytes
        )
        for name, t in transports.items()
    ]
    _relay(
        slots, poll_interval, status_interval,
        stop_after_frames, stop_after_seconds, isolate_errors, failures,
    )
    return {s.name: s.total for s in slots}


def main(argv: list[str] | None = None) -> int:
    import argparse

    p = argparse.ArgumentParser(
        description="Relay one PostgreSQL logical-replication slot into a "
        "frame log for the pg_cdc Spark source."
    )
    p.add_argument("--host", required=True)
    p.add_argument("--port", type=int, default=5432)
    p.add_argument("--user", required=True)
    p.add_argument("--database", required=True)
    p.add_argument("--password", default=None)
    p.add_argument(
        "--slot", required=True, action="append",
        help="slot name (repeatable: N slots multiplex through one "
        "relay process, each landing in <log-dir>/<slot>/)",
    )
    p.add_argument(
        "--plugin", default="pgoutput",
        choices=["pgoutput", "wal2json", "test_decoding", "decoderbufs"],
    )
    p.add_argument(
        "--option", action="append", default=[], metavar="K=V",
        help="plugin option (repeatable), serialized per plugin",
    )
    p.add_argument("--start-lsn", default="0/00000000")
    p.add_argument(
        "--resume", action="store_true",
        help="start from the log's last recorded WAL position instead of "
        "--start-lsn (crash-restart without duplicating frames)",
    )
    p.add_argument("--create-slot", action="store_true")
    p.add_argument("--log-dir", required=True)
    p.add_argument("--poll-interval", type=float, default=0.2)
    p.add_argument("--status-interval", type=float, default=10.0)
    p.add_argument("--segment-frames", type=int, default=100_000)
    p.add_argument(
        "--rotate-bytes", type=int, default=256 * 1024 * 1024,
        help="seal a segment at this byte size even before "
        "--segment-frames is reached (no frame is ever dropped)",
    )
    args = p.parse_args(argv)

    options = dict(kv.split("=", 1) for kv in args.option)

    def connect(slot: str, log_dir: str) -> WalsenderTransport:
        t = WalsenderTransport(
            args.host, args.port, user=args.user,
            database=args.database, password=args.password,
        )
        if args.create_slot:
            t.create_replication_slot(slot, plugin=args.plugin)
        start_lsn = args.start_lsn
        if args.resume:
            logged = last_logged_lsn(log_dir)
            if logged is not None:
                # the byte after the last durable frame
                start_lsn = ack_lsn(logged)
        t.start_replication(slot, start_lsn, options=options, plugin=args.plugin)
        return t

    # one slot relays into --log-dir itself, several into <log-dir>/<slot>/
    dirs = (
        {args.slot[0]: args.log_dir}
        if len(args.slot) == 1
        else {slot: os.path.join(args.log_dir, slot) for slot in args.slot}
    )
    slots: list[_SlotRelay] = []
    try:
        for slot, log_dir in dirs.items():
            slots.append(_SlotRelay(
                slot, connect(slot, log_dir), log_dir,
                args.segment_frames, args.rotate_bytes,
            ))
        _relay(slots, args.poll_interval, args.status_interval, None, None)
    finally:
        for s in slots:
            s.transport.close()
    return 0


if __name__ == "__main__":  # pragma: no cover - CLI shim
    raise SystemExit(main())
