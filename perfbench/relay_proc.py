"""Relay process: ``WalsenderTransport`` → ``run_relay`` → frame log.

The deployed relay shape (one process per slot), started by the
benchmark. With ``--trace 1`` the transport handed to ``run_relay`` is
wrapped in a timing proxy and ``FrameLogWriter.append`` in a timer, so
the relay layer is measured from outside its own code. SIGTERM ends
the loop; the counters are then written to ``--stats-out``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time


class TimedTransport:
    """Forwards every call to the real transport and counts frames,
    bytes, busy polling time and status updates sent upstream."""

    def __init__(self, inner):
        self._inner = inner
        self.frames = 0
        self.bytes = 0
        self.poll_busy_s = 0.0
        self.status_sent = 0

    def poll(self, max_frames=None):
        t = time.perf_counter()
        frames = self._inner.poll(max_frames)
        self.poll_busy_s += time.perf_counter() - t
        self.frames += len(frames)
        self.bytes += sum(len(f) for f in frames)
        return frames

    def send_standby_status(self, lsn, ping=False):
        self.status_sent += 1
        return self._inner.send_standby_status(lsn, ping)

    def close(self):
        return self._inner.close()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--slot", required=True)
    ap.add_argument("--start-lsn", required=True)
    ap.add_argument("--publication", required=True)
    ap.add_argument("--proto", type=int, default=1)
    ap.add_argument("--log-dir", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--stats-out", required=True)
    args = ap.parse_args()

    sys.path.insert(0, os.getcwd())
    from pg_logical_replication_spark.relay import run_relay
    from pg_logical_replication_spark.sources import transport as tr

    def _stop(signum, frame):
        raise SystemExit(0)

    signal.signal(signal.SIGTERM, _stop)

    conn = tr.WalsenderTransport("127.0.0.1", args.port, user="postgres", database="postgres")
    options = {"proto_version": args.proto, "publication_names": args.publication}
    if args.proto >= 2:
        options["streaming"] = True
    conn.start_replication(args.slot, args.start_lsn, options=options, plugin="pgoutput")

    transport = conn
    appends = {"busy_s": 0.0, "frames": 0, "first": None, "last": None}
    if args.trace:
        transport = TimedTransport(conn)
        real_append = tr.FrameLogWriter.append

        def timed_append(self, frames):
            t = time.perf_counter()
            n = real_append(self, frames)
            end = time.perf_counter()
            if n:
                appends["busy_s"] += end - t
                appends["frames"] += n
                appends["first"] = appends["first"] or t
                appends["last"] = end
            return n

        tr.FrameLogWriter.append = timed_append
    try:
        run_relay(transport, args.log_dir)
    finally:
        conn.close()
        if args.trace:
            span = (appends["last"] or 0) - (appends["first"] or 0)
            stats = {
                "transport.frames": transport.frames,
                "transport.bytes": transport.bytes,
                "transport.poll_busy_s": transport.poll_busy_s,
                "transport.status_sent": transport.status_sent,
                "relay.append_busy_s": appends["busy_s"],
                "relay.frames_per_s": appends["frames"] / span if span > 0 else 0.0,
            }
            with open(args.stats_out + ".tmp", "w") as f:
                json.dump(stats, f)
            os.replace(args.stats_out + ".tmp", args.stats_out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
