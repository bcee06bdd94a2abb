"""Layered CDC benchmark: a real change stream down the deployed path.

    PostgreSQL 15 (throwaway cluster) → WalsenderTransport → run_relay
    (its own process) → frame log → pg_cdc frames source → pgoutput
    decode → [commit gate, oltp_trickle only] → MergeOnReadTable

Run from the root of a checkout::

    python3 perfbench/run.py --workload oltp_trickle --seed 1 --seconds 10 --trace 0

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The full record (set-up
phases, failures by kind, sample counts, the traced breakdown, the host
and stack stamp) goes to stderr and to ``.bench_work/last_<workload>.json``.
All files live under ``.bench_work/`` in the checkout, and every
process the benchmark starts is stopped before it exits.

Correctness is checked in the same command: after the drain the
snapshot is compared key by key with PostgreSQL's own table (``COPY …
TO STDOUT``); changes never made visible and decode error rows count as
failures too.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SLOT = "bench"
PUBLICATION = "bench_pub"
KV_COLUMNS = {"id": "bigint", "grp": "integer", "val": "text", "ts_ns": "bigint"}
BIG_COLUMNS = {"id": "bigint", "ts_ns": "bigint", **{f"c{i:02d}": "text" for i in range(1, 21)}}
TRACED_READS = 4  # snapshot() queries the traced run times after the drain
DRAIN_TIMEOUT_S = 100

END_TO_END_UNITS = {
    "setup_s": "s",
    "changes_per_s": "changes/s",
    "visible_ms_p50": "ms",
    "visible_ms_p99": "ms",
    "rss_peak_mb": "MB",
}

PER_LAYER_UNITS = {
    "transport.frames": "count",
    "transport.bytes": "bytes",
    "transport.poll_busy_s": "s",
    "transport.status_sent": "count",
    "relay.append_busy_s": "s",
    "relay.frames_per_s": "frames/s",
    "relay.lag_bytes_max": "bytes",
    "datasource.batches": "count",
    "datasource.rows_per_batch_p50": "rows",
    "datasource.latest_offset_ms_p50": "ms",
    "datasource.trigger_ms_p50": "ms",
    "datasource.trigger_ms_p99": "ms",
    "datasource.wal_commit_ms_p50": "ms",
    "datasource.partitions_p50": "count",
    "datasource.cores_speedup": "ratio",
    "pgoutput.materialize_s": "s",
    "pgoutput.error_rows": "count",
    "pgoutput.replay_msgs_per_s": "msgs/s",
    "stateful.state_rows_max": "rows",
    "stateful.state_bytes_max": "bytes",
    "stateful.commit_ms_p50": "ms",
    "apply.calls": "count",
    "apply.busy_s": "s",
    "apply.ms_p50": "ms",
    "apply.ms_p99": "ms",
    "apply.files_written": "count",
    "apply.bytes_written": "bytes",
    "apply.log_partitions": "count",
    "apply.read_point_ms_p50": "ms",
    "apply.read_agg_ms_p50": "ms",
    "service.pickup_ms_p50": "ms",
    "service.ack_ms_p50": "ms",
    "service.ack_lag_bytes_max": "bytes",
    "service.jobs_per_batch_p50": "count",
    "gen.txns": "count",
    "gen.changes": "count",
    "gen.late_ms_max": "ms",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def p50(xs: list[float]) -> float:
    return stats.percentile(xs, 0.5) if xs else 0.0


def _frame_lsn(frame: bytes) -> int:
    """walStart of a 'w' frame, walEnd of a 'k' frame."""
    return int.from_bytes(frame[1:9], "big")


def _lsn(text: str) -> int:
    hi, lo = text.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


# ---------------------------------------------------------------- processes
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _subtree(root: int, kids: dict[int, list[int]]) -> set[int]:
    out, todo = set(), [root]
    while todo:
        p = todo.pop()
        if p not in out:
            out.add(p)
            todo.extend(kids.get(p, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Sampler(threading.Thread):
    """Calls ``fn`` once a second until stopped."""

    def __init__(self, fn):
        super().__init__(daemon=True)
        self.fn = fn
        self._stop_evt = threading.Event()
        self.error: Exception | None = None

    def run(self) -> None:
        while not self._stop_evt.is_set():
            try:
                self.fn()
            except Exception as e:  # noqa: BLE001 — re-raised by stop()
                self.error = e
                return
            self._stop_evt.wait(1.0)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=30)
        if self.error is not None:
            raise self.error


# ---------------------------------------------------------------- the run
class Bench:
    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool):
        self.root = root
        self.name = workload
        self.w = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(root, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
        self.log_dir = os.path.join(self.work, "frames")
        self.table = self.w["table"]
        self.columns = BIG_COLUMNS if self.table == "big" else KV_COLUMNS
        self.batches: dict[int, dict] = {}
        self.delivered_lsn = 0
        self.acks: dict[int, int] = {}
        self.reads: list[tuple[str, float]] = []
        self.rss_peak_kb = 0
        self.lag = {"relay": 0, "ack": 0}
        self.out: dict = {"workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace)}
        self.phases: dict[str, float] = {}
        self.query = None
        self.spark = None
        self._procs: list[subprocess.Popen] = []

    def _phase(self, name: str, fn, *args):
        t = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.phases[name] = time.perf_counter() - t

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        """Everything before the first timed commit: fresh cluster, Spark
        session, table load and bootstrap, slot, relay, warm stream.
        Independent steps overlap, as a deployment's start-up would."""
        from pg import PgCluster

        t0 = time.perf_counter()
        os.makedirs(self.work)
        def spark():
            self.spark = self._phase("spark_session", self._start_spark)

        def database():
            self.pg = self._phase(
                "pg_cluster", PgCluster(os.path.join(self.work, "pg"), self.w["pg_settings"]).start
            )
            self.sql = self.pg.connect()
            self._phase("pg_load", self._load_table)

        _parallel(spark, database)
        rows = self._create_slot()
        self._start_relay()
        self._warm_transaction()
        _parallel(lambda: self._phase("bootstrap", self._bootstrap, rows),
                  lambda: self._phase("relations", self._read_relations))
        self._phase("first_batch", self._subscribe)
        self.out["setup_s"] = time.perf_counter() - t0

    def _start_spark(self, cpus: int | None = None):
        from pg_logical_replication_spark.session import get_spark

        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        return get_spark(
            app_name="perfbench",
            cpus=cpus or os.cpu_count(),
            extra_conf={
                "spark.local.dir": local,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.memory": "3g",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.streaming.numRecentProgressUpdates": "10000",
            },
        )

    def _load_table(self) -> None:
        if self.table == "big":
            cols = ", ".join(f"{c} text NOT NULL" for c in BIG_COLUMNS if c.startswith("c"))
            self.sql.query(f"CREATE TABLE big (id bigint PRIMARY KEY, ts_ns bigint NOT NULL, {cols})")
        else:
            self.sql.query(
                "CREATE TABLE kv (id bigint PRIMARY KEY, grp integer NOT NULL, "
                "val text NOT NULL, ts_ns bigint NOT NULL);"
                f"INSERT INTO kv SELECT g, g % 100, md5(g::text || ':{self.seed}'), 0 "
                f"FROM generate_series(1, {self.w['base_rows']}) g"
            )
            self.sql.query("VACUUM ANALYZE kv")
        # the fence table: a one-row update committed after the last
        # change tells when everything before it has been delivered
        self.sql.query("CREATE TABLE fence (id int PRIMARY KEY, n bigint NOT NULL)")
        self.sql.query("INSERT INTO fence VALUES (1, 0)")
        self.sql.query(f"CREATE PUBLICATION {PUBLICATION} FOR TABLE {self.table}, fence")

    def _replication_conn(self):
        from pg_logical_replication_spark.sources.transport import WalsenderTransport

        return WalsenderTransport("127.0.0.1", self.pg.port, user="postgres", database="postgres")

    def _create_slot(self) -> list[bytes]:
        """The slot, and the table's rows as of its consistent point."""
        from pg_logical_replication_spark.sources.transport import copy_out
        from pg_logical_replication_spark.streaming.apply import MergeOnReadTable

        self.tbl = MergeOnReadTable(self.spark, os.path.join(self.work, "table"), ["id"], table=self.table)
        rep = self._replication_conn()
        try:
            slot = rep.create_replication_slot(SLOT, plugin="pgoutput")
            # nothing writes between the slot's consistent point and the
            # COPY, so the snapshot is exactly the slot's starting state
            rows = copy_out(rep, f"COPY {self.table} TO STDOUT") if self.w["base_rows"] else []
        finally:
            rep.close()
        self.start_lsn = slot["consistent_point"]
        return rows

    def _bootstrap(self, rows: list[bytes]) -> None:
        from pg_logical_replication_spark.sources.bootstrap import snapshot_dataframe

        if rows:
            snap = snapshot_dataframe(self.spark, rows, self.columns, os.path.join(self.work, "staging"))
            self.tbl.bootstrap(snap)

    def _start_relay(self) -> None:
        self.relay_stats = os.path.join(self.work, "relay_stats.json")
        self.relay = self._spawn([
            os.path.join(HERE, "relay_proc.py"),
            "--port", str(self.pg.port), "--slot", SLOT, "--start-lsn", self.start_lsn,
            "--publication", PUBLICATION, "--proto", str(self.w["proto"]),
            "--log-dir", self.log_dir, "--trace", str(int(self.trace)),
            "--stats-out", self.relay_stats,
        ])

    def _spawn(self, argv: list[str]) -> subprocess.Popen:
        p = subprocess.Popen([sys.executable, *argv], cwd=self.root)
        self._procs.append(p)
        return p

    def _warm_transaction(self) -> None:
        """One committed change on each published table before timing:
        their 'R' messages seed the relation registry the way a
        deployment builds it (``relations_from_frame_log``), and the
        change takes the first micro-batch's start-up cost."""
        if self.table == "big":
            vals = ", ".join("'warm'" for c in BIG_COLUMNS if c.startswith("c"))
            dml = f"INSERT INTO big VALUES (0, 0, {vals});"
        else:
            dml = "UPDATE kv SET ts_ns = 1 WHERE id = 1;"
        self.sql.query(f"BEGIN;{dml}UPDATE fence SET n = n + 1;COMMIT;")
        self._wait_for_relation_frames(2)

    def _read_relations(self) -> None:
        from pg_logical_replication_spark.sources.pgoutput import relations_from_frame_log

        self.relations = relations_from_frame_log(self.spark, self.log_dir)

    def _subscribe(self) -> None:
        self.svc = self._service()
        self.svc.on("data", self._on_data)
        self.svc.on("acknowledge", self._on_ack)
        self._start_query()
        self._wait_delivered(self._fence(), time.monotonic() + DRAIN_TIMEOUT_S)
        self.warm_batches = set(self.batches)

    def _start_query(self) -> None:
        # the same slot name resumes from the slot's checkpoint
        self.query = self.svc.subscribe(
            "pgoutput", SLOT, self._sink,
            decode_options={"relations": self.relations},
            available_now=False, source="frames",
        )

    def _fence(self) -> int:
        """Commit a fence transaction; return a WAL position inside it.

        Every row pgoutput sends for a transaction committed before the
        fence precedes the fence's rows in the stream, and only the
        fence's begin/commit rows carry a position at or beyond the
        returned one (a begin row carries its transaction's commit LSN,
        so the last data transaction's own position would be reached as
        soon as its begin row is delivered, before its last change)."""
        rows, _ = self.sql.query(
            "BEGIN;UPDATE fence SET n = n + 1;SELECT pg_current_wal_insert_lsn();COMMIT;"
        )
        return _lsn(rows[0][0])

    def _service(self):
        from pg_logical_replication_spark.streaming.service import LogicalReplicationService

        ckpt = os.path.join(self.work, "checkpoints")
        if self.w["proto"] < 2:
            return LogicalReplicationService(self.spark, self.log_dir, ckpt)
        from pg_logical_replication_spark.streaming.stateful import resolve_transactions_gate

        class GatedService(LogicalReplicationService):
            """The deployed service with the commit gate between decode
            and the sink: protocol 2 streams large transactions before
            their commit, and only the gate holds them back until then."""

            def changes(self, fmt, source="files", **decode_options):
                return resolve_transactions_gate(super().changes(fmt, source=source, **decode_options))

        return GatedService(self.spark, self.log_dir, ckpt)

    def _wait_for_relation_frames(self, n: int) -> None:
        from pg_logical_replication_spark.sources.transport import FrameLogTailTransport

        deadline = time.monotonic() + 60
        tail = FrameLogTailTransport(self.log_dir)
        seen = 0
        while time.monotonic() < deadline:
            # a 'w' frame is tag, walStart, walEnd, sendTime, then the payload
            seen += sum(fr[:1] == b"w" and fr[25:26] == b"R" for fr in tail.poll())
            if seen >= n:
                return
            self._check_procs()
            time.sleep(0.05)
        raise RuntimeError(f"relay logged {seen} of {n} relation messages within 60 s")

    # ------------------------------------------------------------ stream
    def _on_data(self, lsn: str, batch_id: int) -> None:
        self.delivered_lsn = max(self.delivered_lsn, _lsn(lsn))

    def _on_ack(self, lsn: str) -> None:
        self.acks[_lsn(lsn)] = time.time_ns()

    def _sink(self, batch_df, batch_id: int) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        rec = {"entry_ns": time.time_ns()}
        # decode failures surface as op='error' rows: counted by an
        # observation riding apply_batch's own first job, not a job of
        # its own
        errors = Observation(f"decode_errors_{batch_id}")
        observed = batch_df.observe(errors, F.count_if(F.col("op") == "error").alias("n"))
        if self.trace:
            tracker = self.spark.sparkContext.statusTracker()
            rec["jobs_before"] = len(tracker.getJobIdsForGroup(self._job_group()))
            t = time.perf_counter()
            batch_df.count()  # fills the cache subscribe() persists: source + demux + decode
            rec["materialize_s"] = time.perf_counter() - t
            rec["partitions"] = batch_df.rdd.getNumPartitions()
        t = time.perf_counter()
        self.tbl.apply_batch(observed, batch_id)
        rec["end_ns"] = time.time_ns()
        rec["apply_s"] = time.perf_counter() - t
        # apply_batch leaves its delivery profile (row count, max LSN) on
        # the frame it was given for the service to ack from; hand it on
        # so the service runs no aggregate of its own
        delivery = getattr(observed, "_plrs_delivery", None)
        if delivery is not None:
            batch_df._plrs_delivery = delivery
        rec["max_lsn"] = None if delivery is None else delivery["m"]
        rec["error_rows"] = errors.get["n"]
        if self.trace:
            rec["jobs_after"] = len(tracker.getJobIdsForGroup(self._job_group()))
        self.batches[batch_id] = rec

    def _job_group(self) -> str:
        return str(self.query.runId) if self.query is not None else ""

    def _wait_delivered(self, fence: int, deadline: float) -> None:
        while self.delivered_lsn < fence:
            if time.monotonic() > deadline:
                raise RuntimeError("the stream did not deliver the fence position in time")
            if self.query.exception() is not None:
                raise RuntimeError(f"streaming query failed: {self.query.exception()}")
            self._check_procs()
            time.sleep(0.01)

    def _check_procs(self) -> None:
        for p in self._procs:
            rc = p.poll()
            if rc not in (None, 0):
                raise RuntimeError(f"{p.args[1]} exited with {rc}")

    # ------------------------------------------------------------ timed phase
    def measure(self) -> None:
        """The timed phase. The small-transaction workload is timed from
        its first commit. The huge transaction commits while the consumer
        is stopped and is timed from the consumer's restart, once the
        relay has logged all of it: the drain then starts from the same
        state on every run. Live, the transaction reaches the log over a
        second or more and the micro-batch that happens to be planned
        meanwhile takes part of it, so the drain took one or two batches
        at random."""
        gen_out = os.path.join(self.work, "gen.json")
        backlog = self.w["kind"] == "huge"
        if backlog:
            self.query.stop()
        samplers = [Sampler(self._sample_rss)]
        if self.trace:
            self._lag_conn = self.pg.connect()
            samplers.append(Sampler(self._sample_lag))
        for s in samplers:
            s.start()
        t0_ns = time.time_ns() + 200_000_000
        gen = self._spawn([
            os.path.join(HERE, "gen.py"), "--port", str(self.pg.port), "--workload", self.name,
            "--seed", str(self.seed), "--seconds", str(self.seconds), "--t0-ns", str(t0_ns),
            "--out", gen_out,
        ])
        self.gen_pid = gen.pid
        try:
            deadline = time.monotonic() + self.seconds + DRAIN_TIMEOUT_S
            while gen.poll() is None:
                if time.monotonic() > deadline:
                    raise RuntimeError("the generator did not finish in time")
                self._check_procs()
                time.sleep(0.05)
            if gen.returncode != 0:
                raise RuntimeError(f"the generator exited with {gen.returncode}")
            with open(gen_out) as f:
                self.gen = json.load(f)["txs"]
            fence = self._fence()
            if backlog:
                self._wait_logged(fence, deadline)
                self.drain_start_ns = time.time_ns()
                self._start_query()
            else:
                self.drain_start_ns = self.gen[0]["commit_ns"]
            self.out["drain_start_ms"] = (self.drain_start_ns - self.gen[0]["due_ns"]) / 1e6
            self._wait_delivered(fence, deadline)
        finally:
            for s in samplers:
                s.stop()
            if self.trace:
                self._lag_conn.close()

    def _wait_logged(self, lsn: int, deadline: float) -> None:
        """Until the relay has logged a frame at or past ``lsn``."""
        from pg_logical_replication_spark.sources.transport import FrameLogTailTransport

        tail = FrameLogTailTransport(self.log_dir)
        while not any(fr[:1] in (b"w", b"k") and _frame_lsn(fr) >= lsn for fr in tail.poll()):
            if time.monotonic() > deadline:
                raise RuntimeError("the relay did not log the fence position in time")
            self._check_procs()
            time.sleep(0.01)

    def _sample_rss(self) -> None:
        kids = _children()
        sut = _subtree(os.getpid(), kids)
        for pid in (self.pg.proc.pid, getattr(self, "gen_pid", None)):
            if pid is not None:
                sut -= _subtree(pid, kids)
        self.rss_peak_kb = max(self.rss_peak_kb, sum(_rss_kb(p) for p in sut))

    def _sample_lag(self) -> None:
        wal = _lsn(self._lag_conn.scalar("SELECT pg_current_wal_lsn()"))
        st = self.svc.slot_status(SLOT)
        if st["newest_lsn"] is not None:
            self.lag["relay"] = max(self.lag["relay"], wal - _lsn(st["newest_lsn"]))
        if st["lag_bytes"] is not None:
            self.lag["ack"] = max(self.lag["ack"], st["lag_bytes"])

    # ------------------------------------------------------------ after the run
    def finish(self) -> dict:
        # the last batch's progress is posted after its sink returned
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            last = self.query.lastProgress
            if last is not None and last.batchId >= max(self.batches):
                break
            time.sleep(0.05)
        self.query.stop()
        if self.relay.poll() is None:
            self.relay.terminate()
        self.relay.wait(timeout=30)
        box: dict = {}
        _parallel(lambda: box.update(images=self._phase("read_table_log", self._images)),
                  lambda: box.update(mism=self._phase("compare_with_postgres",
                                                      self._compare_with_postgres)))
        images, mism = box["images"], box["mism"]
        ends = {b: r["end_ns"] for b, r in self.batches.items()}
        lat_all, missing, last_visible = stats.attribute_visibility(self.gen, images, ends)
        # a burst's own rows measure the gate's drain, not freshness:
        # their cost shows as the latency of the small changes behind it
        fresh = [tx for tx in self.gen if tx["kind"] != "burst"]
        lat = stats.attribute_visibility(fresh, images, ends)[0]
        error_rows = sum(r["error_rows"] for r in self.batches.values())
        n_changes = sum(len(stats.expand(c)) for tx in self.gen for c in tx["changes"])
        failed = stats.error_count(missing, mism, error_rows)
        p99q, p99 = stats.tail_percentile(lat, 0.99)
        e2e = {
            "setup_s": self.out["setup_s"],
            "changes_per_s": stats.rate(len(lat_all), self.drain_start_ns, last_visible),
            "visible_ms_p50": stats.percentile(lat, 0.5),
            "visible_ms_p99": p99,
            "rss_peak_mb": self.rss_peak_kb / 1024,
        }
        timed = {b: r for b, r in sorted(self.batches.items()) if b not in self.warm_batches}
        self.out.update({
            "attempted": n_changes,
            "failed": failed,
            "error_rate": failed / n_changes,
            "failures": {"missing_changes": missing, **mism, "decode_error_rows": error_rows},
            "samples": {"visible": len(lat), "visible_p99_q": p99q, "batches": len(timed)},
            "generator": self._generator_summary(n_changes),
            "end_to_end": e2e,
            "batches": [
                {"id": b, "entry_ms": (r["entry_ns"] - self.gen[0]["due_ns"]) / 1e6,
                 "apply_ms": r["apply_s"] * 1000}
                for b, r in timed.items()
            ],
        })
        if self.trace:
            self.out["per_layer"] = self._per_layer(timed, images, e2e)
        self.out["phases_s"] = self.phases
        return self.out

    def _images(self) -> list[tuple[int, str, int, int | None]]:
        from pyspark.sql import functions as F

        log_df = self.spark.read.parquet(self.tbl.path).filter(F.col("batch") >= 0)
        ident = F.coalesce(F.col("after").getItem("id"), F.col("key").getItem("id")).cast("long")
        # -1 for a tombstone's missing stamp keeps the column int64 (a
        # null would turn it into float64 and round the nanoseconds)
        ts = F.coalesce(F.col("after").getItem("ts_ns").cast("long"), F.lit(-1))
        rows = log_df.select("batch", "op", ident.alias("id"), ts.alias("ts")).toPandas()
        return list(zip(rows["batch"].tolist(), rows["op"].tolist(), rows["id"].tolist(),
                        [None if t < 0 else t for t in rows["ts"].tolist()]))

    def _compare_with_postgres(self) -> dict[str, int]:
        """Missing, extra and different keys between ``snapshot()`` and
        PostgreSQL's table, read with ``copy_out`` + ``snapshot_dataframe``.
        Rows compare by a digest of every column's text form, computed
        by PostgreSQL on its side and by Spark over the snapshot's images
        (pgoutput carries the same text forms)."""
        from pyspark.sql import functions as F

        from pg_logical_replication_spark.sources.bootstrap import snapshot_dataframe
        from pg_logical_replication_spark.sources.transport import copy_out

        cols = list(self.columns)
        pg_digest = ", ".join(f"coalesce({c}::text, '\\N')" for c in cols)
        rep = self._replication_conn()
        try:
            rows = copy_out(rep, f"COPY (SELECT id, md5(concat_ws('|', {pg_digest})) "
                                 f"FROM {self.table}) TO STDOUT")
        finally:
            rep.close()
        want = snapshot_dataframe(self.spark, rows, {"p_id": "bigint", "p_digest": "text"},
                                  os.path.join(self.work, "expected"))
        after = F.col("after")
        got = self.tbl.snapshot().select(
            after.getItem("id").cast("long").alias("m_id"),
            F.md5(F.concat_ws("|", *[F.coalesce(after.getItem(c), F.lit("\\N")) for c in cols]))
            .alias("m_digest"),
        )
        both = F.col("p_id").isNotNull() & F.col("m_id").isNotNull()
        r = want.join(got, F.col("p_id") == F.col("m_id"), "full_outer").agg(
            F.count_if(F.col("m_id").isNull()).alias("missing_keys"),
            F.count_if(F.col("p_id").isNull()).alias("extra_keys"),
            F.count_if(both & (F.col("p_digest") != F.col("m_digest"))).alias("different_keys"),
        ).first()
        self.out["pg_rows"] = len(rows)
        return {k: int(r[k]) for k in ("missing_keys", "extra_keys", "different_keys")}

    def _generator_summary(self, n_changes: int) -> dict:
        return {
            "gen.txns": len(self.gen),
            "gen.changes": n_changes,
            "gen.late_ms_max": max((t["start_ns"] - t["due_ns"]) / 1e6 for t in self.gen),
            "offered_tx_per_s": self.w.get("rate"),
            "base_rows": self.w["base_rows"],
            "burst_rows": self.w.get("burst_rows", 0),
        }

    # ------------------------------------------------------------ traced run
    def _per_layer(self, timed: dict, images, e2e: dict) -> dict:
        with open(self.relay_stats) as f:
            layer = json.load(f)
        recs = list(timed.values())
        progress = [p for p in self.query.recentProgress
                    if p.batchId not in self.warm_batches and p.numInputRows > 0]
        dur = [p.durationMs for p in progress]
        trig = [d.get("triggerExecution", 0) for d in dur]
        apply_ms = [r["apply_s"] * 1000 for r in recs]
        ops = [s for p in progress for s in p.stateOperators]
        rng = random.Random(self.seed + 1)
        for n in range(TRACED_READS):
            self._read_once("point" if n % 2 == 0 else "agg", rng)
        gen = self._generator_summary(self.out["attempted"])
        layer.update({
            "relay.lag_bytes_max": self.lag["relay"],
            "datasource.batches": len(recs),
            "datasource.rows_per_batch_p50": p50([p.numInputRows for p in progress]),
            "datasource.latest_offset_ms_p50": p50([d.get("latestOffset", 0) for d in dur]),
            "datasource.trigger_ms_p50": p50(trig),
            "datasource.trigger_ms_p99": stats.tail_percentile(trig, 0.99)[1] if trig else 0.0,
            "datasource.wal_commit_ms_p50": p50([d.get("walCommit", 0) for d in dur]),
            "datasource.partitions_p50": p50([r["partitions"] for r in recs]),
            "pgoutput.materialize_s": sum(r["materialize_s"] for r in recs),
            "pgoutput.error_rows": sum(r["error_rows"] for r in recs),
            "stateful.state_rows_max": max((s.numRowsTotal for s in ops), default=0),
            "stateful.state_bytes_max": max((s.memoryUsedBytes for s in ops), default=0),
            "stateful.commit_ms_p50": p50([s.commitTimeMs for s in ops]),
            "apply.calls": len(recs),
            "apply.busy_s": sum(r["apply_s"] for r in recs),
            "apply.ms_p50": p50(apply_ms),
            "apply.ms_p99": stats.tail_percentile(apply_ms, 0.99)[1],
            "apply.read_point_ms_p50": p50([ms for k, ms in self.reads if k == "point"]),
            "apply.read_agg_ms_p50": p50([ms for k, ms in self.reads if k == "agg"]),
            "service.jobs_per_batch_p50": p50([r["jobs_after"] - r["jobs_before"] for r in recs]),
            "service.ack_lag_bytes_max": self.lag["ack"],
            **self._table_files(),
            **self._service_timings(recs, images),
            **{k: v for k, v in gen.items() if k.startswith("gen.")},
        })
        layer["pgoutput.replay_msgs_per_s"] = self._phase("replay_decode", self._replay_decode)
        self.out["breakdown"] = self._breakdown(layer, recs, images, e2e)
        layer["datasource.cores_speedup"] = 0.0  # measured on the throughput workload only
        if self.w["kind"] == "huge":
            one = self._phase("one_core_drain", self._one_core_rate)
            layer["datasource.cores_speedup"] = e2e["changes_per_s"] / one
            self.out["breakdown"]["drain_changes_per_s"] = {
                f"cores_{os.cpu_count()}": e2e["changes_per_s"], "cores_1": one,
            }
        return layer

    def _read_once(self, kind: str, rng: random.Random) -> None:
        from pyspark.sql import functions as F

        t = time.perf_counter()
        snap = self.tbl.snapshot()
        if kind == "point":
            key = rng.randint(1, max(self.w["base_rows"], 1))
            snap.filter(F.col("after").getItem("id") == str(key)).collect()
        else:
            snap.agg(F.count("*"), F.max(F.col("after").getItem("ts_ns").cast("long"))).collect()
        self.reads.append((kind, (time.perf_counter() - t) * 1000))

    def _service_timings(self, recs: list[dict], images) -> dict:
        # pickup: the newest change stamp a batch carries → its sink entry
        newest: dict[int, int] = {}
        for due, b in stats.visible_batches(self.gen, images)[0]:
            newest[b] = max(newest.get(b, due), due)
        pickup = [(self.batches[b]["entry_ns"] - due) / 1e6 for b, due in newest.items()
                  if b in self.batches]
        # ack: apply_batch return → the service's 'acknowledge' event
        ack = [(self.acks[r["max_lsn"]] - r["end_ns"]) / 1e6 for r in recs
               if r["max_lsn"] in self.acks]
        return {"service.pickup_ms_p50": p50(pickup), "service.ack_ms_p50": p50(ack)}

    def _table_files(self) -> dict:
        files = nbytes = parts = 0
        for d in os.listdir(self.tbl.path):
            full = os.path.join(self.tbl.path, d)
            if not d.startswith("batch=") or d == "batch=-1" or not os.path.isdir(full):
                continue
            parts += 1
            for f in os.listdir(full):
                if f.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(full, f))
        return {"apply.files_written": files, "apply.bytes_written": nbytes,
                "apply.log_partitions": parts}

    def _breakdown(self, layer: dict, recs: list[dict], images, e2e: dict) -> dict:
        """How far the layer timings explain the headline number, the
        unexplained remainder, and the tracing overhead against this
        checkout's untraced runs of the same workload."""
        if self.w["kind"] == "huge":
            # the restarted query plans its first batch over the whole
            # logged transaction before the sink is entered
            parts = {"service.restart_to_sink_s": (recs[0]["entry_ns"] - self.drain_start_ns) / 1e9,
                     "pgoutput.materialize_s": layer["pgoutput.materialize_s"],
                     "apply.busy_s": layer["apply.busy_s"]}
            whole = ("drain_s", (recs[-1]["end_ns"] - self.drain_start_ns) / 1e9)
        else:
            parts = {"service.pickup_ms_p50": layer["service.pickup_ms_p50"],
                     "pgoutput.materialize_ms_p50": p50([r["materialize_s"] * 1000 for r in recs]),
                     "apply.ms_p50": layer["apply.ms_p50"],
                     "service.ack_ms_p50": layer["service.ack_ms_p50"]}
            whole = ("visible_ms_p50", e2e["visible_ms_p50"])
        out = {"explains": whole[0], whole[0]: whole[1], "parts": parts,
               "remainder": whole[1] - sum(parts.values())}
        if self.w["kind"] != "huge":
            # the same split per change: a change first waits for the
            # micro-batch that picks it up (behind the one running when it
            # committed), then rides that batch's materialize and apply
            fresh = [tx for tx in self.gen if tx["kind"] != "burst"]
            per = [(self.batches[b]["entry_ns"] - due) / 1e6 for due, b in
                   stats.visible_batches(fresh, images)[0] if b in self.batches]
            on = [b for _, b in stats.visible_batches(fresh, images)[0] if b in self.batches]
            per_change = {
                "wait_for_batch_ms_p50": p50(per),
                "materialize_ms_p50": p50([self.batches[b]["materialize_s"] * 1000 for b in on]),
                "apply_ms_p50": p50([self.batches[b]["apply_s"] * 1000 for b in on]),
            }
            out["per_change"] = per_change
            out["per_change_remainder"] = whole[1] - sum(per_change.values())
        untraced = _untraced_medians(self.root, self.name)
        out["tracing_overhead"] = {
            k: {"traced": e2e[k], "untraced_median": v, "ratio": e2e[k] / v}
            for k, v in untraced.items()
        } or "no untraced run of this workload in this checkout yet"
        return out

    def _replay_decode(self) -> float:
        """Batch replay of the run's frame log through ``decode_pgoutput``
        into the noop sink: the decode kernel's parallel ceiling."""
        from pyspark.sql import functions as F

        from pg_logical_replication_spark.sources.pgoutput import decode_pgoutput
        from pg_logical_replication_spark.sources.wire import demux_copy_stream

        raw = self.spark.read.format("pg_cdc").option("path", self.log_dir).load()
        dm = demux_copy_stream(raw, passthrough=("lsn", "seq")).filter(F.col("msg_type") == "w")
        msgs = dm.count()
        t = time.perf_counter()
        decoded = decode_pgoutput(dm.select("lsn", "seq", F.col("payload").alias("data")),
                                  relations=self.relations)
        decoded.write.format("noop").mode("overwrite").save()
        return msgs / (time.perf_counter() - t)

    def _one_core_rate(self) -> float:
        """The same backlog drain with Spark on one core: the run's frame
        log replayed through a fresh single-core session into a new
        table, timed from the subscribe call to the last apply."""
        from pg_logical_replication_spark.streaming.apply import MergeOnReadTable
        from pg_logical_replication_spark.streaming.service import LogicalReplicationService

        self.spark.stop()
        self.spark = None
        self.spark = self._start_spark(cpus=1)
        tbl = MergeOnReadTable(self.spark, os.path.join(self.work, "table_1core"), ["id"], table=self.table)
        ends: list[int] = []

        def sink(batch_df, batch_id):
            tbl.apply_batch(batch_df, batch_id)
            ends.append(time.time_ns())

        svc = LogicalReplicationService(self.spark, self.log_dir, os.path.join(self.work, "ckpt_1core"))
        start = time.time_ns()
        q = svc.subscribe("pgoutput", "one_core", sink, decode_options={"relations": self.relations},
                          available_now=True, source="frames")
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            q.stop()
            raise RuntimeError("the one-core drain did not finish in time")
        # the replay also applies the warm-up row
        return stats.rate(self.out["attempted"] + 1, start, ends[-1])

    # ------------------------------------------------------------ teardown
    def close(self) -> None:
        if self.query is not None:
            try:
                self.query.stop()
            except Exception as e:  # noqa: BLE001 — teardown continues
                log(f"stopping the query: {e}")
        for p in self._procs:
            if p.poll() is None:
                p.terminate()
        for p in self._procs:
            try:
                p.wait(timeout=30)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
        if hasattr(self, "sql"):
            self.sql.close()
        if hasattr(self, "pg"):
            self.pg.stop()
        if self.spark is not None:
            # the JVM and the Python workers it forked
            spark_tree = _subtree(os.getpid(), _children()) - {os.getpid()}
            self.spark.stop()
            _stop_jvm()
            _wait_gone(spark_tree, timeout=30)
        shutil.rmtree(self.work, ignore_errors=True)


def _stop_jvm() -> None:
    """The py4j gateway JVM outlives ``SparkSession.stop()`` and exits
    when its stdin closes; close it and wait for the exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _wait_gone(pids: set[int], timeout: float) -> None:
    """Wait until none of ``pids`` runs any more; SIGKILL what is left
    at the timeout. Workers orphaned by the JVM's exit leave on their
    own once their pipe to it closes."""
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in pids if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            if time.monotonic() > deadline + 5:
                return
        time.sleep(0.05)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _parallel(*fns) -> None:
    """Run each function in its own thread; re-raise the first error."""
    errors: list[Exception] = []

    def run(fn):
        try:
            fn()
        except Exception as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(fn,)) for fn in fns]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def _untraced_log(root: str, workload: str) -> str:
    return os.path.join(root, ".bench_work", f"untraced_{workload}.jsonl")


def _untraced_medians(root: str, workload: str) -> dict[str, float]:
    try:
        with open(_untraced_log(root, workload)) as f:
            runs = [json.loads(line) for line in f if line.strip()]
    except FileNotFoundError:
        return {}
    keys = ("visible_ms_p50", "changes_per_s")
    return {k: stats.percentile([r[k] for r in runs], 0.5) for k in keys} if runs else {}


def stamp(seconds: int) -> dict:
    """Host and stack identity: a number taken on another host is not
    comparable with one taken on this host."""
    def version(cmd: list[str]) -> str:
        try:
            out = subprocess.run(cmd, capture_output=True, text=True, timeout=30)
            return (out.stdout or out.stderr).strip().splitlines()[0]
        except (OSError, IndexError, subprocess.TimeoutExpired):
            return "unknown"

    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": version(["java", "-version"]),
        "postgres": version(["postgres", "--version"]),
        "run_seconds": seconds,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pg_logical_replication_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout that holds "
              "pg_logical_replication_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.dont_write_bytecode = True
    tmp = os.path.join(root, ".bench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({"TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp, "PYTHONDONTWRITEBYTECODE": "1"})

    bench = Bench(root, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        bench.setup()
        bench.measure()
        out = bench.finish()
    finally:
        bench.close()
    out["host"] = stamp(args.seconds)
    log(json.dumps(out, indent=1))
    with open(os.path.join(root, ".bench_work", f"last_{args.workload}.json"), "w") as f:
        json.dump(out, f, indent=1)
    if args.trace:
        metrics = {k: {"value": out["per_layer"][k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": out["end_to_end"][k], "unit": u} for k, u in END_TO_END_UNITS.items()}
        with open(_untraced_log(root, args.workload), "a") as f:
            f.write(json.dumps(out["end_to_end"]) + "\n")
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
