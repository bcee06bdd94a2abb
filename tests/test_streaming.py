"""Structured Streaming layer E2E — the behavioral matrix of the
reference's lifecycle specs, hermetic over a file event log:

* drain + apply        ≙ decoder specs' insert/update/delete scenarios
* resume from slot     ≙ acknowledge.spec.ts:32-69 (stop/continue keeps
                         position; no double-delivery)
* replay_all           ≙ acknowledge.spec.ts:70-75 (re-subscribe from
                         0/00000000 re-delivers everything) — and the MOR
                         sink's idempotent partition overwrite means the
                         snapshot is STILL correct after full replay
                         (at-least-once source + idempotent sink).
* bounded micro-batches≙ flow-control.spec.ts (maxFilesPerTrigger=1 ⇒
                         one changeset per batch, applied in order)
"""

import json
import os

import pytest

from pg_logical_replication_spark.streaming import (
    LogicalReplicationService,
    MergeOnReadTable,
)


def _changeset(xid: int, lsn: str, ts_sec: int, changes: list[dict]) -> str:
    return json.dumps(
        {
            "change": changes,
            "xid": xid,
            "nextlsn": lsn,
            "timestamp": f"2026-08-13 00:00:{ts_sec:02d}.000000+00",
        }
    )


def _ins(table: str, row: dict) -> dict:
    return {
        "kind": "insert",
        "schema": "public",
        "table": table,
        "columnnames": list(row),
        "columntypes": ["bigint" if isinstance(v, int) else "text" for v in row.values()],
        "columnvalues": list(row.values()),
    }


def _upd(table: str, row: dict, key: dict) -> dict:
    d = _ins(table, row)
    d["kind"] = "update"
    d["oldkeys"] = {
        "keynames": list(key),
        "keytypes": ["bigint"],
        "keyvalues": list(key.values()),
    }
    return d


def _del(table: str, key: dict) -> dict:
    return {
        "kind": "delete",
        "schema": "public",
        "table": table,
        "oldkeys": {
            "keynames": list(key),
            "keytypes": ["bigint"],
            "keyvalues": list(key.values()),
        },
    }


BATCH1 = [
    _changeset(701, "0/1000100", 0, [_ins("users", {"id": 1, "name": "alice"}),
                                     _ins("users", {"id": 2, "name": "bob"})]),
    _changeset(702, "0/1000200", 1, [_upd("users", {"id": 1, "name": "alice2"}, {"id": 1})]),
]
BATCH2 = [
    _changeset(703, "0/1000300", 2, [_del("users", {"id": 2})]),
    _changeset(704, "0/1000400", 3, [_ins("users", {"id": 3, "name": "carol"})]),
]


@pytest.fixture()
def log_dirs(tmp_path):
    log = tmp_path / "wal"
    log.mkdir()
    return str(log), str(tmp_path / "ckpt"), str(tmp_path / "mor")


_MTIME_SEQ = iter(range(1_000_000))


def _append(log_dir: str, name: str, lines: list[str]) -> None:
    p = os.path.join(log_dir, name)
    with open(p, "w") as f:
        f.write("\n".join(lines) + "\n")
    # file-source batch order is modification time, not name — pin it so
    # same-instant writes can't reorder micro-batches
    import time

    ts = time.time() - 10_000 + next(_MTIME_SEQ) * 10
    os.utime(p, (ts, ts))


def _names(table: MergeOnReadTable) -> set[str]:
    snap = table.snapshot()
    return {r["after"]["name"] for r in snap.collect()} if snap is not None else set()


def test_stream_drain_apply_and_resume(spark, log_dirs):
    log, ckpt, mor = log_dirs
    svc = LogicalReplicationService(spark, log, ckpt)
    table = MergeOnReadTable(spark, mor, key_columns=["id"], table="users")

    _append(log, "000.jsonl", BATCH1)
    svc.subscribe_and_wait("wal2json", "slot1", table.writer())
    assert _names(table) == {"alice2", "bob"}
    assert svc.last_lsn("slot1") == "0/1000200"

    # resume: only the new file is processed (offsets committed ≙ acked)
    _append(log, "001.jsonl", BATCH2)
    svc.subscribe_and_wait("wal2json", "slot1", table.writer())
    assert _names(table) == {"alice2", "carol"}
    assert svc.last_lsn("slot1") == "0/1000400"


def test_event_emitter_surface(spark, log_dirs):
    """on('start'/'data'/'acknowledge') ≙ the reference's EventEmitter
    (logical-replication-service.ts:37-46); is_stop() ≙ isStop()."""
    log, ckpt, mor = log_dirs
    svc = LogicalReplicationService(spark, log, ckpt, max_files_per_trigger=1)
    table = MergeOnReadTable(spark, mor, key_columns=["id"], table="users")
    events = []
    svc.on("start", lambda slot: events.append(("start", slot)))
    svc.on("data", lambda lsn, bid: events.append(("data", lsn)))
    svc.on("acknowledge", lambda lsn: events.append(("ack", lsn)))

    _append(log, "000.jsonl", BATCH1[:1])
    _append(log, "001.jsonl", BATCH1[1:])
    svc.subscribe_and_wait("wal2json", "slot1", table.writer())
    assert events[0] == ("start", "slot1")
    assert ("data", "0/1000100") in events and ("ack", "0/1000200") in events
    # acks arrive in LSN order, one per delivered micro-batch
    assert [e[1] for e in events if e[0] == "ack"] == ["0/1000100", "0/1000200"]
    assert svc.is_stop()


def test_error_isolation_mode(spark, log_dirs):
    """isolate_errors=True ≙ flow-control handler-error isolation
    (:213-216): error event fires, the stream continues, and the failed
    batch does NOT replay on re-subscribe (its offsets committed)."""
    log, ckpt, _ = log_dirs
    svc = LogicalReplicationService(spark, log, ckpt, max_files_per_trigger=1)
    errors, seen = [], []
    svc.on("error", errors.append)

    def flaky_sink(df, batch_id):
        rows = {r["lsn"] for r in df.select("lsn").collect()}
        if "0/1000100" in rows:
            raise RuntimeError("handler boom")
        seen.append(sorted(rows))

    _append(log, "000.jsonl", BATCH1[:1])   # lsn 0/1000100 → sink raises
    _append(log, "001.jsonl", BATCH1[1:])   # lsn 0/1000200 → ok
    svc.subscribe_and_wait("wal2json", "slot1", flaky_sink, isolate_errors=True)
    assert len(errors) == 1 and "boom" in str(errors[0])
    assert seen == [["0/1000200"]]
    # failed batch was acked anyway — a fresh drain delivers nothing new
    seen.clear()
    svc.subscribe_and_wait("wal2json", "slot1", flaky_sink, isolate_errors=True)
    assert seen == []


def test_snapshot_as_of_lsn_time_travel(spark, log_dirs):
    """Table-as-of-LSN: each WAL position reconstructs the table state
    at that point; compaction bounds how far back history reaches."""
    log, ckpt, mor = log_dirs
    # one changeset per file + one file per micro-batch: as-of granularity
    # is the micro-batch (apply_batch folds superseded images at write)
    svc = LogicalReplicationService(spark, log, ckpt, max_files_per_trigger=1)
    table = MergeOnReadTable(spark, mor, key_columns=["id"], table="users")
    for i, cs in enumerate(BATCH1 + BATCH2):
        _append(log, f"{i:03d}.jsonl", [cs])
    svc.subscribe_and_wait("wal2json", "slot1", table.writer())

    def names_at(lsn):
        snap = table.snapshot(as_of_lsn=lsn)
        return {r["after"]["name"] for r in snap.collect()}

    assert names_at("0/1000100") == {"alice", "bob"}   # before the update
    assert names_at("0/1000200") == {"alice2", "bob"}  # update applied
    assert names_at("0/1000300") == {"alice2"}         # bob deleted
    assert names_at("0/1000400") == {"alice2", "carol"}
    # compaction folds superseded images: current state unchanged, but
    # pre-update history is no longer reconstructible (alice's v1 gone)
    table.compact()
    assert names_at("0/1000400") == {"alice2", "carol"}
    assert names_at("0/1000100") == set()


def test_replay_all_is_idempotent_through_mor_sink(spark, log_dirs):
    log, ckpt, mor = log_dirs
    svc = LogicalReplicationService(spark, log, ckpt)
    table = MergeOnReadTable(spark, mor, key_columns=["id"], table="users")

    _append(log, "000.jsonl", BATCH1)
    _append(log, "001.jsonl", BATCH2)
    svc.subscribe_and_wait("wal2json", "slot1", table.writer())
    before = _names(table)

    # ≙ acknowledge.spec.ts:70-75 — replay from 0/00000000 re-delivers
    # all changes; the idempotent sink keeps the snapshot identical.
    svc.replay_all("slot1")
    svc.subscribe_and_wait("wal2json", "slot1", table.writer())
    assert _names(table) == before == {"alice2", "carol"}


def test_bounded_microbatches_preserve_order(spark, log_dirs):
    log, ckpt, mor = log_dirs
    # flow control: one file per trigger ⇒ ordered single-changeset batches
    svc = LogicalReplicationService(spark, log, ckpt, max_files_per_trigger=1)
    table = MergeOnReadTable(spark, mor, key_columns=["id"], table="users")
    seen: list[int] = []

    def sink(df, batch_id):
        table.apply_batch(df, batch_id)
        seen.append(batch_id)

    _append(log, "000.jsonl", BATCH1[:1])
    _append(log, "001.jsonl", BATCH1[1:])
    _append(log, "002.jsonl", BATCH2)
    svc.subscribe_and_wait("wal2json", "slot1", sink)
    assert seen == sorted(seen) and len(seen) >= 3
    assert _names(table) == {"alice2", "carol"}


def test_compact_preserves_snapshot(spark, log_dirs):
    log, ckpt, mor = log_dirs
    svc = LogicalReplicationService(spark, log, ckpt)
    table = MergeOnReadTable(spark, mor, key_columns=["id"], table="users")
    _append(log, "000.jsonl", BATCH1)
    svc.subscribe_and_wait("wal2json", "slot1", table.writer())

    table.compact()
    assert _names(table) == {"alice2", "bob"}

    # post-compact stream continues to apply on top of the folded base
    _append(log, "001.jsonl", BATCH2)
    svc.subscribe_and_wait("wal2json", "slot1", table.writer())
    assert _names(table) == {"alice2", "carol"}


def test_typed_snapshot_columns(spark, log_dirs):
    log, ckpt, mor = log_dirs
    svc = LogicalReplicationService(spark, log, ckpt)
    table = MergeOnReadTable(spark, mor, key_columns=["id"], table="users")
    _append(log, "000.jsonl", BATCH1)
    svc.subscribe_and_wait("wal2json", "slot1", table.writer())

    typed = table.snapshot_columns({"id": "bigint", "name": "text"})
    rows = {r["id"]: r["name"] for r in typed.collect()}
    assert rows == {1: "alice2", 2: "bob"}
    assert dict(typed.dtypes) == {"id": "bigint", "name": "string"}


def test_stop_and_destroy_are_safe(spark, log_dirs):
    log, ckpt, _ = log_dirs
    svc = LogicalReplicationService(spark, log, ckpt)
    _append(log, "000.jsonl", BATCH1)
    q = svc.subscribe("wal2json", "slot1", lambda df, bid: None)
    q.awaitTermination()
    svc.stop()
    svc.destroy()  # ≙ destroy(): idempotent, keeps the checkpoint
    assert os.path.exists(os.path.join(ckpt, "slot1"))


def test_heartbeat_listener_surface(spark, log_dirs):
    """on('heartbeat') fires from the StreamingQueryListener with the
    slot name and last acked LSN — the reference's primary-keepalive
    event surface (logical-replication-service.ts:165-171) expressed as
    query-progress liveness."""
    import time

    log, ckpt, _ = log_dirs
    _append(log, "000.jsonl", [_changeset(1, "0/100", 1, [_ins("t", {"id": 1})])])
    _append(log, "001.jsonl", [_changeset(2, "0/200", 2, [_ins("t", {"id": 2})])])

    svc = LogicalReplicationService(spark, log, ckpt, max_files_per_trigger=1)
    beats: list[tuple] = []
    svc.on("heartbeat", lambda slot, ts, lsn: beats.append((slot, ts, lsn)))
    svc.subscribe_and_wait("wal2json", "hb_slot", lambda df, bid: df.count())

    # listener-bus delivery is asynchronous — wait until the beat that
    # carries the final acked position arrives (not just the first one)
    deadline = time.time() + 15
    while not any(b[2] == "0/200" for b in beats) and time.time() < deadline:
        time.sleep(0.2)
    assert beats, "no heartbeat delivered within 15s"
    assert {b[0] for b in beats} == {"hb_slot"}
    assert any(b[2] == "0/200" for b in beats), beats
    svc.destroy()  # removes the listener


def test_bootstrap_then_stream_catchup(spark, log_dirs):
    """Initial load + catchup: a consistent snapshot bootstraps the MOR
    table as synthetic inserts at LSN 0, then the live stream applies on
    top — stream changes win per key, untouched snapshot rows survive
    (the copy step the reference leaves to the user before
    subscribe(…, uptoLsn), logical-replication-service.ts:134-137)."""
    log, ckpt, mor = log_dirs
    table = MergeOnReadTable(spark, mor, key_columns=["id"], table="users")
    snap = spark.createDataFrame(
        [(2, "old_bob"), (9, "zed")], "id long, name string"
    )
    # batch=-1 partition: below the stream's id space, so stream batch 0
    # replay can't overwrite the initial load
    table.bootstrap(snap)
    assert _names(table) == {"old_bob", "zed"}

    svc = LogicalReplicationService(spark, log, ckpt)
    _append(log, "000.jsonl", BATCH1)
    _append(log, "001.jsonl", BATCH2)
    svc.subscribe_and_wait("wal2json", "slot_boot", table.writer())
    # id 1 inserted+updated, id 2 snapshot row deleted by the stream,
    # id 3 inserted, id 9 untouched from the snapshot
    assert _names(table) == {"alice2", "carol", "zed"}


def test_observed_metrics_event_surface(spark, log_dirs):
    """on('metrics') delivers per-micro-batch op counters computed by
    DataFrame.observe inside the streaming plan — no second scan — the
    engine's form of the per-kind counters the reference's consumers
    keep by hand (decoder-test.spec.ts:37-41)."""
    import time

    log, ckpt, _ = log_dirs
    _append(log, "000.jsonl", [_changeset(1, "0/100", 1, [
        _ins("t", {"id": 1}), _ins("t", {"id": 2}),
        _upd("t", {"id": 1, "v": "x"}, {"id": 1}), _del("t", {"id": 2}),
    ])])

    svc = LogicalReplicationService(spark, log, ckpt)
    got: list[tuple] = []
    svc.on("metrics", lambda slot, m: got.append((slot, m)))
    svc.subscribe_and_wait("wal2json", "m_slot", lambda df, bid: df.count())

    deadline = time.time() + 15
    while not got and time.time() < deadline:
        time.sleep(0.2)
    assert got, "no metrics event within 15s"
    slot, m = got[0]
    assert slot == "m_slot"
    assert m["n_changes"] == 4
    assert (m["n_inserts"], m["n_updates"], m["n_deletes"]) == (2, 1, 1)
    svc.destroy()


def test_manual_acknowledge_mode(spark, log_dirs):
    """auto_acknowledge=False ≙ the reference's acknowledge:{auto:false}
    (README.md:171-196): delivery advances last_lsn and fires 'data',
    but the acknowledged slot position only moves on an explicit
    acknowledge() call — which applies the +1/32-bit-carry arithmetic
    (service :258-272)."""
    log, ckpt, _ = log_dirs
    _append(log, "000.jsonl", [_changeset(1, "0/100", 1, [_ins("t", {"id": 1})])])

    svc = LogicalReplicationService(spark, log, ckpt)
    acks: list[str] = []
    svc.on("acknowledge", lambda lsn: acks.append(lsn))
    svc.subscribe_and_wait(
        "wal2json", "man_slot", lambda df, bid: df.count(),
        auto_acknowledge=False,
    )
    assert svc.last_lsn("man_slot") == "0/100"   # delivery tracked
    assert svc.acked_lsn("man_slot") is None     # but nothing acked
    assert acks == []

    pos = svc.acknowledge("man_slot", svc.last_lsn("man_slot"))
    # stored position = received + 1 with carry (standby-status form);
    # the event carries the raw lsn, matching the reference's
    # emit('acknowledge', lsn)
    assert pos == "00000000/00000101" == svc.acked_lsn("man_slot")
    assert acks == ["0/100"]

    # auto mode records the same +1 standby-status form
    _append(log, "001.jsonl", [_changeset(2, "0/200", 2, [_ins("t", {"id": 2})])])
    svc.subscribe_and_wait("wal2json", "man_slot", lambda df, bid: df.count())
    assert svc.acked_lsn("man_slot") == "00000000/00000201"
    assert acks[-1] == "0/200"
    svc.destroy()


def test_stream_exact_dedup_across_batches(spark, tmp_path):
    """streaming/dedup.py: duplicates are suppressed ACROSS micro-batches
    (state keyed on the md5 digest, bounded by the watermark horizon)."""
    import json
    import time

    from pg_logical_replication_spark.streaming.dedup import stream_exact_dedup

    d = str(tmp_path / "docs")
    os.makedirs(d)
    cp = str(tmp_path / "cp")
    schema = "doc_id long, text string, ts timestamp"

    def write_batch(name, rows):
        with open(os.path.join(d, name), "w") as f:
            for rid, text, ts in rows:
                f.write(json.dumps({"doc_id": rid, "text": text, "ts": ts}) + "\n")

    write_batch("b0.jsonl", [
        (1, "alpha", "2024-01-01 00:00:00"),
        (2, "beta", "2024-01-01 00:00:01"),
        (3, "alpha", "2024-01-01 00:00:02"),  # intra-batch dup
    ])

    got = []
    stream = spark.readStream.schema(schema).json(d)
    q = (
        stream_exact_dedup(stream, watermark="1 hour")
        .writeStream.foreachBatch(lambda df, _b: got.extend(df.collect()))
        .option("checkpointLocation", cp)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while len(got) < 2 and time.time() < deadline:
            time.sleep(0.1)
        assert sorted(r["doc_id"] for r in got) == [1, 2]

        # next micro-batch: one cross-batch dup, one new doc
        write_batch("b1.jsonl", [
            (4, "alpha", "2024-01-01 00:10:00"),  # dup of doc 1
            (5, "gamma", "2024-01-01 00:10:01"),
        ])
        while len(got) < 3 and time.time() < deadline:
            time.sleep(0.1)
        time.sleep(1)  # allow a spurious 4th row to surface if buggy
        assert sorted(r["doc_id"] for r in got) == [1, 2, 5]
    finally:
        q.stop()


def test_bootstrap_refuses_nonempty_log(spark, tmp_path):
    """bootstrap() shares batch=-1 with compact()'s base: on a non-empty
    log it must refuse instead of silently overwriting history."""
    from pg_logical_replication_spark.streaming.apply import MergeOnReadTable

    tbl = MergeOnReadTable(
        spark, str(tmp_path / "t"), key_columns=["id"], table="t"
    )
    snap = spark.createDataFrame([(1, "a")], "id long, v string")
    tbl.bootstrap(snap)  # empty log: fine
    got = tbl.snapshot_columns({"id": "bigint", "v": "text"}).collect()
    assert [(r["id"], r["v"]) for r in got] == [(1, "a")]
    with pytest.raises(ValueError, match="empty MOR log"):
        tbl.bootstrap(snap)


def test_subscribe_frames_source_end_to_end(spark, tmp_path):
    """service.subscribe(source='frames'): the live-connection path at
    the service surface — frame log → pg_cdc frames transport → JVM
    demux → wal2json decode → MOR snapshot, acks advancing."""
    import json
    import struct
    import time

    from pg_logical_replication_spark.sources.transport import write_frame
    from pg_logical_replication_spark.streaming.apply import MergeOnReadTable
    from pg_logical_replication_spark.streaming.service import (
        LogicalReplicationService,
    )

    log = str(tmp_path / "wal")
    os.makedirs(log)
    seg = os.path.join(log, "000001.seg")

    def w2j_frame(rid, lsn_long):
        payload = json.dumps({
            "change": [{
                "kind": "insert", "schema": "public", "table": "t",
                "columnnames": ["id", "v"], "columntypes": ["bigint", "text"],
                "columnvalues": [rid, f"v{rid}"],
            }],
            "nextlsn": f"0/{lsn_long:X}",
        }).encode()
        return (
            b"w" + struct.pack(">QQQ", lsn_long, lsn_long + 8, 0) + payload
        )

    with open(seg, "ab") as f:
        for i in range(4):
            write_frame(f, w2j_frame(i, 0x5000 + 8 * i))

    svc = LogicalReplicationService(spark, log, str(tmp_path / "cp"))
    tbl = MergeOnReadTable(
        spark, str(tmp_path / "tbl"), key_columns=["id"], table="t"
    )
    q = svc.subscribe(
        "wal2json", "frames_slot", tbl.writer(),
        available_now=False, source="frames",
    )
    try:
        deadline = time.time() + 30
        while svc.last_lsn("frames_slot") is None and time.time() < deadline:
            time.sleep(0.1)
        # lsn comes from the frame header (walStart), zero-padded form
        assert svc.last_lsn("frames_slot") == "00000000/00005018"
        snap = tbl.snapshot_columns({"id": "bigint", "v": "text"})
        got = {(r["id"], r["v"]) for r in snap.collect()}
        assert got == {(i, f"v{i}") for i in range(4)}

        # append → becomes visible through the same subscription
        with open(seg, "ab") as f:
            write_frame(f, w2j_frame(9, 0x5100))
        while (
            svc.last_lsn("frames_slot") != "00000000/00005100"
            and time.time() < deadline
        ):
            time.sleep(0.1)
        assert svc.last_lsn("frames_slot") == "00000000/00005100"
    finally:
        q.stop()


def test_resubscribe_replaces_live_query(spark, log_dirs):
    """subscribe() on a live slot stops the previous stream first (the
    reference's subscribe begins with stop()), instead of racing two
    queries on one checkpoint."""
    from pg_logical_replication_spark.streaming.service import (
        LogicalReplicationService,
    )

    log, ckpt, _ = log_dirs
    _append(
        log, "000.jsonl",
        [_changeset(1, "0/10", 0, [_ins("t", {"id": 1, "v": "a"})])],
    )
    svc = LogicalReplicationService(spark, log, ckpt)
    got = []
    q1 = svc.subscribe(
        "wal2json", "s1", lambda df, b: got.extend(df.collect()),
        available_now=False,
    )
    assert q1.isActive
    q2 = svc.subscribe(
        "wal2json", "s1", lambda df, b: got.extend(df.collect()),
        available_now=False,
    )
    try:
        assert not q1.isActive
        assert q2.isActive
    finally:
        q2.stop()


def test_subscribe_frames_source_pgoutput_binary(spark, tmp_path):
    """frames source with the BINARY format: pgoutput messages ride the
    'w' payloads, relation decoded in-band, snapshot correct."""
    import struct
    import time

    from pg_logical_replication_spark.sources import pgoutput_format as pf
    from pg_logical_replication_spark.sources.transport import write_frame
    from pg_logical_replication_spark.streaming.apply import MergeOnReadTable
    from pg_logical_replication_spark.streaming.service import (
        LogicalReplicationService,
    )

    log = str(tmp_path / "wal")
    os.makedirs(log)

    def frame(lsn_long, payload):
        return b"w" + struct.pack(">QQQ", lsn_long, lsn_long + 8, 0) + payload

    msgs = [
        pf.encode_begin("0/6000", 0, 900),
        pf.encode_relation(16390, "public", "t", [("id", 20), ("v", 25)],
                           key_columns=["id"]),
        pf.encode_insert(16390, [("t", "1"), ("t", "a")]),
        pf.encode_insert(16390, [("t", "2"), ("t", "b")]),
        pf.encode_commit("0/6000", "0/6008", 0),
    ]
    with open(os.path.join(log, "000001.seg"), "ab") as f:
        for i, m in enumerate(msgs):
            write_frame(f, frame(0x6000 + 8 * i, m))

    svc = LogicalReplicationService(spark, log, str(tmp_path / "cp"))
    tbl = MergeOnReadTable(
        spark, str(tmp_path / "tbl"), key_columns=["id"], table="t"
    )
    q = svc.subscribe(
        "pgoutput", "bin_slot", tbl.writer(),
        available_now=False, source="frames",
    )
    try:
        deadline = time.time() + 30
        got = set()
        while len(got) < 2 and time.time() < deadline:
            snap = tbl.snapshot_columns({"id": "bigint", "v": "text"})
            if snap is not None:
                got = {(r["id"], r["v"]) for r in snap.collect()}
            time.sleep(0.2)
        assert got == {(1, "a"), (2, "b")}
    finally:
        q.stop()


def test_subscribe_frames_source_decoderbufs_binary(spark, tmp_path):
    """frames source with the OTHER binary format: decoderbufs protobuf
    payloads must ride as bytes (a string cast would corrupt them)."""
    import struct
    import time

    from pg_logical_replication_spark.sources import decoderbufs_format as dbf
    from pg_logical_replication_spark.sources.transport import write_frame
    from pg_logical_replication_spark.streaming.service import (
        LogicalReplicationService,
    )

    log = str(tmp_path / "wal")
    os.makedirs(log)
    msgs = [
        dbf.encode_row_message(
            op="insert", xid=7, commit_time_us=0, table="public.t",
            new_tuple=[
                dbf.encode_datum("id", 20, int64=1),
                dbf.encode_datum("v", 25, string="a"),
            ],
        ),
        dbf.encode_row_message(
            op="insert", xid=7, commit_time_us=0, table="public.t",
            new_tuple=[
                dbf.encode_datum("id", 20, int64=2),
                dbf.encode_datum("v", 25, string="b"),
            ],
        ),
    ]
    with open(os.path.join(log, "000001.seg"), "ab") as f:
        for i, m in enumerate(msgs):
            lsn = 0x8000 + 8 * i
            write_frame(f, b"w" + struct.pack(">QQQ", lsn, lsn + 8, 0) + m)

    svc = LogicalReplicationService(spark, log, str(tmp_path / "cp"))
    got = []
    q = svc.subscribe(
        "decoderbufs", "db_slot",
        lambda df, _b: got.extend(df.collect()),
        available_now=False, source="frames",
    )
    try:
        deadline = time.time() + 30
        while len(got) < 2 and time.time() < deadline:
            time.sleep(0.1)
        ids = sorted((r["after"] or {}).get("id") for r in got)
        assert ids == ["1", "2"], got
    finally:
        q.stop()


def test_frames_pgoutput_unseen_relation_degrades_to_error_rows(
    spark, tmp_path
):
    """r3 advice: DML whose Relation 'R' message arrived before this
    stream's start offset (e.g. a checkpoint restart resuming past it)
    must degrade to op='error' rows, not crash the query; passing the
    relations= registry through changes() decodes them fully."""
    import struct
    import time

    from pg_logical_replication_spark.sources import pgoutput_format as pf
    from pg_logical_replication_spark.sources.transport import write_frame
    from pg_logical_replication_spark.streaming.service import (
        LogicalReplicationService,
    )

    def frame(lsn_long, payload):
        return b"w" + struct.pack(">QQQ", lsn_long, lsn_long + 8, 0) + payload

    # NO R message in the log: the stream starts mid-slot
    msgs = [
        pf.encode_begin("0/7000", 0, 901),
        pf.encode_insert(16391, [("t", "1"), ("t", "x")]),
        pf.encode_commit("0/7000", "0/7008", 0),
    ]

    def write_log(d):
        os.makedirs(d)
        with open(os.path.join(d, "000001.seg"), "ab") as f:
            for i, m in enumerate(msgs):
                write_frame(f, frame(0x7000 + 8 * i, m))

    # 1) without a registry: the insert degrades to an error row
    log1 = str(tmp_path / "wal1")
    write_log(log1)
    svc = LogicalReplicationService(spark, log1, str(tmp_path / "cp1"))
    got = []
    q = (
        svc.changes("pgoutput", source="frames")
        .writeStream.foreachBatch(lambda df, _b: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "cp1"))
        .trigger(processingTime="150 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while len(got) < 3 and time.time() < deadline:
            time.sleep(0.1)
        ops = [r["op"] for r in got]
        assert ops == ["begin", "error", "commit"]
        err = got[1]
        assert "unseen relation oid 16391" in err["meta"]["error"]
        assert err["meta"]["msg_type"] == "I"
    finally:
        q.stop()

    # 2) with the registry plumbed through changes(): full decode
    log2 = str(tmp_path / "wal2")
    write_log(log2)
    rel = pf.RelationInfo(
        oid=16391, schema="public", name="t", replica_identity="d",
        columns=[
            {"name": "id", "type_oid": 20, "flags": 1, "type_mod": -1},
            {"name": "v", "type_oid": 25, "flags": 0, "type_mod": -1},
        ],
        key_columns=["id"],
    )
    svc2 = LogicalReplicationService(spark, log2, str(tmp_path / "cp2"))
    got2 = []
    q2 = (
        svc2.changes("pgoutput", source="frames", relations={16391: rel})
        .writeStream.foreachBatch(lambda df, _b: got2.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "cp2"))
        .trigger(processingTime="150 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while len(got2) < 3 and time.time() < deadline:
            time.sleep(0.1)
        assert [r["op"] for r in got2] == ["begin", "insert", "commit"]
        assert got2[1]["after"] == {"id": "1", "v": "x"}
        assert got2[1]["table"] == "t"
    finally:
        q2.stop()


def test_slot_status_lag_readout(spark, tmp_path):
    """slot_status(): the pg_replication_slots-style monitoring
    surface — delivered/acked positions, newest durable WAL position
    in the frame log, and lag_bytes = log head − acked (clamped >= 0);
    works with no live query and reflects ack progress."""
    import json
    import struct
    import time

    from pg_logical_replication_spark.sources.transport import write_frame
    from pg_logical_replication_spark.streaming.apply import MergeOnReadTable
    from pg_logical_replication_spark.streaming.service import (
        LogicalReplicationService,
    )

    log = str(tmp_path / "wal")
    os.makedirs(log)
    seg = os.path.join(log, "000001.seg")

    def w2j_frame(rid, lsn_long):
        payload = json.dumps({
            "change": [{
                "kind": "insert", "schema": "public", "table": "t",
                "columnnames": ["id"], "columntypes": ["bigint"],
                "columnvalues": [rid],
            }],
        }).encode()
        return b"w" + struct.pack(">QQQ", lsn_long, lsn_long + 8, 0) + payload

    with open(seg, "ab") as f:
        for i in range(3):
            write_frame(f, w2j_frame(i, 0x9000 + 8 * i))

    svc = LogicalReplicationService(spark, log, str(tmp_path / "cp"))
    # before any subscription: durable log head visible, nothing acked
    st = svc.slot_status("s1")
    assert st == {
        "slot": "s1", "active": False, "last_lsn": None,
        "acked_lsn": None, "newest_lsn": "00000000/00009010",
        "lag_bytes": None, "has_checkpoint": False,
    }

    tbl = MergeOnReadTable(
        spark, str(tmp_path / "tbl"), key_columns=["id"], table="t"
    )
    q = svc.subscribe(
        "wal2json", "s1", tbl.writer(), available_now=False, source="frames"
    )
    try:
        deadline = time.time() + 30
        while svc.acked_lsn("s1") is None and time.time() < deadline:
            time.sleep(0.1)
        st = svc.slot_status("s1")
        assert st["active"] and st["has_checkpoint"]
        assert st["last_lsn"] == "00000000/00009010"
        # ack = last + 1 (32-bit carry rule) -> head - acked clamps to 0
        assert st["acked_lsn"] == "00000000/00009011"
        assert st["newest_lsn"] == "00000000/00009010"
        assert st["lag_bytes"] == 0
    finally:
        q.stop()
    st = svc.slot_status("s1")
    assert st["active"] is False and st["has_checkpoint"] is True


def test_streaming_curation_quality_filter_on_live_stream(spark, tmp_path):
    """Corpus curation ON the live CDC stream: frames → wal2json decode
    → (doc_id, text) projection → gopher_quality_filter applied to the
    UNBOUNDED DataFrame (all scan-stage expressions, so the same
    operator runs batch and streaming unchanged) → memory sink. The
    100 TB/day ingest shape: quality gating happens before anything is
    materialized."""
    import json
    import struct

    from pyspark.sql import functions as F

    from pg_logical_replication_spark.operators.text import (
        gopher_quality_filter,
    )
    from pg_logical_replication_spark.sources.transport import write_frame
    from pg_logical_replication_spark.streaming.service import (
        LogicalReplicationService,
    )

    log = str(tmp_path / "wal")
    os.makedirs(log)
    texts = {
        1: "the data " + "word stop and that with have to of be " * 8,
        2: "tiny",  # fails word-count rule
    }
    with open(os.path.join(log, "000001.seg"), "ab") as f:
        for rid, txt in texts.items():
            payload = json.dumps({
                "change": [{
                    "kind": "insert", "schema": "public", "table": "docs",
                    "columnnames": ["doc_id", "text"],
                    "columntypes": ["bigint", "text"],
                    "columnvalues": [rid, txt],
                }],
            }).encode()
            lsn = 0x7000 + rid * 8
            write_frame(
                f, b"w" + struct.pack(">QQQ", lsn, lsn + 8, 0) + payload
            )

    svc = LogicalReplicationService(spark, log, str(tmp_path / "cp"))
    events = svc.changes("wal2json", source="frames")
    assert events.isStreaming
    docs = events.where(F.col("op") == "insert").select(
        F.col("after")["doc_id"].cast("long").alias("doc_id"),
        F.col("after")["text"].alias("text"),
    )
    gated = gopher_quality_filter(docs)
    q = (
        gated.writeStream.format("memory")
        .queryName("curated_stream")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "cp2"))
        .start()
    )
    q.awaitTermination(60)
    rows = {
        r["doc_id"]: r
        for r in spark.sql("SELECT * FROM curated_stream").collect()
    }
    assert set(rows) == {1, 2}
    assert rows[1]["gopher_pass"] is True
    assert rows[2]["gopher_pass"] is False
    assert rows[2]["n_words"] == 1


def test_stream_near_dup_gate_minhash_bands(spark, tmp_path):
    """streaming/dedup.py near-dup gate: a cross-batch NEAR-duplicate
    (one word changed) loses at least one band to the original and is
    flagged; an unrelated doc claims all bands and is novel. The
    expression-form signature must agree with the batch groupBy path."""
    import json
    import time

    from pyspark.sql import functions as F

    from pg_logical_replication_spark.operators.dedup import (
        minhash_bands, minhash_signature,
    )
    from pg_logical_replication_spark.streaming.dedup import (
        minhash_bands_expr, near_dup_gate_rollup, stream_near_dup_gate,
    )

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight")
    near = base.replace("dark", "cold")          # shares most shingles
    other = ("completely different text about spark structured "
             "streaming state stores and watermark eviction rules")

    # --- agreement: expression-form band keys == batch explode/groupBy
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    expr_bands = {
        (r["doc_id"], r["e"]["band_idx"], r["e"]["band_key"])
        for r in docs.select(
            "doc_id", F.explode(minhash_bands_expr()).alias("e")
        ).select("doc_id", F.struct("e.band_idx", "e.band_key").alias("e"))
        .collect()
    }
    batch_bands = {
        (r["doc_id"], r["band_idx"], r["band_key"])
        for r in minhash_bands(minhash_signature(docs)).collect()
    }
    assert expr_bands == batch_bands

    # --- streaming gate across micro-batches
    d = str(tmp_path / "docs")
    os.makedirs(d)
    schema = "doc_id long, text string, ts timestamp"

    def write_batch(name, rows):
        with open(os.path.join(d, name), "w") as f:
            for rid, text, ts in rows:
                f.write(json.dumps(
                    {"doc_id": rid, "text": text, "ts": ts}) + "\n")

    write_batch("b0.jsonl", [(1, base, "2024-01-01 00:00:00")])
    verdicts = {}

    def sink(df, _b):
        for r in near_dup_gate_rollup(df, n_bands=4).collect():
            verdicts[r["doc_id"]] = (r["n_claimed"], r["novel"])

    stream = spark.readStream.schema(schema).json(d)
    q = (
        stream_near_dup_gate(stream, watermark="1 hour")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while 1 not in verdicts and time.time() < deadline:
            time.sleep(0.1)
        assert verdicts[1] == (4, True)  # first doc claims all 4 bands

        write_batch("b1.jsonl", [
            (2, near, "2024-01-01 00:10:00"),
            (3, other, "2024-01-01 00:10:01"),
        ])
        while len(verdicts) < 3 and time.time() < deadline:
            time.sleep(0.1)
        n2, novel2 = verdicts[2]
        assert not novel2 and n2 < 4   # near-dup lost band(s) to doc 1
        assert verdicts[3] == (4, True)  # unrelated doc is novel
    finally:
        q.stop()


def test_subscribe_upto_lsn_skips_consumed_prefix(spark, log_dirs):
    """subscribe(upto_lsn=...) ≙ the reference's third argument:
    events at or below the position are not delivered even on a fresh
    checkpoint; later events flow normally."""
    from pg_logical_replication_spark.streaming.service import (
        LogicalReplicationService,
    )

    log, ckpt, _mor = log_dirs
    svc = LogicalReplicationService(spark, log, ckpt)
    _append(log, "000.jsonl", BATCH1)
    _append(log, "001.jsonl", BATCH2)
    got = []
    svc.subscribe_and_wait(
        "wal2json",
        "upto_slot",
        lambda df, _b: got.extend(df.collect()),
        upto_lsn="0/1000200",
    )
    assert got, "nothing delivered"
    assert all(r["lsn_long"] > 0x1000200 for r in got)
    # a fresh slot without the bound delivers the earlier events too
    got2 = []
    svc.subscribe_and_wait(
        "wal2json", "upto_slot2", lambda df, _b: got2.extend(df.collect())
    )
    assert any(r["lsn_long"] <= 0x1000200 for r in got2)
    assert len(got2) > len(got)


def test_tokenizer_trained_offline_applies_on_stream(spark, tmp_path):
    """Train-offline / encode-online: the BPE LUT trained on the batch
    corpus applies to a live document stream as a stream-static
    broadcast join (stateless), and the per-doc token stats match the
    batch encoder exactly."""
    import json

    from pyspark.sql import functions as F

    from pg_logical_replication_spark.operators.text import (
        _bpe_chain, bpe_encode_stats,
    )

    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(50).cache()
    want = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_encode_stats(corpus, num_merges=3).collect()
    }

    vocab, _ = _bpe_chain(corpus, "text", 3, 20_000, True)
    lut = vocab.select(
        "word",
        F.size(
            F.expr("filter(split(s, '\\\\|\\\\|'), x -> x != '')")
        ).alias("n_syms"),
    ).cache()
    lut.count()

    d = str(tmp_path / "docs")
    os.makedirs(d)
    with open(os.path.join(d, "b0.jsonl"), "w") as f:
        for r in corpus.select("doc_id", "text").collect():
            f.write(json.dumps(
                {"doc_id": r["doc_id"], "text": r["text"]}) + "\n")

    got = {}

    def sink(batch_df, _b):
        words = batch_df.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit("[a-z]+"), 0
                )
            ).alias("word"),
        )
        per = (
            words.join(F.broadcast(lut), "word", "left")
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_words"),
                F.sum(
                    F.coalesce(F.col("n_syms"), F.length("word"))
                ).alias("n_bpe_tokens"),
            )
        )
        for r in per.collect():
            got[r["doc_id"]] = (r["n_words"], r["n_bpe_tokens"])

    stream = spark.readStream.schema("doc_id long, text string").json(d)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert got == want


def test_streaming_bootstrap_via_frame_log(spark, tmp_path):
    """The STREAMING bootstrap: bootstrap_to_frame_log writes the
    snapshot as wal2json frames in segments sorting before the relay's
    000001.seg, so one unmodified subscribe(source='frames') replays
    initial state then live changes through the same decode → MOR
    path — the CREATE SUBSCRIPTION shape with zero special-casing in
    the stream."""
    import json
    import struct
    import time

    from pg_logical_replication_spark.sources.bootstrap import (
        bootstrap_to_frame_log,
    )
    from pg_logical_replication_spark.sources.transport import write_frame
    from pg_logical_replication_spark.streaming.apply import MergeOnReadTable
    from pg_logical_replication_spark.streaming.service import (
        LogicalReplicationService,
    )

    log = str(tmp_path / "wal")
    os.makedirs(log)
    snap = spark.createDataFrame(
        [(1, "pre-one"), (2, "pre-two"), (3, "pre-three")],
        "id bigint, v string",
    ).repartition(2)
    wrote = bootstrap_to_frame_log(
        snap, {"id": "bigint", "v": "text"}, "t", log, lsn="0/00000010"
    )
    assert wrote == 3

    def w2j_frame(rid, v, kind, lsn_long):
        ch = {
            "kind": kind, "schema": "public", "table": "t",
            "columnnames": ["id", "v"], "columntypes": ["bigint", "text"],
            "columnvalues": [rid, v],
        }
        if kind == "update":
            ch["oldkeys"] = {
                "keynames": ["id"], "keytypes": ["bigint"],
                "keyvalues": [rid],
            }
        payload = json.dumps(
            {"change": [ch], "nextlsn": f"0/{lsn_long:X}"}
        ).encode()
        return b"w" + struct.pack(">QQQ", lsn_long, lsn_long + 8, 0) + payload

    # the "relay" lands live changes in 000001.seg, strictly after
    with open(os.path.join(log, "000001.seg"), "ab") as f:
        write_frame(f, w2j_frame(2, "live-two", "update", 0x6000))
        write_frame(f, w2j_frame(4, "live-four", "insert", 0x6008))

    svc = LogicalReplicationService(spark, log, str(tmp_path / "cp"))
    tbl = MergeOnReadTable(
        spark, str(tmp_path / "tbl"), key_columns=["id"], table="t"
    )
    svc.subscribe_and_wait("wal2json", "boot_slot", tbl.writer(),
                           source="frames")
    got = {
        (r["id"], r["v"])
        for r in tbl.snapshot_columns({"id": "bigint", "v": "text"}).collect()
    }
    assert got == {
        (1, "pre-one"), (2, "live-two"), (3, "pre-three"), (4, "live-four"),
    }


def test_subscribe_bootstrap_convenience_idempotent(spark, tmp_path):
    """subscribe(bootstrap=...) writes the snapshot segments exactly
    once (only into a log with no segments), so a re-subscribe resumes
    without duplicating initial state; guards enforce source='frames'
    and column types."""
    import json
    import struct
    import time

    import pytest as _pt

    from pg_logical_replication_spark.sources.transport import write_frame
    from pg_logical_replication_spark.streaming.apply import MergeOnReadTable
    from pg_logical_replication_spark.streaming.service import (
        LogicalReplicationService,
    )

    log = str(tmp_path / "wal")
    os.makedirs(log)
    snap = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    svc = LogicalReplicationService(spark, log, str(tmp_path / "cp"))
    tbl = MergeOnReadTable(
        spark, str(tmp_path / "tbl"), key_columns=["id"], table="t"
    )
    cols = {"id": "bigint", "v": "text"}

    with _pt.raises(ValueError, match="source='frames'"):
        svc.subscribe("wal2json", "s", tbl.writer(), bootstrap=snap,
                      bootstrap_columns=cols)
    with _pt.raises(ValueError, match="bootstrap_columns"):
        svc.subscribe("wal2json", "s", tbl.writer(), source="frames",
                      bootstrap=snap)

    svc.subscribe_and_wait(
        "wal2json", "s", tbl.writer(), source="frames",
        bootstrap=snap, bootstrap_columns=cols, bootstrap_table="t",
    )
    got = {(r["id"], r["v"])
           for r in tbl.snapshot_columns(cols).collect()}
    assert got == {(1, "a"), (2, "b")}
    n_boot_first = len([n for n in os.listdir(log) if "bootstrap" in n])
    assert n_boot_first >= 1

    # live frames arrive; re-subscribe with the SAME bootstrap args:
    # the log already has segments, so nothing is re-bootstrapped
    payload = json.dumps({
        "change": [{"kind": "insert", "schema": "public", "table": "t",
                    "columnnames": ["id", "v"],
                    "columntypes": ["bigint", "text"],
                    "columnvalues": [3, "c"]}],
        "nextlsn": "0/7000"}).encode()
    with open(os.path.join(log, "000001.seg"), "ab") as f:
        write_frame(f, b"w" + struct.pack(">QQQ", 0x7000, 0x7008, 0) + payload)
    svc.subscribe_and_wait(
        "wal2json", "s", tbl.writer(), source="frames",
        bootstrap=snap, bootstrap_columns=cols, bootstrap_table="t",
    )
    got2 = {(r["id"], r["v"])
            for r in tbl.snapshot_columns(cols).collect()}
    assert got2 == {(1, "a"), (2, "b"), (3, "c")}
    # idempotence: the second subscribe added no new bootstrap segs
    assert n_boot_first == len(
        [n for n in os.listdir(log) if "bootstrap" in n]
    )


def test_subscribe_bootstrap_recovers_from_crashed_partial(spark, tmp_path):
    """Crash-safety (ADVICE r5): a bootstrap that died mid-write leaves
    SOME visible segments but no completion marker. The next
    subscribe(bootstrap=) must treat the load as incomplete — replace
    the stale partials and re-run it — not silently stream from
    partially-loaded initial state (permanent data loss)."""
    import struct as _st

    from pg_logical_replication_spark.model import lsn_to_long
    from pg_logical_replication_spark.sources.bootstrap import (
        BOOTSTRAP_DONE_MARKER,
    )
    from pg_logical_replication_spark.sources.transport import write_frame
    from pg_logical_replication_spark.streaming.apply import MergeOnReadTable
    from pg_logical_replication_spark.streaming.service import (
        LogicalReplicationService,
    )

    log = str(tmp_path / "wal")
    os.makedirs(log)
    # simulate the crash: one partition's segment made it to its final
    # name (holding ONLY id=1), another died as an orphaned .tmp — and
    # no marker was ever written
    lsn_long = lsn_to_long("0/00000010")
    payload = (
        b'{"change":[{"kind":"insert","schema":"public","table":"t",'
        b'"columnnames":["id","v"],"columntypes":["bigint","text"],'
        b'"columnvalues":[1,"stale-one"]}],"nextlsn":"0/00000010"}'
    )
    with open(os.path.join(log, "000000.00000.bootstrap.seg"), "wb") as f:
        write_frame(f, b"w" + _st.pack(">QQQ", lsn_long, lsn_long, 0) + payload)
    open(os.path.join(log, "000000.00001.bootstrap.seg.tmp"), "wb").close()
    assert BOOTSTRAP_DONE_MARKER not in os.listdir(log)

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id bigint, v string"
    )
    cols = {"id": "bigint", "v": "text"}
    svc = LogicalReplicationService(spark, log, str(tmp_path / "cp"))
    tbl = MergeOnReadTable(
        spark, str(tmp_path / "tbl"), key_columns=["id"], table="t"
    )
    svc.subscribe_and_wait(
        "wal2json", "s", tbl.writer(), source="frames",
        bootstrap=snap, bootstrap_columns=cols, bootstrap_table="t",
    )
    got = {(r["id"], r["v"]) for r in tbl.snapshot_columns(cols).collect()}
    # the FULL snapshot, and the stale partial's value is gone
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    names = os.listdir(log)
    assert BOOTSTRAP_DONE_MARKER in names
    assert not any(n.endswith(".tmp") for n in names)

    # completed load + marker: a re-subscribe must NOT re-bootstrap
    n_boot = len([n for n in names if ".bootstrap.seg" in n])
    svc.subscribe_and_wait(
        "wal2json", "s", tbl.writer(), source="frames",
        bootstrap=snap, bootstrap_columns=cols, bootstrap_table="t",
    )
    assert n_boot == len(
        [n for n in os.listdir(log) if ".bootstrap.seg" in n]
    )


def test_manual_acknowledge_ping_requests_reply(spark, tmp_path):
    """acknowledge(slot, lsn, ping=True) ≙ the reference's second
    parameter (service :250-254 'Request server to respond'): a
    reply-requested standby-status frame lands in the frame log's
    status.log for the relay to forward upstream — for a slot
    subscribed with source='frames' (the only source with an
    upstream)."""
    import json
    import struct

    from pg_logical_replication_spark.sources.transport import (
        FrameLogTailTransport,
        write_frame,
    )

    log = str(tmp_path / "wal")
    os.makedirs(log)
    payload = json.dumps({
        "change": [{
            "kind": "insert", "schema": "public", "table": "t",
            "columnnames": ["id"], "columntypes": ["bigint"],
            "columnvalues": [1],
        }],
        "nextlsn": "0/100",
    }).encode()
    with open(os.path.join(log, "000001.seg"), "ab") as f:
        write_frame(f, b"w" + struct.pack(">QQQ", 0x100, 0x108, 0) + payload)
    svc = LogicalReplicationService(spark, log, str(tmp_path / "cp"))
    svc.subscribe_and_wait(
        "wal2json", "ping_slot", lambda df, bid: df.count(),
        auto_acknowledge=False, source="frames",
    )
    # plain ack: no status frame written
    svc.acknowledge("ping_slot", "0/100")
    tail = FrameLogTailTransport(log)
    assert tail.sent_statuses() == []
    # ping ack: one reply-requested frame at the +1 position
    svc.acknowledge("ping_slot", "0/100", ping=True)
    statuses = tail.sent_statuses()
    assert len(statuses) == 1
    assert statuses[0]["ping"] is True
    assert statuses[0]["flushed"] == 0x101


def test_ping_ack_skipped_for_files_source(spark, log_dirs):
    """ADVICE r8 (medium): for a source='files' slot the Spark text
    reader loads every non-hidden file in event_log_dir, so a binary
    status.log appended by acknowledge(ping=True) would be ingested as
    event data on the next (re)subscribe. The ping frame must be
    skipped — gated on the slot's subscribed source — and a
    re-subscribe after the ping ack must decode exactly the real
    events, no garbage rows."""
    from pg_logical_replication_spark.sources.transport import (
        FrameLogTailTransport,
    )

    log, ckpt, _ = log_dirs
    _append(log, "000.jsonl", [_changeset(1, "0/100", 1, [_ins("t", {"id": 1})])])
    svc = LogicalReplicationService(spark, log, ckpt)
    svc.subscribe_and_wait(
        "wal2json", "files_slot", lambda df, bid: df.count(),
        auto_acknowledge=False,
    )
    svc.acknowledge("files_slot", "0/100", ping=True)
    # position surface still advances; the upstream frame does not exist
    assert svc.acked_lsn("files_slot") == "00000000/00000101"
    assert FrameLogTailTransport(log).sent_statuses() == []
    assert "status.log" not in os.listdir(log)

    # fresh checkpoint re-subscribe re-reads the whole dir: only the
    # one real event may appear
    seen = []
    svc2 = LogicalReplicationService(spark, log, ckpt + "_resub")
    svc2.subscribe_and_wait(
        "wal2json", "files_slot2",
        lambda df, bid: seen.extend(df.collect()),
    )
    assert len(seen) == 1 and seen[0]["table"] == "t"


def test_frames_available_now_refuses_a_trigger_cap(spark, tmp_path):
    """Spark's availableNow trigger stops at the frames source's first
    capped offset, so a capped service would deliver one micro-batch of
    the backlog and stop; subscribe refuses the combination by name."""
    svc = LogicalReplicationService(
        spark, str(tmp_path / "log"), str(tmp_path / "cp"),
        max_files_per_trigger=3,
    )
    with pytest.raises(ValueError, match="max_files_per_trigger=3") as e:
        svc.subscribe(
            "wal2json", "s", lambda _df, _b: None,
            available_now=True, source="frames",
        )
    assert "available_now=False" in str(e.value)
