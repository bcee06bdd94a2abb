"""WAL transport seam (sources/transport.py) + the pg_cdc frames mode:
appends become visible batches, keepalive shouldRespond is answered with
a ping, and commit acknowledges with the +1/32-bit-carry rule
(reference logical-replication-service.ts:165-171, :254-300)."""

import os
import socket
import struct
import threading

import pytest

from pg_logical_replication_spark.model import lsn_to_long
from pg_logical_replication_spark.sources.transport import (
    FrameLogTailTransport,
    SocketFrameTransport,
    parse_standby_status,
    standby_status_frame,
    write_frame,
)


def _xlog(wal_start, payload=b"p", ts=0):
    return b"w" + struct.pack(">QQQ", wal_start, wal_start + 8, ts) + payload


def _keepalive(wal_end, should_respond=False, ts=0):
    return (
        b"k"
        + struct.pack(">QQ", wal_end, ts)
        + (b"\x01" if should_respond else b"\x00")
    )


# ------------------------------------------------------- status frames
def test_standby_status_frame_plus_one_carry():
    s = parse_standby_status(standby_status_frame("0/16B3E00", now_us=0))
    assert s["written"] == s["flushed"] == s["applied"] == 0x16B3E01
    assert s["ping"] is False
    # 32-bit carry: lower word 0xFFFFFFFF rolls into the upper word
    s2 = parse_standby_status(standby_status_frame("1/FFFFFFFF", ping=True))
    assert s2["written"] == (2 << 32)
    assert s2["ping"] is True


def test_standby_status_roundtrip_timestamp():
    s = parse_standby_status(
        standby_status_frame("0/10", now_us=1_700_000_000_000_000)
    )
    assert s["ts_us"] == 1_700_000_000_000_000


# --------------------------------------------------- frame-log tailing
def test_tail_transport_incremental_appends(tmp_path):
    d = str(tmp_path / "frames")
    os.makedirs(d)
    seg = os.path.join(d, "000001.seg")
    t = FrameLogTailTransport(d)
    assert t.poll() == []

    with open(seg, "ab") as f:
        write_frame(f, _xlog(0x10))
        write_frame(f, _xlog(0x18))
    assert [fr[:1] for fr in t.poll()] == [b"w", b"w"]
    # same segment grows → only the NEW frame arrives (incremental offset)
    with open(seg, "ab") as f:
        write_frame(f, _keepalive(0x20))
    out = t.poll()
    assert len(out) == 1 and out[0][:1] == b"k"

    # partial frame (writer mid-append) is not surfaced...
    with open(seg, "ab") as f:
        f.write(struct.pack(">I", 30) + b"w123")  # 30 declared, 4 present
    assert t.poll() == []
    # ...until completed
    with open(seg, "ab") as f:
        f.write(b"x" * 26)
    assert len(t.poll()) == 1


def test_tail_transport_crosses_segments_and_resumes(tmp_path):
    d = str(tmp_path / "frames")
    os.makedirs(d)
    for i, n in enumerate(["000001.seg", "000002.seg"]):
        with open(os.path.join(d, n), "ab") as f:
            write_frame(f, _xlog(0x10 + 8 * i))
    t = FrameLogTailTransport(d)
    assert len(t.poll()) == 2
    pos = t.position()
    assert pos["seg"] == "000002.seg"

    # a NEW transport from the checkpointed position sees only new data
    with open(os.path.join(d, "000002.seg"), "ab") as f:
        write_frame(f, _xlog(0x20))
    t2 = FrameLogTailTransport(d, position=pos)
    assert len(t2.poll()) == 1

    # max_frames bounds the drain and the cursor stays consistent
    with open(os.path.join(d, "000003.seg"), "ab") as f:
        write_frame(f, _xlog(0x28))
        write_frame(f, _xlog(0x30))
    t3 = FrameLogTailTransport(d, position=t2.position())
    assert len(t3.poll(max_frames=1)) == 1
    assert len(t3.poll()) == 1


def test_tail_transport_status_audit(tmp_path):
    d = str(tmp_path / "frames")
    t = FrameLogTailTransport(d)
    t.send_standby_status("0/100", ping=True)
    t.send_standby_status("0/200")
    sent = t.sent_statuses()
    assert [s["flushed"] for s in sent] == [0x101, 0x201]
    assert [s["ping"] for s in sent] == [True, False]
    # the status log must never be mistaken for a segment
    assert t.poll() == []


# ------------------------------------------------------ socket transport
def test_socket_transport_frames_and_status_roundtrip():
    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    received = {}

    def server():
        conn, _ = srv.accept()
        with conn:
            for fr in (_xlog(0x10), _keepalive(0x18, should_respond=True)):
                conn.sendall(struct.pack(">I", len(fr)) + fr)
            # read back one status frame
            hdr = b""
            while len(hdr) < 4:
                hdr += conn.recv(4 - len(hdr))
            (ln,) = struct.unpack(">I", hdr)
            body = b""
            while len(body) < ln:
                body += conn.recv(ln - len(body))
            received["status"] = parse_standby_status(body)

    th = threading.Thread(target=server, daemon=True)
    th.start()
    t = SocketFrameTransport("127.0.0.1", port)
    frames = []
    for _ in range(200):
        frames.extend(t.poll())
        if len(frames) >= 2:
            break
        import time

        time.sleep(0.01)
    assert [f[:1] for f in frames] == [b"w", b"k"]
    t.send_standby_status("0/18", ping=True)
    th.join(timeout=5)
    t.close()
    srv.close()
    assert received["status"]["flushed"] == 0x19
    assert received["status"]["ping"] is True


# ---------------------------------------------- pg_cdc frames stream mode
def test_frames_stream_end_to_end(spark, tmp_path):
    """Appends become visible micro-batches WITHOUT file rotation;
    shouldRespond keepalive answered with a ping during read; commit
    acknowledges with +1/carry once Spark durably advances (ack lags one
    batch — the checkpoint-commit cadence); frames demux downstream."""
    import time

    from pg_logical_replication_spark.sources.datasource import register
    from pg_logical_replication_spark.sources.wire import demux_copy_stream

    register(spark)
    d = str(tmp_path / "frames")
    os.makedirs(d)
    cp = str(tmp_path / "cp")
    seg = os.path.join(d, "000001.seg")

    with open(seg, "ab") as f:
        write_frame(f, _xlog(0x1000, b"payload-1"))
        write_frame(f, _keepalive(0x1008, should_respond=True))

    got = []
    q = (
        spark.readStream.format("pg_cdc")
        .option("path", d)
        .option("transport", "frames")
        .load()
        .writeStream.foreachBatch(lambda df, _b: got.extend(df.collect()))
        .option("checkpointLocation", cp)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while len(got) < 2 and time.time() < deadline:
            time.sleep(0.1)
        assert len(got) == 2, got
        assert got[0]["lsn"] == "00000000/00001000"

        # append to the SAME segment → the new frame arrives incrementally
        with open(seg, "ab") as f:
            write_frame(f, _xlog(0x1010, b"payload-2"))
        while len(got) < 3 and time.time() < deadline:
            time.sleep(0.1)
        assert len(got) == 3
        assert got[2]["lsn"] == "00000000/00001010"

        # ping: answered during read at the keepalive walEnd (+1)
        # ack: the first batch's commit lands once a later batch advances
        def statuses():
            return FrameLogTailTransport(d).sent_statuses()

        while time.time() < deadline:
            sent = statuses()
            if any(s["ping"] for s in sent) and any(
                not s["ping"] for s in sent
            ):
                break
            time.sleep(0.1)
        sent = statuses()
        pings = [s for s in sent if s["ping"]]
        acks = [s for s in sent if not s["ping"]]
        assert pings and pings[0]["flushed"] == 0x1009
        assert acks and acks[0]["flushed"] == 0x1009
    finally:
        q.stop()

    # the delivered frames demux downstream, no custom parsing needed
    raw = spark.createDataFrame(
        [(r["lsn"], r["seq"], r["value"], r["data"]) for r in got],
        "lsn string, seq long, value string, data binary",
    )
    dm = demux_copy_stream(raw).collect()
    assert sorted(r["msg_type"] for r in dm) == ["k", "w", "w"]
    ws = [r for r in dm if r["msg_type"] == "w"]
    assert {bytes(r["payload"]) for r in ws} == {b"payload-1", b"payload-2"}


def _streamed_log(d, segments, cut=None):
    """A pgoutput v2 frame log: R, then streamed txn 500 as ``segments``
    ('S', one insert per id, 'E'), its stream_commit, and a plain txn
    600. Only the first ``cut`` frames are written; the rest are
    returned for the caller to append later."""
    from pg_logical_replication_spark.sources import pgoutput_format as pf

    oid = 16401
    msgs = [pf.encode_relation(oid, "public", "t", [("id", 20)], key_columns=["id"])]
    for n, ids in enumerate(segments):
        msgs.append(pf.encode_stream_start(500, first_segment=n == 0))
        msgs += [pf.with_stream_xid(500, pf.encode_insert(oid, [("t", str(i))]))
                 for i in ids]
        msgs.append(pf.encode_stream_stop())
    msgs += [
        pf.encode_stream_commit(500, "0/9000", "0/9008", 0),
        pf.encode_begin("0/9100", 0, 600),
        pf.encode_insert(oid, [("t", "600")]),
        pf.encode_commit("0/9100", "0/9108", 0),
    ]
    frames = [_xlog(0x8000 + 8 * i, m) for i, m in enumerate(msgs)]
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "000001.seg"), "ab") as f:
        for fr in frames[:cut]:
            write_frame(f, fr)
    return frames[len(frames) if cut is None else cut:]


def _gated_rows(spark, log, cp, max_frames, until):
    """Run the frames source → pgoutput decode → commit gate and collect
    every delivered row; ``until(rows, query)`` returns True when done."""
    import time

    from pg_logical_replication_spark.sources.pgoutput import (
        relations_from_frame_log,
    )
    from pg_logical_replication_spark.streaming.service import (
        LogicalReplicationService,
    )
    from pg_logical_replication_spark.streaming.stateful import (
        resolve_transactions_gate,
    )

    svc = LogicalReplicationService(spark, log, cp, max_files_per_trigger=max_frames)
    rels = relations_from_frame_log(spark, log)
    got = []
    q = (
        resolve_transactions_gate(svc.changes("pgoutput", source="frames", relations=rels))
        .writeStream.foreachBatch(lambda df, _b: got.extend(df.collect()))
        .option("checkpointLocation", cp)
        .trigger(processingTime="150 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while not until(got, q) and time.time() < deadline:
            time.sleep(0.1)
    finally:
        q.stop()
    return got


def _inserts_or_error(n):
    def until(got, _q):
        return (sum(r["op"] == "insert" for r in got) >= n
                or any(r["op"] == "error" for r in got))
    return until


def _committed_ids(rows):
    assert [r for r in rows if r["op"] == "error"] == []
    return sorted(int(r["after"]["id"]) for r in rows if r["op"] == "insert")


def test_frames_batches_never_end_inside_a_streamed_segment(spark, tmp_path):
    """Segments of 12 changes under maxFramesPerTrigger=5: each batch
    takes a whole segment instead of stopping inside it, so no change
    is decoded out of its segment's context."""
    from pg_logical_replication_spark.sources.datasource import register

    register(spark)
    log = str(tmp_path / "wal")
    _streamed_log(log, [range(0, 12), range(12, 24)])
    rows = _gated_rows(spark, log, str(tmp_path / "cp"), 5, _inserts_or_error(25))
    assert _committed_ids(rows) == [*range(24), 600]


def test_frames_hold_back_an_unterminated_segment(spark, tmp_path):
    """A log that ends inside a segment: its frames wait for the 'E';
    once the rest is appended, every committed change becomes visible
    and none is decoded as an unseen-relation error."""
    from pg_logical_replication_spark.sources.datasource import register

    register(spark)
    log = str(tmp_path / "wal")
    # R, S, inserts 0-2 logged; inserts 3-5, E and the fates come later
    rest = _streamed_log(log, [range(6)], cut=5)

    def idle_after_start(_got, q):
        return len(q.recentProgress) >= 3

    cp = str(tmp_path / "cp")
    first = _gated_rows(spark, log, cp, None, idle_after_start)
    with open(os.path.join(log, "000001.seg"), "ab") as f:
        for fr in rest:
            write_frame(f, fr)
    second = _gated_rows(spark, log, cp, None, _inserts_or_error(7))
    assert _committed_ids(first + second) == [*range(6), 600]


def test_batch_and_stream_reads_agree_on_frame_lsns(tmp_path):
    """One frame→LSN rule for every reader: the batch ``.seg`` scan and
    the frames stream give the same ``lsn`` per frame, truncated headers
    (shorter than the protocol's 25-byte 'w' / 18-byte 'k') included."""
    from pg_logical_replication_spark.sources.datasource import (
        PgCdcBatchReader,
        PgCdcFramesStreamReader,
    )

    d = str(tmp_path / "frames")
    os.makedirs(d)
    frames = [
        _xlog(0x1000, b"payload"),
        _keepalive(0x1010),
        _xlog(0x1020, b"")[:20],     # torn 'w' header
        _keepalive(0x1030)[:12],     # torn 'k'
        b"x-unknown",
    ]
    with open(os.path.join(d, "000001.seg"), "ab") as f:
        for fr in frames:
            write_frame(f, fr)

    batch = PgCdcBatchReader({"path": d})
    batch_lsns = [
        row[0] for p in batch.partitions() for row in batch.read(p)
    ]
    stream = PgCdcFramesStreamReader({"path": d, "autoack": "false"})
    rows, end = stream.read(stream.initialOffset())
    stream_lsns = [row[0] for row in rows]
    replay_lsns = [
        row[0] for row in stream.readBetweenOffsets(stream.initialOffset(), end)
    ]
    assert batch_lsns == stream_lsns == replay_lsns == [
        "00000000/00001000", "00000000/00001010", None, None, None,
    ]


# ------------------------------------------------------ walsender client
class _FakePgServer:
    """In-process PostgreSQL-protocol server: startup packet, md5 (or
    trust) auth, ParameterStatus/BackendKeyData/ReadyForQuery, then
    CopyBothResponse for START_REPLICATION, streams XLogData CopyData
    and records Standby Status Updates sent back."""

    def __init__(
        self,
        password=None,
        frames=(),
        end_copy=False,
        auth="md5",
        ssl_ctx=None,
        ssl_reply=None,
        scram_tamper_signature=False,
        cert_der=None,
    ):
        self.password = password
        self.frames = list(frames)
        self.end_copy = end_copy
        self.auth = auth  # md5 | scram (used when password is set)
        self.ssl_ctx = ssl_ctx  # server-side SSLContext → answer 'S'
        self.ssl_reply = ssl_reply  # force 'N' to decline SSLRequest
        self.scram_tamper_signature = scram_tamper_signature
        # server cert DER → offer SCRAM-SHA-256-PLUS and validate the
        # RFC 5929 tls-server-end-point binding the client sends
        self.cert_der = cert_der
        self.negotiated_mechanism = None
        # COPY ... TO STDOUT snapshot rows (PG text format, no newline)
        self.copy_rows: list[bytes] = []
        self.copy_sql = None
        self.copied_in: list[bytes] = []  # rows received via COPY FROM STDIN
        self.received_copydone = False
        self.received_statuses = []
        self.created_slots = []
        self.dropped_slots = []
        self.start_replication_sql = None
        self.startup_params = {}
        self.srv = socket.socket()
        self.srv.bind(("127.0.0.1", 0))
        self.srv.listen(1)
        self.port = self.srv.getsockname()[1]
        self.thread = threading.Thread(target=self._run, daemon=True)
        self.thread.start()

    # -- protocol helpers
    def _recv_exact(self, conn, n):
        out = b""
        while len(out) < n:
            chunk = conn.recv(n - len(out))
            if not chunk:
                raise ConnectionError("client closed")
            out += chunk
        return out

    def _recv_startup(self, conn):
        (ln,) = struct.unpack(">I", self._recv_exact(conn, 4))
        body = self._recv_exact(conn, ln - 4)
        (ver,) = struct.unpack_from(">I", body, 0)
        assert ver == 196608, hex(ver)
        parts = body[4:].split(b"\x00")
        it = iter(parts)
        for k in it:
            if not k:
                break
            self.startup_params[k.decode()] = next(it).decode()

    def _recv_msg(self, conn):
        tag = self._recv_exact(conn, 1)
        (ln,) = struct.unpack(">I", self._recv_exact(conn, 4))
        return tag, self._recv_exact(conn, ln - 4)

    def _send(self, conn, tag, body=b""):
        conn.sendall(tag + struct.pack(">I", len(body) + 4) + body)

    def _run(self):
        try:
            self._serve()
        except (ConnectionError, OSError):
            pass  # client hung up (e.g. after an auth error) — fine

    def _auth_md5(self, conn):
        import hashlib

        salt = b"\x01\x02\x03\x04"
        self._send(conn, b"R", struct.pack(">I", 5) + salt)
        tag, body = self._recv_msg(conn)
        assert tag == b"p"
        user = self.startup_params["user"]
        inner = hashlib.md5(
            self.password.encode() + user.encode()
        ).hexdigest()
        want = b"md5" + hashlib.md5(
            inner.encode() + salt
        ).hexdigest().encode()
        return body.rstrip(b"\x00") == want

    def _auth_scram(self, conn):
        """Server side of RFC 7677 SCRAM-SHA-256 (mirrors what a stock
        PG ≥ 14 runs for password_encryption=scram-sha-256)."""
        import base64
        import hashlib
        import hmac as _hmac
        import os as _os

        offer = (
            b"SCRAM-SHA-256-PLUS\x00SCRAM-SHA-256\x00\x00"
            if self.cert_der is not None
            else b"SCRAM-SHA-256\x00\x00"
        )
        self._send(conn, b"R", struct.pack(">I", 10) + offer)
        tag, body = self._recv_msg(conn)
        assert tag == b"p"
        mech, rest = body.split(b"\x00", 1)
        assert mech in (b"SCRAM-SHA-256", b"SCRAM-SHA-256-PLUS"), mech
        self.negotiated_mechanism = mech.decode()
        (ln,) = struct.unpack_from(">i", rest, 0)
        client_first = rest[4 : 4 + ln].decode()
        # split the gs2 header ('n,,' / 'y,,' / 'p=<type>,,') from the
        # bare message and pin the channel-binding rules (RFC 5802 §7)
        g0, g1, bare = client_first.split(",", 2)
        gs2 = f"{g0},{g1},"
        if mech == b"SCRAM-SHA-256-PLUS":
            assert self.cert_der is not None
            assert gs2 == "p=tls-server-end-point,,", client_first
            from pg_logical_replication_spark.sources.scram import (
                cert_cb_data,
            )

            cb_data = cert_cb_data(self.cert_der)
        else:
            assert g0 in ("n", "y"), client_first
            cb_data = b""
        expected_c = base64.b64encode(gs2.encode() + cb_data).decode()
        cnonce = dict(
            kv.split("=", 1) for kv in bare.split(",") if "=" in kv
        )["r"]
        snonce = cnonce + base64.b64encode(_os.urandom(9)).decode()
        salt = b"0123456789abcdef"
        iters = 4096
        server_first = (
            f"r={snonce},s={base64.b64encode(salt).decode()},i={iters}"
        )
        self._send(
            conn, b"R", struct.pack(">I", 11) + server_first.encode()
        )
        tag, body = self._recv_msg(conn)
        assert tag == b"p"
        client_final = body.decode()
        without_proof, proof_b64 = client_final.rsplit(",p=", 1)
        # c= must replay the gs2 header + binding data byte-for-byte —
        # a stock PG rejects a mismatched binding here
        assert without_proof.startswith(f"c={expected_c},"), client_final
        salted = hashlib.pbkdf2_hmac(
            "sha256", self.password.encode(), salt, iters
        )
        client_key = _hmac.digest(salted, b"Client Key", "sha256")
        stored_key = hashlib.sha256(client_key).digest()
        auth_msg = ",".join([bare, server_first, without_proof]).encode()
        client_sig = _hmac.digest(stored_key, auth_msg, "sha256")
        recovered = bytes(
            a ^ b for a, b in zip(base64.b64decode(proof_b64), client_sig)
        )
        if hashlib.sha256(recovered).digest() != stored_key:
            return False
        server_key = _hmac.digest(salted, b"Server Key", "sha256")
        v = base64.b64encode(
            _hmac.digest(server_key, auth_msg, "sha256")
        ).decode()
        if self.scram_tamper_signature:
            v = base64.b64encode(b"\x00" * 32).decode()
        self._send(conn, b"R", struct.pack(">I", 12) + f"v={v}".encode())
        return True

    def _serve(self):
        conn, _ = self.srv.accept()
        with conn:
            if self.ssl_ctx is not None or self.ssl_reply is not None:
                # client opens with SSLRequest: i32 len=8, i32 80877103
                (ln,) = struct.unpack(">I", self._recv_exact(conn, 4))
                (magic,) = struct.unpack(">I", self._recv_exact(conn, 4))
                assert (ln, magic) == (8, 80877103), (ln, magic)
                if self.ssl_ctx is None:
                    conn.sendall(b"N")  # decline
                else:
                    conn.sendall(b"S")
                    conn = self.ssl_ctx.wrap_socket(conn, server_side=True)
            self._recv_startup(conn)
            if self.password is not None:
                ok = (
                    self._auth_scram(conn)
                    if self.auth == "scram"
                    else self._auth_md5(conn)
                )
                if not ok:
                    self._send(
                        conn, b"E",
                        b"SFATAL\x00C28P01\x00Mpassword authentication failed\x00\x00",
                    )
                    return
            self._send(conn, b"R", struct.pack(">I", 0))  # AuthenticationOk
            self._send(conn, b"S", b"server_version\x0016.1\x00")
            self._send(conn, b"K", struct.pack(">II", 1234, 5678))
            self._send(conn, b"Z", b"I")

            # optional slot-management queries precede START_REPLICATION
            while True:
                tag, body = self._recv_msg(conn)
                assert tag == b"Q"
                sql = body.rstrip(b"\x00").decode()
                if sql.startswith("CREATE_REPLICATION_SLOT"):
                    self.created_slots.append(sql)
                    cols = [
                        ("slot_name", b"my_slot"),
                        ("consistent_point", b"0/1111"),
                        ("snapshot_name", None),
                        ("output_plugin", b"wal2json"),
                    ]
                    # RowDescription: name\0 + 18-byte fixed trailer
                    t_body = struct.pack(">h", len(cols))
                    for name, _ in cols:
                        t_body += name.encode() + b"\x00" + b"\x00" * 18
                    self._send(conn, b"T", t_body)
                    d_body = struct.pack(">h", len(cols))
                    for _, val in cols:
                        if val is None:
                            d_body += struct.pack(">i", -1)
                        else:
                            d_body += struct.pack(">i", len(val)) + val
                    self._send(conn, b"D", d_body)
                    self._send(conn, b"C", b"CREATE_REPLICATION_SLOT\x00")
                    self._send(conn, b"Z", b"I")
                    continue
                if sql.startswith("DROP_REPLICATION_SLOT"):
                    self.dropped_slots.append(sql)
                    self._send(conn, b"C", b"DROP_REPLICATION_SLOT\x00")
                    self._send(conn, b"Z", b"I")
                    continue
                if sql.upper().startswith("COPY ") and "FROM STDIN" in sql.upper():
                    # bulk load: CopyInResponse, collect rows to CopyDone
                    self.copy_sql = sql
                    self._send(conn, b"G", b"\x00\x00\x01\x00\x00")
                    while True:
                        t2, b2 = self._recv_msg(conn)
                        if t2 == b"d":
                            self.copied_in.append(b2.rstrip(b"\n"))
                        elif t2 == b"c":
                            break
                    self._send(
                        conn, b"C",
                        f"COPY {len(self.copied_in)}\x00".encode(),
                    )
                    self._send(conn, b"Z", b"I")
                    continue
                if sql.upper().startswith("COPY "):
                    # table-sync snapshot: CopyOutResponse + text rows
                    self.copy_sql = sql
                    self._send(conn, b"H", b"\x00\x00\x01\x00\x00")
                    for row in self.copy_rows:
                        self._send(conn, b"d", row + b"\n")
                    self._send(conn, b"c")
                    self._send(
                        conn, b"C",
                        f"COPY {len(self.copy_rows)}\x00".encode(),
                    )
                    self._send(conn, b"Z", b"I")
                    continue
                self.start_replication_sql = sql
                break
            self._send(conn, b"W", b"\x00\x00\x00")  # CopyBothResponse
            for fr in self.frames:
                self._send(conn, b"d", fr)
            if self.end_copy:
                # clean stream end: CopyDone, CommandComplete, ReadyForQuery
                self._send(conn, b"c")
                self._send(conn, b"C", b"COPY 0\x00")
                self._send(conn, b"Z", b"I")
            # read back status updates until the client closes
            try:
                while True:
                    tag, body = self._recv_msg(conn)
                    if tag == b"c":
                        self.received_copydone = True
                    elif tag == b"d" and body[:1] == b"r":
                        self.received_statuses.append(
                            parse_standby_status(body)
                        )
            except ConnectionError:
                pass

    def close(self):
        self.srv.close()


def test_walsender_handshake_replication_and_ack():
    """Full client lifecycle against the fake PG server: md5 auth,
    START_REPLICATION with plugin options, CopyBoth frame drain,
    keepalive visible, status update received server-side with the
    +1/carry position."""
    import time as _t

    from pg_logical_replication_spark.sources.transport import (
        WalsenderTransport,
    )

    frames = [
        _xlog(0x2000, b"w2j-payload"),
        _keepalive(0x2008, should_respond=True),
    ]
    srv = _FakePgServer(password="sekret", frames=frames)
    t = WalsenderTransport(
        "127.0.0.1", srv.port, user="rep", database="app", password="sekret"
    )
    assert t.parameters.get("server_version") == "16.1"
    assert srv.startup_params["replication"] == "database"

    info = t.create_replication_slot("my_slot", plugin="wal2json")
    assert info["slot_name"] == "my_slot"
    assert info["consistent_point"] == "0/1111"
    assert info["snapshot_name"] is None
    assert srv.created_slots and "LOGICAL wal2json" in srv.created_slots[0]

    t.start_replication(
        "my_slot", "0/2000", options={"format-version": "2", "actions": "insert"}
    )
    assert srv.start_replication_sql == (
        "START_REPLICATION SLOT \"my_slot\" LOGICAL 0/2000 "
        "(\"actions\" 'insert', \"format-version\" '2')"
    )

    got = []
    deadline = _t.time() + 10
    while len(got) < 2 and _t.time() < deadline:
        got.extend(t.poll())
        _t.sleep(0.01)
    assert [f[:1] for f in got] == [b"w", b"k"]

    t.send_standby_status("0/2008", ping=True)
    deadline = _t.time() + 10
    while not srv.received_statuses and _t.time() < deadline:
        _t.sleep(0.01)
    assert srv.received_statuses
    s = srv.received_statuses[0]
    assert s["flushed"] == 0x2009 and s["ping"] is True

    t.close()
    srv.close()


def test_walsender_poll_requires_start_and_bad_password_fails():
    from pg_logical_replication_spark.sources.transport import (
        WalsenderTransport,
    )

    srv = _FakePgServer(password="right", frames=[])
    with pytest.raises(ConnectionError, match="authentication failed"):
        WalsenderTransport(
            "127.0.0.1", srv.port, user="rep", database="app", password="wrong"
        )
    srv.close()

    srv2 = _FakePgServer(password=None, frames=[])
    t = WalsenderTransport("127.0.0.1", srv2.port, user="rep", database="app")
    with pytest.raises(RuntimeError, match="start_replication"):
        t.poll()
    t.close()
    srv2.close()


def test_full_chain_fake_pg_to_spark_snapshot(spark, tmp_path):
    """The complete deployment chain: fake PG server → WalsenderTransport
    (real v3 protocol) → relay_to_frame_log → pg_cdc transport=frames
    stream → wire demux → wal2json decode → apply_changes snapshot, with
    Spark's checkpoint-commit acks forwarded upstream to the server."""
    import json
    import time as _t

    from pg_logical_replication_spark.operators.apply_changes import (
        apply_changes,
    )
    from pg_logical_replication_spark.sources.datasource import register
    from pg_logical_replication_spark.sources.transport import (
        WalsenderTransport,
        forward_acks_upstream,
        relay_to_frame_log,
    )
    from pg_logical_replication_spark.sources.wal2json import decode_wal2json
    from pg_logical_replication_spark.sources.wire import demux_copy_stream

    register(spark)

    def w2j(rid, lsn_long):
        payload = json.dumps({
            "change": [{
                "kind": "insert", "schema": "public", "table": "t",
                "columnnames": ["id", "v"], "columntypes": ["bigint", "text"],
                "columnvalues": [rid, f"v{rid}"],
            }],
            "nextlsn": f"0/{lsn_long:X}",
        }).encode()
        return _xlog(lsn_long, payload)

    frames = [w2j(i, 0x3000 + 8 * i) for i in range(5)]
    frames.append(_keepalive(0x3030, should_respond=True))
    # the full chain authenticates over SCRAM-SHA-256 — what a stock
    # PG >= 14 demands (r4; refusal-only before this round)
    srv = _FakePgServer(password="chain-pw", auth="scram", frames=frames)
    t = WalsenderTransport(
        "127.0.0.1", srv.port, user="rep", database="app",
        password="chain-pw",
    )
    t.start_replication("slot1", "0/3000", options={"format-version": "1"})

    log = str(tmp_path / "wal")
    deadline = _t.time() + 10
    total = 0
    while total < 6 and _t.time() < deadline:
        total += relay_to_frame_log(t, log)
        _t.sleep(0.02)
    assert total == 6

    cp = str(tmp_path / "cp")
    got = []
    q = (
        spark.readStream.format("pg_cdc")
        .option("path", log)
        .option("transport", "frames")
        .load()
        .writeStream.foreachBatch(lambda df, _b: got.extend(df.collect()))
        .option("checkpointLocation", cp)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = _t.time() + 30
        while len(got) < 6 and _t.time() < deadline:
            _t.sleep(0.1)
        assert len(got) == 6
        # wait for the commit-time ack to land in status.log, then
        # forward it up the live connection
        while _t.time() < deadline:
            n = forward_acks_upstream(log, t)
            if srv.received_statuses:
                break
            _t.sleep(0.1)
    finally:
        q.stop()
    assert srv.received_statuses
    # +1/carry position for the last frame's walEnd (keepalive at 0x3030)
    assert max(s["flushed"] for s in srv.received_statuses) == 0x3031

    # decode the delivered frames into a table snapshot
    raw = spark.createDataFrame(
        [(r["lsn"], r["seq"], r["value"], r["data"]) for r in got],
        "lsn string, seq long, value string, data binary",
    )
    from pyspark.sql import functions as F

    dm = demux_copy_stream(raw).filter("msg_type = 'w'")
    events = decode_wal2json(
        dm.select(F.col("payload").cast("string").alias("value")),
        value_col="value",
    )
    snap = apply_changes(
        events, key_columns=["id"], table="t",
        columns={"id": "bigint", "v": "string"},
    )
    assert {(r["id"], r["v"]) for r in snap.collect()} == {
        (i, f"v{i}") for i in range(5)
    }
    t.close()
    srv.close()



def test_poll_zero_budget_reads_nothing(tmp_path):
    """max_frames=0 must drain NOTHING (the frames reader's replay path
    passes a zero budget for an empty span); regression for the
    check-after-append off-by-one."""
    d = str(tmp_path / "frames")
    os.makedirs(d)
    with open(os.path.join(d, "000001.seg"), "ab") as f:
        write_frame(f, _xlog(0x10))
    t = FrameLogTailTransport(d)
    assert t.poll(max_frames=0) == []
    assert len(t.poll()) == 1  # cursor unchanged by the zero-budget poll


def test_walsender_unknown_sasl_mechanism_refused_loudly():
    """SCRAM-SHA-256 is spoken (r4); unknown mechanisms — including a
    channel-binding-only -PLUS offer — must raise NotImplementedError,
    not hang, downgrade, or misauthenticate."""
    import struct as _struct

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def server():
        conn, _ = srv.accept()
        with conn:
            # swallow startup, offer ONLY the channel-binding variant
            ln = int.from_bytes(conn.recv(4), "big")
            conn.recv(ln - 4)
            body = _struct.pack(">I", 10) + b"SCRAM-SHA-256-PLUS\x00\x00"
            conn.sendall(b"R" + _struct.pack(">I", len(body) + 4) + body)

    th = threading.Thread(target=server, daemon=True)
    th.start()
    from pg_logical_replication_spark.sources.transport import (
        WalsenderTransport,
    )

    with pytest.raises(NotImplementedError, match="SCRAM-SHA-256-PLUS"):
        WalsenderTransport(
            "127.0.0.1", port, user="rep", database="app", password="x"
        )
    srv.close()


def test_walsender_unknown_auth_code_refused_loudly():
    """Auth codes outside the supported profile (e.g. 7 = GSSAPI) raise
    NotImplementedError."""
    import struct as _struct

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def server():
        conn, _ = srv.accept()
        with conn:
            ln = int.from_bytes(conn.recv(4), "big")
            conn.recv(ln - 4)
            body = _struct.pack(">I", 7)
            conn.sendall(b"R" + _struct.pack(">I", len(body) + 4) + body)

    threading.Thread(target=server, daemon=True).start()
    from pg_logical_replication_spark.sources.transport import (
        WalsenderTransport,
    )

    with pytest.raises(NotImplementedError, match="auth method 7"):
        WalsenderTransport(
            "127.0.0.1", port, user="rep", database="app", password="x"
        )
    srv.close()


def test_run_relay_loop_with_rotation_and_acks(tmp_path):
    """relay.run_relay: drains the transport into rotating segments,
    forwards recorded acks upstream, stops on the frame bound."""
    from pg_logical_replication_spark.relay import run_relay
    from pg_logical_replication_spark.sources.transport import (
        WalsenderTransport,
    )

    frames = [_xlog(0x7000 + 8 * i, f"p{i}".encode()) for i in range(7)]
    srv = _FakePgServer(password=None, frames=frames)
    t = WalsenderTransport("127.0.0.1", srv.port, user="r", database="d")
    t.start_replication("s", "0/7000")

    log = str(tmp_path / "wal")
    n = run_relay(
        t, log,
        poll_interval=0.02,
        segment_frames=3,       # force rotation
        stop_after_frames=7,
        stop_after_seconds=15,
    )
    assert n == 7
    segs = sorted(
        f for f in os.listdir(log) if f.endswith(".seg")
    )
    assert len(segs) >= 2  # rotated at 3 frames/segment

    # simulate the Spark reader acknowledging, then relay the ack up
    FrameLogTailTransport(log).send_standby_status("0/7030")
    from pg_logical_replication_spark.sources.transport import (
        forward_acks_upstream,
    )

    forward_acks_upstream(log, t)
    import time as _t

    deadline = _t.time() + 5
    while not srv.received_statuses and _t.time() < deadline:
        _t.sleep(0.05)
    assert srv.received_statuses
    assert srv.received_statuses[-1]["flushed"] == 0x7031
    t.close()
    srv.close()


def test_relay_cli_arg_parsing_fails_fast_without_endpoint():
    """The CLI requires a reachable endpoint; argument errors exit 2."""
    import pytest as _pytest

    from pg_logical_replication_spark.relay import main

    with _pytest.raises(SystemExit):
        main(["--host", "h"])  # missing required args


def test_frames_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """A NEW query on the same checkpoint resumes from the committed
    frame offset: already-delivered frames do not replay, new appends
    do deliver (the acknowledge/resume contract in frames mode)."""
    import time

    from pg_logical_replication_spark.sources.datasource import register

    register(spark)
    d = str(tmp_path / "frames")
    os.makedirs(d)
    cp = str(tmp_path / "cp")
    seg = os.path.join(d, "000001.seg")

    def drain(bound):
        got = []
        q = (
            spark.readStream.format("pg_cdc")
            .option("path", d)
            .option("transport", "frames")
            .load()
            .writeStream.foreachBatch(lambda df, _b: got.extend(df.collect()))
            .option("checkpointLocation", cp)
            .trigger(processingTime="150 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 30
            while len(got) < bound and time.time() < deadline:
                time.sleep(0.1)
            # stopping right after foreachBatch races the offset commit
            # (a replay on restart would be legal at-least-once, but the
            # test asserts the COMMITTED-resume path): wait until an
            # idle micro-batch completes after the data batch, which
            # implies the prior offsets are in the commit log
            while time.time() < deadline:
                lp = q.lastProgress
                if lp is not None and lp["numInputRows"] == 0:
                    break
                time.sleep(0.1)
        finally:
            q.stop()
        return got

    with open(seg, "ab") as f:
        write_frame(f, _xlog(0x10))
        write_frame(f, _xlog(0x18))
    first = drain(2)
    assert [r["seq"] for r in first] == [0, 1]

    with open(seg, "ab") as f:
        write_frame(f, _xlog(0x20))
    second = drain(1)
    # only the new frame, continuing the global frame counter
    assert [r["seq"] for r in second] == [2]
    assert second[0]["lsn"] == "00000000/00000020"


def test_last_logged_lsn_resume_point(tmp_path):
    """last_logged_lsn walks every segment's frame headers — the relay's
    crash-restart resume point (restart replays nothing already durable)."""
    from pg_logical_replication_spark.model import ack_lsn
    from pg_logical_replication_spark.sources.transport import last_logged_lsn

    d = str(tmp_path / "wal")
    assert last_logged_lsn(d) is None
    os.makedirs(d)
    with open(os.path.join(d, "000001.seg"), "ab") as f:
        write_frame(f, _xlog(0x100))
        write_frame(f, _keepalive(0x180))
    with open(os.path.join(d, "000002.seg"), "ab") as f:
        write_frame(f, _xlog(0x150))  # older than the keepalive's walEnd
    assert last_logged_lsn(d) == "00000000/00000180"
    assert ack_lsn(last_logged_lsn(d)) == "00000000/00000181"


def test_run_relay_restart_resumes_last_segment(tmp_path):
    """A restarted relay continues in the log's LAST segment (writing to
    000001.seg again would append frames behind later segments and break
    the name-order contract) and the resume point skips durable frames."""
    from pg_logical_replication_spark.model import ack_lsn
    from pg_logical_replication_spark.relay import run_relay
    from pg_logical_replication_spark.sources.transport import (
        WalsenderTransport,
        last_logged_lsn,
    )

    log = str(tmp_path / "wal")

    srv1 = _FakePgServer(password=None, frames=[_xlog(0x100 + 8 * i) for i in range(4)])
    t1 = WalsenderTransport("127.0.0.1", srv1.port, user="r", database="d")
    t1.start_replication("s", "0/100")
    assert run_relay(t1, log, poll_interval=0.02, segment_frames=3,
                     stop_after_frames=4, stop_after_seconds=15) == 4
    t1.close(); srv1.close()
    assert sorted(os.listdir(log)) == ["000001.seg", "000002.seg"]

    # restart: resume point = byte after the last durable frame
    resume = ack_lsn(last_logged_lsn(log))
    assert resume == "00000000/00000119"  # 0x118 walStart + 1
    srv2 = _FakePgServer(password=None, frames=[_xlog(0x120), _xlog(0x128)])
    t2 = WalsenderTransport("127.0.0.1", srv2.port, user="r", database="d")
    t2.start_replication("s", resume)
    assert run_relay(t2, log, poll_interval=0.02, segment_frames=3,
                     stop_after_frames=2, stop_after_seconds=15) == 2
    t2.close(); srv2.close()

    # appended into 000002.seg (2 existing? no: seg2 had 1 frame; +2 = 3)
    t = FrameLogTailTransport(log)
    lsns = []
    while True:
        frames = t.poll()
        if not frames:
            break
        for fr in frames:
            lsns.append(int.from_bytes(fr[1:9], "big"))
    assert lsns == [0x100, 0x108, 0x110, 0x118, 0x120, 0x128]  # strict order


def test_concurrent_writer_reader_no_torn_frames(tmp_path):
    """The frame-atomicity claim under real concurrency: a writer
    appending frames byte-by-byte (worst-case torn writes) while a
    reader polls must yield every frame exactly once, in order, never
    a torn one."""
    import threading
    import time

    d = str(tmp_path / "wal")
    os.makedirs(d)
    seg = os.path.join(d, "000001.seg")
    N = 300
    stop = threading.Event()

    def writer():
        with open(seg, "ab", buffering=0) as f:
            for i in range(N):
                frame = _xlog(0x1000 + 8 * i, payload=b"x" * (i % 37))
                blob = struct.pack(">I", len(frame)) + frame
                # worst case: two syscalls per frame, torn mid-length
                f.write(blob[:3])
                f.write(blob[3:])
        stop.set()

    th = threading.Thread(target=writer, daemon=True)
    got = []
    t = FrameLogTailTransport(d)
    th.start()
    deadline = time.time() + 30
    while len(got) < N and time.time() < deadline:
        got.extend(t.poll())
    assert len(got) == N
    starts = [int.from_bytes(fr[1:9], "big") for fr in got]
    assert starts == [0x1000 + 8 * i for i in range(N)]
    assert all(len(fr) == 25 + (i % 37) for i, fr in enumerate(got))


# ------------------------------------------- round-4 durability fixes
class _ListTransport:
    """WalTransport stub yielding a pre-loaded frame list once."""

    def __init__(self, frames):
        self._frames = list(frames)
        self.statuses = []

    def poll(self, max_frames=None):
        take = len(self._frames) if max_frames is None else max_frames
        out, self._frames = self._frames[:take], self._frames[take:]
        return out

    def send_standby_status(self, lsn, ping=False):
        self.statuses.append((lsn, ping))


def test_relay_byte_cap_rotates_without_frame_loss(tmp_path):
    """The r3-advice high: frames past rotate_bytes were silently
    dropped after being drained from the transport. Now the writer
    rotates to a successor segment instead — zero loss."""
    from pg_logical_replication_spark.sources.transport import (
        relay_to_frame_log,
    )

    d = str(tmp_path / "wal")
    # 20 frames x ~1KB with a 600-byte cap: every frame must still land
    frames = [_xlog(0x100 + 8 * i, payload=b"x" * 1000) for i in range(20)]
    t = _ListTransport(frames)
    wrote = relay_to_frame_log(t, d, rotate_bytes=600)
    assert wrote == 20
    segs = sorted(f for f in os.listdir(d) if f.endswith(".seg"))
    assert len(segs) >= 10  # rotated roughly per-frame at this cap
    got = FrameLogTailTransport(d).poll()
    assert [int.from_bytes(fr[1:9], "big") for fr in got] == [
        0x100 + 8 * i for i in range(20)
    ]


def test_frame_log_writer_rotates_on_frames_and_bytes(tmp_path):
    from pg_logical_replication_spark.sources.transport import FrameLogWriter

    d = str(tmp_path / "wal")
    w = FrameLogWriter(d, segment_frames=3, rotate_bytes=1 << 30)
    w.append([_xlog(0x10 + 8 * i) for i in range(7)])
    segs = sorted(f for f in os.listdir(d) if f.endswith(".seg"))
    assert segs == ["000001.seg", "000002.seg", "000003.seg"]
    assert len(FrameLogTailTransport(d).poll()) == 7
    # an oversized single frame is still written (never dropped)
    w2 = FrameLogWriter(d, segment_frames=100, rotate_bytes=10)
    w2.append([_xlog(0x200, payload=b"y" * 500)])
    assert len(FrameLogTailTransport(d).poll()) == 8


def test_frame_log_writer_truncates_torn_tail_on_resume(tmp_path):
    """The r3-advice medium: a torn partial frame at the tail of the
    last segment must be truncated before appending, else every
    subsequent frame misaligns for the length-prefixed reader."""
    from pg_logical_replication_spark.sources.transport import FrameLogWriter

    d = str(tmp_path / "wal")
    os.makedirs(d)
    seg = os.path.join(d, "000001.seg")
    with open(seg, "ab") as f:
        write_frame(f, _xlog(0x10))
        write_frame(f, _xlog(0x18))
        f.write(struct.pack(">I", 30) + b"w12")  # torn: 30 declared, 3 present
    w = FrameLogWriter(d)
    assert w.segment_name == "000001.seg"
    w.append([_xlog(0x20)])
    got = FrameLogTailTransport(d).poll()
    assert [int.from_bytes(fr[1:9], "big") for fr in got] == [0x10, 0x18, 0x20]


def test_tailer_skips_torn_tail_of_sealed_segment(tmp_path):
    """A torn tail on a NON-last segment (writer crashed mid-append,
    then a restart rotated onward) must not wedge segment advance."""
    d = str(tmp_path / "wal")
    os.makedirs(d)
    with open(os.path.join(d, "000001.seg"), "ab") as f:
        write_frame(f, _xlog(0x10))
        f.write(struct.pack(">I", 50) + b"w" * 10)  # torn ≥4-byte tail
    with open(os.path.join(d, "000002.seg"), "ab") as f:
        write_frame(f, _xlog(0x18))
    t = FrameLogTailTransport(d)
    got = t.poll()
    assert [int.from_bytes(fr[1:9], "big") for fr in got] == [0x10, 0x18]
    # and the cursor has moved past the sealed segment
    assert t.position()["seg"] == "000002.seg"


def test_walsender_copydone_ends_stream_cleanly():
    """Server CopyDone ends CopyBoth for good: CommandComplete /
    ReadyForQuery must not re-enter copy mode, the client replies with
    its own CopyDone, and later polls return [] instead of raising."""
    import time as _t

    from pg_logical_replication_spark.sources.transport import (
        WalsenderTransport,
    )

    frames = [_xlog(0x100), _xlog(0x108)]
    srv = _FakePgServer(password=None, frames=frames, end_copy=True)
    t = WalsenderTransport("127.0.0.1", srv.port, user="r", database="d")
    t.start_replication("s", "0/100")
    got = []
    deadline = _t.time() + 5
    while len(got) < 2 and _t.time() < deadline:
        got.extend(t.poll())
    assert len(got) == 2
    # drain the end-of-copy sequence
    deadline = _t.time() + 5
    while t._copy_both and _t.time() < deadline:
        t.poll()
        _t.sleep(0.01)
    assert not t._copy_both
    assert t.poll() == []  # ended stream: EOF, not RuntimeError
    deadline = _t.time() + 5
    while not srv.received_copydone and _t.time() < deadline:
        _t.sleep(0.02)
    assert srv.received_copydone
    t.close()
    srv.close()


def test_run_relay_idle_reack_keeps_walsender_alive(tmp_path):
    """r3 'what's wrong' #2: with no new acks, the relay must still
    re-send the last status on every status_interval so an idle slot
    never hits wal_sender_timeout (reference :238-247 semantics)."""
    from pg_logical_replication_spark.relay import run_relay

    d = str(tmp_path / "wal")
    # a recorded ack exists from a previous run; the transport stays idle
    FrameLogTailTransport(d).send_standby_status("0/100")
    t = _ListTransport([])
    run_relay(
        t, d,
        poll_interval=0.02,
        status_interval=0.1,
        stop_after_seconds=0.6,
    )
    # first interval forwards the recorded ack; later idle intervals
    # re-send it — multiple identical statuses prove the re-ack fired
    assert len(t.statuses) >= 2
    assert all(lsn_to_long(lsn) == 0x100 for lsn, _ in t.statuses)


def test_run_relay_reacks_under_sustained_traffic(tmp_path):
    """ADVICE r4 medium: with frames arriving on every poll but NO
    downstream acks (a lagging/absent consumer), the old loop reset its
    status timer on mere traffic and never sent a Standby Status Update
    — the server's wal_sender_timeout would kill the slot. The timer
    must track when a status actually went upstream."""
    from pg_logical_replication_spark.relay import run_relay

    class _FireHose(_ListTransport):
        """Never-empty transport: one fresh frame per poll."""

        def __init__(self):
            super().__init__([])
            self._n = 0

        def poll(self, max_frames=None):
            self._n += 1
            return [_xlog(0x100 + 8 * self._n)]

    d = str(tmp_path / "wal")
    t = _FireHose()
    run_relay(
        t, d,
        poll_interval=0.02,
        status_interval=0.1,
        stop_after_seconds=0.6,
    )
    # several intervals elapsed under load: keepalive must have fired
    assert len(t.statuses) >= 2
    assert all(lsn == "0/00000000" for lsn, _ in t.statuses)


def test_run_multi_relay_reacks_under_sustained_traffic(tmp_path):
    """Same traffic-starvation fix, per slot in the multiplexed relay."""
    from pg_logical_replication_spark.relay import run_multi_relay

    class _FireHose(_ListTransport):
        def __init__(self):
            super().__init__([])
            self._n = 0

        def poll(self, max_frames=None):
            self._n += 1
            return [_xlog(0x100 + 8 * self._n)]

    a, b = _FireHose(), _FireHose()
    run_multi_relay(
        {"a": a, "b": b},
        str(tmp_path / "wal"),
        poll_interval=0.02,
        status_interval=0.1,
        stop_after_seconds=0.6,
    )
    for t in (a, b):
        assert len(t.statuses) >= 2
        assert all(lsn == "0/00000000" for lsn, _ in t.statuses)


def test_run_relay_idle_reack_with_no_recorded_acks(tmp_path):
    """Before any Spark commit exists, idle re-ack sends a
    zero-position status — resets the server timeout, moves no slot."""
    from pg_logical_replication_spark.relay import run_relay

    d = str(tmp_path / "wal")
    t = _ListTransport([])
    run_relay(
        t, d,
        poll_interval=0.02,
        status_interval=0.1,
        stop_after_seconds=0.5,
    )
    assert t.statuses
    assert all(lsn == "0/00000000" for lsn, _ in t.statuses)


# ----------------------------------------------- SCRAM-SHA-256 + TLS (r4)
def test_scram_client_rfc7677_test_vector():
    """Pin the SCRAM math to the published RFC 7677 §3 example
    (user 'user', password 'pencil', nonce 'rOprNGfwEbeRWgbNEkqO')."""
    from pg_logical_replication_spark.sources.scram import ScramClient

    c = ScramClient("pencil", nonce="rOprNGfwEbeRWgbNEkqO", username="user")
    assert c.client_first() == b"n,,n=user,r=rOprNGfwEbeRWgbNEkqO"
    server_first = (
        b"r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
        b"s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096"
    )
    final = c.client_final(server_first)
    assert final == (
        b"c=biws,r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
        b"p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ="
    )
    # the RFC's server-final verifies; a tampered one does not
    c.verify_server_final(
        b"v=6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4="
    )
    with pytest.raises(ConnectionError, match="server signature"):
        c.verify_server_final(b"v=AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA=")


def test_scram_client_rejects_non_extending_nonce():
    from pg_logical_replication_spark.sources.scram import ScramClient

    c = ScramClient("pw", nonce="abc")
    with pytest.raises(ConnectionError, match="nonce"):
        c.client_final(b"r=zzz,s=c2FsdA==,i=4096")
    c2 = ScramClient("pw", nonce="abc")
    with pytest.raises(ConnectionError, match="nonce"):
        c2.client_final(b"r=abc,s=c2FsdA==,i=4096")  # identical, no extension


def test_walsender_scram_auth_end_to_end():
    """Full chain through SCRAM-SHA-256: handshake, START_REPLICATION,
    frames, ack readback — against the fake server's RFC-faithful
    server side (what a stock PG ≥ 14 demands)."""
    import time as _t

    from pg_logical_replication_spark.sources.transport import (
        WalsenderTransport,
    )

    frames = [_xlog(0x9000), _keepalive(0x9008, should_respond=True)]
    srv = _FakePgServer(password="s3cr3t", auth="scram", frames=frames)
    t = WalsenderTransport(
        "127.0.0.1", srv.port, user="rep", database="app", password="s3cr3t"
    )
    assert t.parameters.get("server_version") == "16.1"
    t.start_replication("s", "0/9000")
    got = []
    deadline = _t.time() + 5
    while len(got) < 2 and _t.time() < deadline:
        got.extend(t.poll())
    assert [fr[:1] for fr in got] == [b"w", b"k"]
    t.send_standby_status("0/9008")
    deadline = _t.time() + 5
    while not srv.received_statuses and _t.time() < deadline:
        _t.sleep(0.02)
    assert srv.received_statuses[-1]["flushed"] == 0x9009
    t.close()
    srv.close()


def test_walsender_scram_wrong_password_fails():
    from pg_logical_replication_spark.sources.transport import (
        WalsenderTransport,
    )

    srv = _FakePgServer(password="right", auth="scram", frames=[])
    with pytest.raises(ConnectionError, match="authentication failed"):
        WalsenderTransport(
            "127.0.0.1", srv.port, user="rep", database="app",
            password="wrong",
        )
    srv.close()


def test_walsender_scram_detects_forged_server():
    """Mutual auth: a server that accepted the proof but returns a bad
    signature (doesn't actually know the password) must be rejected."""
    from pg_logical_replication_spark.sources.transport import (
        WalsenderTransport,
    )

    srv = _FakePgServer(
        password="pw", auth="scram", frames=[], scram_tamper_signature=True
    )
    with pytest.raises(ConnectionError, match="server signature"):
        WalsenderTransport(
            "127.0.0.1", srv.port, user="rep", database="app", password="pw"
        )
    srv.close()


class _TlsFixture:
    def __init__(self, ctx, cert, key, der):
        self.ctx = ctx  # server-side SSLContext
        self.cert = cert  # PEM path (doubles as the client's CA file)
        self.key = key
        self.der = der  # DER bytes (for RFC 5929 binding checks)


def _mint_tls(d, name="cert"):
    """Self-signed server cert via the openssl CLI (stdlib ssl cannot
    mint certs); SAN covers localhost + 127.0.0.1 so verify-full's
    hostname check can pass (python ssl ignores the CN)."""
    import ssl
    import subprocess

    key, cert = str(d / f"{name}-key.pem"), str(d / f"{name}.pem")
    subprocess.run(
        [
            "openssl", "req", "-x509", "-newkey", "rsa:2048",
            "-keyout", key, "-out", cert, "-days", "2", "-nodes",
            "-subj", "/CN=localhost",
            "-addext", "subjectAltName=DNS:localhost,IP:127.0.0.1",
        ],
        check=True, capture_output=True,
    )
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(cert, key)
    der = ssl.PEM_cert_to_DER_cert(open(cert).read())
    return _TlsFixture(ctx, cert, key, der)


@pytest.fixture(scope="module")
def _tls(tmp_path_factory):
    return _mint_tls(tmp_path_factory.mktemp("tls"))


@pytest.fixture(scope="module")
def _tls_ctx(_tls):
    return _tls.ctx


def test_walsender_tls_sslmode_require(_tls_ctx):
    """SSLRequest dance: server answers 'S', the connection wraps in
    TLS, and the whole protocol (SCRAM auth + streaming + acks) runs
    over the encrypted socket."""
    import time as _t

    from pg_logical_replication_spark.sources.transport import (
        WalsenderTransport,
    )

    frames = [_xlog(0xA000)]
    srv = _FakePgServer(
        password="pw", auth="scram", frames=frames, ssl_ctx=_tls_ctx
    )
    t = WalsenderTransport(
        "127.0.0.1", srv.port, user="rep", database="app", password="pw",
        sslmode="require",
    )
    assert t.ssl_in_use
    t.start_replication("s", "0/A000")
    got = []
    deadline = _t.time() + 5
    while not got and _t.time() < deadline:
        got.extend(t.poll())
    assert got and got[0][:1] == b"w"
    t.send_standby_status("0/A008")
    deadline = _t.time() + 5
    while not srv.received_statuses and _t.time() < deadline:
        _t.sleep(0.02)
    assert srv.received_statuses
    t.close()
    srv.close()


def test_walsender_tls_declined():
    """Server answers 'N': sslmode=require raises; sslmode=prefer falls
    back to plaintext on the same connection (libpq semantics)."""
    from pg_logical_replication_spark.sources.transport import (
        WalsenderTransport,
    )

    srv = _FakePgServer(password=None, frames=[], ssl_reply="N")
    with pytest.raises(ConnectionError, match="sslmode=require"):
        WalsenderTransport(
            "127.0.0.1", srv.port, user="r", database="d", sslmode="require"
        )
    srv.close()

    srv2 = _FakePgServer(password=None, frames=[_xlog(0xB000)], ssl_reply="N")
    t = WalsenderTransport(
        "127.0.0.1", srv2.port, user="r", database="d", sslmode="prefer"
    )
    assert not t.ssl_in_use
    t.start_replication("s", "0/B000")
    import time as _t

    got = []
    deadline = _t.time() + 5
    while not got and _t.time() < deadline:
        got.extend(t.poll())
    assert got
    t.close()
    srv2.close()


def test_walsender_tls_verify_full_and_scram_plus(_tls):
    """sslmode=verify-full against the minted CA: certificate verified,
    hostname checked, and — because the server offers it over TLS —
    the client upgrades to SCRAM-SHA-256-PLUS with the RFC 5929
    tls-server-end-point binding, which the fake server validates
    byte-for-byte against its own certificate hash (VERDICT r4 #5)."""
    import time as _t

    from pg_logical_replication_spark.sources.transport import (
        WalsenderTransport,
    )

    frames = [_xlog(0xC000)]
    srv = _FakePgServer(
        password="pw", auth="scram", frames=frames,
        ssl_ctx=_tls.ctx, cert_der=_tls.der,
    )
    t = WalsenderTransport(
        "localhost", srv.port, user="rep", database="app", password="pw",
        sslmode="verify-full", sslrootcert=_tls.cert,
    )
    assert t.ssl_in_use
    assert srv.negotiated_mechanism == "SCRAM-SHA-256-PLUS"
    t.start_replication("s", "0/C000")
    got = []
    deadline = _t.time() + 5
    while not got and _t.time() < deadline:
        got.extend(t.poll())
    assert got and got[0][:1] == b"w"
    t.close()
    srv.close()


def test_walsender_tls_verify_rejects_unknown_ca(_tls, tmp_path):
    """verify-ca with a DIFFERENT self-signed CA must refuse the
    connection — the whole point of the verify modes."""
    from pg_logical_replication_spark.sources.transport import (
        WalsenderTransport,
    )

    other = _mint_tls(tmp_path, "other")
    srv = _FakePgServer(password="pw", auth="scram", ssl_ctx=_tls.ctx)
    with pytest.raises(ConnectionError, match="certificate rejected"):
        WalsenderTransport(
            "localhost", srv.port, user="rep", database="app",
            password="pw", sslmode="verify-ca", sslrootcert=other.cert,
        )
    srv.close()


def test_walsender_tls_verify_refuses_ssl_decline(_tls):
    """Server answering 'N' to SSLRequest under verify-* is fatal,
    exactly like require."""
    from pg_logical_replication_spark.sources.transport import (
        WalsenderTransport,
    )

    srv = _FakePgServer(password=None, frames=[], ssl_reply="N")
    with pytest.raises(ConnectionError, match="sslmode=verify-full"):
        WalsenderTransport(
            "127.0.0.1", srv.port, user="r", database="d",
            sslmode="verify-full", sslrootcert=_tls.cert,
        )
    srv.close()


def test_scram_gs2_y_flag_on_tls_without_plus(_tls):
    """TLS up but the server offers only plain SCRAM (no cert_der →
    no -PLUS in the offer): the client's gs2 flag must be 'y' — the
    RFC 5802 §7 downgrade canary — and auth still succeeds (the fake
    server validates c=base64('y,,'))."""
    from pg_logical_replication_spark.sources.transport import (
        WalsenderTransport,
    )

    srv = _FakePgServer(
        password="pw", auth="scram", frames=[], ssl_ctx=_tls.ctx
    )
    t = WalsenderTransport(
        "127.0.0.1", srv.port, user="rep", database="app", password="pw",
        sslmode="require",
    )
    assert t.ssl_in_use
    assert srv.negotiated_mechanism == "SCRAM-SHA-256"
    t.close()
    srv.close()


def test_scram_plus_channel_binding_rfc5929_vector():
    """Pin cert_cb_data: a sha256WithRSAEncryption certificate hashes
    with SHA-256 (RFC 5929 §4.1), and the -PLUS client-first/gs2/c=
    shapes follow RFC 5802 §7."""
    import base64 as _b64
    import hashlib as _hl
    import ssl as _ssl

    from pg_logical_replication_spark.sources.scram import (
        ScramClient,
        cert_cb_data,
    )

    # any RSA cert minted by the fixture is sha256-signed; build one
    # directly here so the test is self-contained
    import subprocess
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        import pathlib

        f = _mint_tls(pathlib.Path(d))
        der = f.der
    assert cert_cb_data(der) == _hl.sha256(der).digest()

    cb = cert_cb_data(der)
    c = ScramClient("pw", nonce="NONCE", channel_binding=cb)
    assert c.client_first() == b"p=tls-server-end-point,,n=,r=NONCE"
    server_first = b"r=NONCE+srv,s=" + _b64.b64encode(b"salt") + b",i=4096"
    final = c.client_final(server_first).decode()
    want_c = _b64.b64encode(b"p=tls-server-end-point,," + cb).decode()
    assert final.startswith(f"c={want_c},r=NONCE+srv,p=")


def test_scram_non_ascii_password_refused():
    from pg_logical_replication_spark.sources.scram import ScramClient

    with pytest.raises(NotImplementedError, match="SASLprep"):
        ScramClient("pässword")


# ------------------------------------------------- multi-slot relay (r4)
def test_multi_slot_relay_and_independent_restart(spark, tmp_path):
    """SCALE.md's N-slots ingest shape: two fake-PG slots multiplexed
    through one relay loop into per-slot segment dirs; each resumes
    INDEPENDENTLY after a relay restart; one Spark session batch-reads
    both archived logs; acks stay per-slot."""
    import json
    import time as _t

    from pg_logical_replication_spark.relay import run_multi_relay
    from pg_logical_replication_spark.sources.datasource import register
    from pg_logical_replication_spark.sources.transport import (
        WalsenderTransport,
        forward_acks_upstream,
    )

    def w2j_frame(lsn, rid, table):
        payload = json.dumps({
            "change": [{
                "kind": "insert", "schema": "public", "table": table,
                "columnnames": ["id"], "columntypes": ["bigint"],
                "columnvalues": [rid],
            }],
        }).encode()
        return _xlog(lsn, payload)

    base = str(tmp_path / "wal")

    def connect(frames):
        srv = _FakePgServer(password=None, frames=frames)
        t = WalsenderTransport("127.0.0.1", srv.port, user="r", database="d")
        t.start_replication("s", "0/0")
        return srv, t

    # phase 1: slot A gets 3 frames, slot B gets 2
    srv_a, t_a = connect([w2j_frame(0x100 + 8 * i, i, "a") for i in range(3)])
    srv_b, t_b = connect([w2j_frame(0x200 + 8 * i, i, "b") for i in range(2)])
    counts = run_multi_relay(
        {"slot_a": t_a, "slot_b": t_b}, base,
        poll_interval=0.02, segment_frames=2,
        stop_after_frames=5, stop_after_seconds=15,
    )
    assert counts == {"slot_a": 3, "slot_b": 2}
    t_a.close(); t_b.close(); srv_a.close(); srv_b.close()

    # phase 2 (restart): NEW transports, each slot resumes into its own
    # dir — different segment positions prove independence
    srv_a2, t_a2 = connect([w2j_frame(0x300 + 8 * i, 10 + i, "a")
                            for i in range(2)])
    srv_b2, t_b2 = connect([w2j_frame(0x400, 20, "b")])
    counts2 = run_multi_relay(
        {"slot_a": t_a2, "slot_b": t_b2}, base,
        poll_interval=0.02, segment_frames=2,
        stop_after_frames=3, stop_after_seconds=15,
    )
    assert counts2 == {"slot_a": 2, "slot_b": 1}

    # per-slot ack independence: ack only slot A; only A's server sees it
    FrameLogTailTransport(os.path.join(base, "slot_a")).send_standby_status(
        "0/310"
    )
    forward_acks_upstream(os.path.join(base, "slot_a"), t_a2)
    deadline = _t.time() + 5
    while not srv_a2.received_statuses and _t.time() < deadline:
        _t.sleep(0.02)
    assert srv_a2.received_statuses
    assert not srv_b2.received_statuses
    t_a2.close(); t_b2.close(); srv_a2.close(); srv_b2.close()

    # one Spark session reads BOTH archived slot logs (batch .seg path:
    # raw frames in `data`, demuxed then decoded like the live stream)
    register(spark)
    from pyspark.sql import functions as F

    from pg_logical_replication_spark.sources import decode
    from pg_logical_replication_spark.sources.wire import demux_copy_stream

    def snapshot(slot):
        raw = (
            spark.read.format("pg_cdc")
            .option("path", os.path.join(base, slot))
            .load()
        )
        dm = demux_copy_stream(raw, passthrough=("lsn", "seq")).filter(
            "msg_type = 'w'"
        )
        ev = decode(
            dm.select(
                "lsn", "seq", F.col("payload").cast("string").alias("value")
            ),
            "wal2json",
            lsn_col="lsn",
        )
        return sorted(
            int(r["after"]["id"])
            for r in ev.filter("op = 'insert'").collect()
        )

    assert snapshot("slot_a") == [0, 1, 2, 10, 11]
    assert snapshot("slot_b") == [0, 1, 20]
    # rotation happened inside each slot dir (segment_frames=2)
    assert len([f for f in os.listdir(os.path.join(base, "slot_a"))
                if f.endswith(".seg")]) >= 2


def test_read_statuses_since_incremental(tmp_path):
    """Ack forwarding reads only NEW status frames per interval."""
    from pg_logical_replication_spark.sources.transport import (
        read_statuses_since,
    )

    d = str(tmp_path / "wal")
    t = FrameLogTailTransport(d)
    t.send_standby_status("0/100")
    s1, off1 = read_statuses_since(d, 0)
    assert [x["flushed"] for x in s1] == [0x101] and off1 > 0
    s2, off2 = read_statuses_since(d, off1)
    assert s2 == [] and off2 == off1
    t.send_standby_status("0/200", ping=True)
    s3, off3 = read_statuses_since(d, off2)
    assert [x["flushed"] for x in s3] == [0x201] and s3[0]["ping"]
    assert off3 > off2
    # missing dir/file → empty, offset unchanged
    assert read_statuses_since(str(tmp_path / "nope"), 0) == ([], 0)


def test_cert_cb_data_never_crashes_and_defaults_sha256():
    """cert_cb_data walks untrusted DER: arbitrary bytes must never
    raise (malformed input falls back to SHA-256 of the blob), and the
    known signature OIDs map to their RFC 5929 hashes."""
    import hashlib

    from hypothesis import given, settings, strategies as st

    from pg_logical_replication_spark.sources.scram import (
        _SIG_OID_HASH,
        cert_cb_data,
    )

    @settings(max_examples=200, deadline=None)
    @given(st.binary(min_size=0, max_size=200))
    def run(blob):
        out = cert_cb_data(blob)
        assert len(out) in (32, 48, 64)  # sha256/384/512 digests only
        # fallback must be the sha256 of the exact input when the DER
        # walk finds nothing recognizable
        if out == hashlib.sha256(blob).digest():
            return
        assert len(out) in (48, 64)

    run()
    assert _SIG_OID_HASH["1.2.840.113549.1.1.11"] == "sha256"
    assert _SIG_OID_HASH["1.2.840.113549.1.1.5"] == "sha256"  # sha1 → 256
    assert _SIG_OID_HASH["1.2.840.10045.4.3.3"] == "sha384"


def test_multi_relay_isolates_dead_slot(tmp_path):
    """One transport dying mid-stream must not take down the other
    slots (isolate_errors=True): the healthy slot keeps relaying, the
    failure is reported, and the dead slot's pre-failure frames stay
    durable in its log. Default stays fail-fast."""
    from pg_logical_replication_spark.relay import run_multi_relay

    class _Dying(_ListTransport):
        def __init__(self, frames, die_after):
            super().__init__(frames)
            self._left = die_after

        def poll(self, max_frames=None):
            if self._left <= 0:
                raise ConnectionError("walsender: connection reset")
            out = super().poll(1)
            self._left -= 1
            return out

    healthy_frames = [_xlog(0x100 + 8 * i) for i in range(6)]
    dead_frames = [_xlog(0x900 + 8 * i) for i in range(6)]

    # fail-fast default: the error propagates
    import pytest as _pt

    with _pt.raises(ConnectionError):
        run_multi_relay(
            {"a": _ListTransport(healthy_frames),
             "b": _Dying(dead_frames, die_after=2)},
            str(tmp_path / "ff"),
            poll_interval=0.01,
            stop_after_frames=12,
            stop_after_seconds=2.0,
        )

    fails: dict = {}
    counts = run_multi_relay(
        {"a": _ListTransport(list(healthy_frames)),
         "b": _Dying(list(dead_frames), die_after=2)},
        str(tmp_path / "iso"),
        poll_interval=0.01,
        stop_after_seconds=1.0,  # b dies on its 3rd poll, a drains fully
        isolate_errors=True,
        failures=fails,
    )
    assert counts["a"] == 6
    assert counts["b"] == 2
    assert "b" in fails and "connection reset" in fails["b"]
    # the dead slot's pre-failure frames are durable on disk
    segs = [f for f in os.listdir(tmp_path / "iso" / "b") if f.endswith(".seg")]
    assert segs


def test_bootstrap_snapshot_plus_stream(spark, tmp_path):
    """The CREATE SUBSCRIPTION shape on one replication connection:
    create slot → COPY snapshot (consistent point) → stream changes →
    ONE apply_changes over snapshot-as-inserts ∪ stream = current
    table. Exercises COPY text escapes (\\t, \\\\, \\n) and \\N NULL."""
    import json as _json
    import time as _t

    from pg_logical_replication_spark.operators.apply_changes import (
        apply_changes,
    )
    from pg_logical_replication_spark.sources.bootstrap import (
        bootstrap_events,
        snapshot_dataframe,
    )
    from pg_logical_replication_spark.sources.transport import (
        WalsenderTransport,
        copy_out,
    )
    from pg_logical_replication_spark.sources.wal2json import decode_wal2json

    def w2j(payload: dict, lsn_long: int) -> bytes:
        return _xlog(lsn_long, _json.dumps(payload).encode())

    # stream AFTER the snapshot: id=2 updated, id=4 inserted
    frames = [
        w2j({"change": [{"kind": "update", "schema": "public", "table": "t",
                         "columnnames": ["id", "v"],
                         "columntypes": ["bigint", "text"],
                         "columnvalues": [2, "two-v2"],
                         "oldkeys": {"keynames": ["id"],
                                     "keytypes": ["bigint"],
                                     "keyvalues": [2]}}],
             "nextlsn": "0/2000"}, 0x2000),
        w2j({"change": [{"kind": "insert", "schema": "public", "table": "t",
                         "columnnames": ["id", "v"],
                         "columntypes": ["bigint", "text"],
                         "columnvalues": [4, "four"]}],
             "nextlsn": "0/2008"}, 0x2008),
    ]
    srv = _FakePgServer(password=None, frames=frames)
    # snapshot rows in COPY text format: escaped tab, literal
    # backslash+n (NOT a newline), real newline escape, and a NULL
    srv.copy_rows = [
        b"1\tone",
        b"2\ttwo\\twith-tab",
        b"3\t\\N",
    ]
    t = WalsenderTransport("127.0.0.1", srv.port, user="rep", database="app")
    slot = t.create_replication_slot("boot", plugin="wal2json")
    rows = copy_out(t, "COPY public.t TO STDOUT")
    assert srv.copy_sql == "COPY public.t TO STDOUT"
    snap = snapshot_dataframe(
        spark, rows, {"id": "bigint", "v": "text"},
        str(tmp_path / "staging"),
    )
    got_snap = {r["id"]: r["v"] for r in snap.collect()}
    assert got_snap == {1: "one", 2: "two\twith-tab", 3: None}

    t.start_replication("boot", slot["consistent_point"])
    deadline, got = _t.time() + 5, []
    while len(got) < 2 and _t.time() < deadline:
        got.extend(t.poll())
    assert len(got) == 2
    raw = spark.createDataFrame(
        [(fr[25:].decode(), i) for i, fr in enumerate(got)],
        "value string, seq long",
    )
    stream_ev = decode_wal2json(raw)
    snap_ev = bootstrap_events(snap, "t", lsn=slot["consistent_point"])
    events = snap_ev.unionByName(
        stream_ev, allowMissingColumns=True
    )
    table = apply_changes(
        events, key_columns=["id"], table="t",
        columns={"id": "bigint", "v": "text"},
    )
    final = {r["id"]: r["v"] for r in table.collect()}
    assert final == {
        1: "one", 2: "two-v2", 3: None, 4: "four",
    }
    t.close()
    srv.close()


def test_copy_in_roundtrips_spark_rendered_rows(spark, tmp_path):
    """The bulk-load inverse: Spark renders COPY text (to_copy_text),
    copy_in ships it, and the server-received rows parse back to the
    identical typed values — escape render/fold are exact inverses
    (tab, newline, backslash, NULL all planted)."""
    from pg_logical_replication_spark.sources.bootstrap import (
        parse_copy_lines,
        to_copy_text,
    )
    from pg_logical_replication_spark.sources.transport import (
        WalsenderTransport,
        copy_in,
    )

    src = spark.createDataFrame(
        [
            (1, "plain"),
            (2, "tab\there"),
            (3, "line\nbreak"),
            (4, "back\\slash"),
            (5, None),
        ],
        "id bigint, v string",
    )
    rendered = [r["value"].encode() for r in to_copy_text(src, ["id", "v"]).collect()]
    srv = _FakePgServer(password=None, frames=[])
    t = WalsenderTransport("127.0.0.1", srv.port, user="rep", database="app")
    n = copy_in(t, "COPY public.t FROM STDIN", rendered)
    assert n == 5
    import time as _t

    deadline = _t.time() + 5
    while len(srv.copied_in) < 5 and _t.time() < deadline:
        _t.sleep(0.02)
    assert len(srv.copied_in) == 5
    back = parse_copy_lines(
        spark.createDataFrame(
            [(r.decode(),) for r in srv.copied_in], "value string"
        ),
        {"id": "bigint", "v": "text"},
    )
    assert sorted((r["id"], r["v"]) for r in back.collect()) == [
        (1, "plain"), (2, "tab\there"), (3, "line\nbreak"),
        (4, "back\\slash"), (5, None),
    ]
    t.close()
    srv.close()


def test_writer_never_appends_before_bootstrap_segments(tmp_path, spark):
    """A relay writer constructed over a log holding only bootstrap
    pre-segments (000000.<part>.bootstrap.seg) must open 000001.seg —
    a bare 000000.seg would sort BEFORE the bootstrap files and the
    tailer would replay live frames ahead of the snapshot."""
    from pg_logical_replication_spark.sources.bootstrap import (
        bootstrap_to_frame_log,
    )
    from pg_logical_replication_spark.sources.transport import (
        FrameLogTailTransport,
        FrameLogWriter,
    )

    log = str(tmp_path / "wal")
    snap = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id bigint, v string"
    ).repartition(2)
    assert bootstrap_to_frame_log(
        snap, {"id": "bigint", "v": "text"}, "t", log
    ) == 2

    w = FrameLogWriter(log)
    assert w.segment_name == "000001.seg"
    live = _xlog(0x7000)
    w.append([live])
    # reader order: both bootstrap frames first, the live frame last
    frames = FrameLogTailTransport(log).poll()
    assert len(frames) == 3
    assert frames[-1] == live
    assert all(fr[:1] == b"w" for fr in frames)


def test_copy_parse_octal_escape_guard(spark):
    """Octal escapes (\\123) are out of the supported COPY fold set:
    the parse must fail loudly, never silently corrupt the value."""
    import pytest as _pt

    from pg_logical_replication_spark.sources.bootstrap import (
        parse_copy_lines,
    )

    lines = spark.createDataFrame([("1\tbad\\123",)], "value string")
    df = parse_copy_lines(lines, {"id": "bigint", "v": "text"})
    with _pt.raises(Exception, match="unsupported COPY escape"):
        df.collect()


def test_relay_writer_cache_rebuilds_on_dir_recreation(tmp_path):
    """ADVICE r5: a cached relay writer must not resume with stale
    _idx/_count/_bytes after the log directory is deleted and recreated
    (or after another writer appended/rotated the same dir) — it would
    write into a fresh log at a wrong segment index with wrong rotation
    accounting."""
    from pg_logical_replication_spark.sources.transport import (
        FrameLogWriter,
        relay_to_frame_log,
    )

    d = str(tmp_path / "wal")
    relay_to_frame_log(_ListTransport([_xlog(0x10), _xlog(0x18)]), d)
    assert sorted(os.listdir(d)) == ["000001.seg"]

    # dir deleted AND recreated between calls: cached state is stale
    import shutil

    shutil.rmtree(d)
    os.makedirs(d)
    relay_to_frame_log(_ListTransport([_xlog(0x20)]), d)
    got = FrameLogTailTransport(d).poll()
    assert [int.from_bytes(fr[1:9], "big") for fr in got] == [0x20]

    # a FOREIGN writer rotates the same dir: cache must re-derive, not
    # append at its remembered (now-sealed) segment
    w = FrameLogWriter(d, segment_frames=1)
    w.append([_xlog(0x28), _xlog(0x30)])  # seals 000001, writes 000002+
    relay_to_frame_log(_ListTransport([_xlog(0x38)]), d)
    vals = [
        int.from_bytes(fr[1:9], "big")
        for fr in FrameLogTailTransport(d).poll()
    ]
    assert vals == [0x20, 0x28, 0x30, 0x38]


def test_copy_in_raises_on_non_copy_statement():
    """ADVICE r5: a statement that completes normally (no
    CopyInResponse 'G') yielded 'C'+'Z' which the pre-G loop silently
    skipped, blocking forever on the next read. It must raise instead
    — verified against real PG 15.18 in docs/LIVEPG_r06.md."""
    from pg_logical_replication_spark.sources import transport as tr

    class _Conn:
        def __init__(self, msgs):
            self._msgs = list(msgs)
            self.sent = []

        def _send_msg(self, tag, body):
            self.sent.append((tag, body))

        def _recv_msg(self):
            return self._msgs.pop(0)

        def _error_fields(self, body):
            return {"M": body.decode()}

    # SELECT-shaped flow: RowDescription, DataRow, CommandComplete, RFQ
    conn = _Conn([
        (b"T", b""), (b"D", b""), (b"C", b"SELECT 1"), (b"Z", b"I"),
    ])
    with pytest.raises(ConnectionError, match="did not start COPY-in"):
        tr.copy_in(conn, "SELECT 1", [b"x"])

    # error-then-ready flow keeps the server's message
    conn2 = _Conn([(b"E", b"no such table"), (b"Z", b"I")])
    with pytest.raises(ConnectionError, match="no such table"):
        tr.copy_in(conn2, "COPY nope FROM STDIN", [b"x"])
