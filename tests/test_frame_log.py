"""The relay loop and the frame-log layout, without a Spark session.

Covers the one relay step (``relay._SlotRelay``) behind ``run_relay`` and
``run_multi_relay``, the one segment-listing rule every frame-log reader
shares (``transport.list_segments``), the one cutting rule the writer and
the frames reader share (``transport.block_open_after``) and the
``last_logged_lsn`` memo. Run it alone with
``python -m pytest tests/test_frame_log.py``: nothing here needs Java.
"""

import os
import time

from test_transport import (
    _FakePgServer,
    _keepalive,
    _ListTransport,
    _two_phase_frames,
    _xlog,
)

from pg_logical_replication_spark.model import long_to_lsn, lsn_to_long
from pg_logical_replication_spark.relay import run_multi_relay, run_relay
from pg_logical_replication_spark.sources import pgoutput_format as pf
from pg_logical_replication_spark.sources.bootstrap import (
    BOOTSTRAP_DONE_MARKER,
)
from pg_logical_replication_spark.sources.datasource import PgCdcBatchReader
from pg_logical_replication_spark.sources.transport import (
    FrameLogTailTransport,
    FrameLogWriter,
    WalsenderTransport,
    block_open_after,
    frame_lsn,
    last_logged_lsn,
    list_segments,
    split_frames,
    write_frame,
)


def _starts(frames):
    return [int.from_bytes(fr[1:9], "big") for fr in frames]


def test_run_relay_loop_with_rotation_and_acks(tmp_path):
    """relay.run_relay: drains the transport into rotating segments,
    forwards recorded acks upstream, stops on the frame bound."""
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

    # simulate the Spark reader acknowledging, then relay the ack up:
    # one pass (stop_after_seconds=0) ends with the final ack flush
    FrameLogTailTransport(log).send_standby_status("0/7030")
    run_relay(t, log, stop_after_seconds=0)

    deadline = time.time() + 5
    while not srv.received_statuses and time.time() < deadline:
        time.sleep(0.05)
    assert srv.received_statuses
    assert srv.received_statuses[-1]["flushed"] == 0x7031
    t.close()
    srv.close()


def test_relay_byte_cap_rotates_without_frame_loss(tmp_path):
    """The r3-advice high: frames past rotate_bytes were silently
    dropped after being drained from the transport. Now the writer
    rotates to a successor segment instead — zero loss."""
    d = str(tmp_path / "wal")
    # 20 frames x ~1KB with a 600-byte cap: every frame must still land
    frames = [_xlog(0x100 + 8 * i, payload=b"x" * 1000) for i in range(20)]
    t = _ListTransport(frames)
    wrote = run_relay(t, d, rotate_bytes=600, stop_after_frames=20)
    assert wrote == 20
    segs = sorted(f for f in os.listdir(d) if f.endswith(".seg"))
    assert len(segs) >= 10  # rotated roughly per-frame at this cap
    got = FrameLogTailTransport(d).poll()
    assert _starts(got) == [0x100 + 8 * i for i in range(20)]


def _bootstrap_leftovers(d):
    """A log holding an orphaned bootstrap partition (crash before the
    rename), the completion marker and one live segment."""
    os.makedirs(d)
    with open(os.path.join(d, "000000.00000.bootstrap.seg.tmp"), "wb") as f:
        write_frame(f, _xlog(0x10, b"half-written snapshot"))
    with open(os.path.join(d, BOOTSTRAP_DONE_MARKER), "w") as f:
        f.write("1\n")
    with open(os.path.join(d, "000001.seg"), "wb") as f:
        write_frame(f, _xlog(0x100))
        write_frame(f, _keepalive(0x108))


def test_readers_skip_bootstrap_temp_files_and_marker(tmp_path):
    """The tailer, the pg_cdc batch reader and the writer's resume all
    take segments from one listing rule, which skips ``*.tmp`` (a
    bootstrap partition not yet renamed into place) and the bootstrap
    marker."""
    d = str(tmp_path / "wal")
    _bootstrap_leftovers(d)
    assert list_segments(d) == ["000001.seg"]

    assert _starts(FrameLogTailTransport(d).poll()) == [0x100, 0x108]

    reader = PgCdcBatchReader({"path": d})
    parts = reader.partitions()
    assert [os.path.basename(p.path) for p in parts] == ["000001.seg"]
    rows = [row for p in parts for row in reader.read(p)]
    assert [(lsn, value) for lsn, _seq, value, _data in rows] == [
        ("00000000/00000100", None),
        ("00000000/00000108", None),
    ]

    w = FrameLogWriter(d)
    assert w.segment_name == "000001.seg"
    assert last_logged_lsn(d) == "00000000/00000108"


def test_last_logged_lsn_ignores_torn_headers(tmp_path):
    """A 'w' frame shorter than its 25-byte header (or a 'k' frame
    shorter than 18 bytes) carries no LSN: last_logged_lsn must skip it
    exactly like the pg_cdc readers do."""
    d = str(tmp_path / "wal")
    os.makedirs(d)
    with open(os.path.join(d, "000001.seg"), "wb") as f:
        write_frame(f, _xlog(0x100))
        write_frame(f, b"w" + (0x900).to_bytes(8, "big") + b"\x00")
        write_frame(f, b"k" + (0x800).to_bytes(8, "big"))
    assert last_logged_lsn(d) == "00000000/00000100"


def test_one_slot_and_multi_slot_relays_run_the_same_step(tmp_path):
    """run_relay is run_multi_relay with one slot: the same frames and
    recorded acks give byte-identical segments and the same statuses
    upstream, including the final ack flush."""
    frames = [_xlog(0x100 + 8 * i, b"x" * 40) for i in range(9)]

    def log_with_acks(d):
        t = FrameLogTailTransport(d)
        t.send_standby_status("0/100")
        t.send_standby_status("0/108", ping=True)

    single = str(tmp_path / "single")
    log_with_acks(single)
    t1 = _ListTransport(frames)
    n1 = run_relay(t1, single, segment_frames=4, stop_after_frames=9)

    multi = str(tmp_path / "multi")
    log_with_acks(os.path.join(multi, "a"))
    t2 = _ListTransport(frames)
    counts = run_multi_relay(
        {"a": t2}, multi, segment_frames=4, stop_after_frames=9
    )

    assert n1 == counts["a"] == 9
    seg_names = list_segments(single)
    assert seg_names == list_segments(os.path.join(multi, "a")) == [
        "000001.seg", "000002.seg", "000003.seg"
    ]
    for name in seg_names:
        with open(os.path.join(single, name), "rb") as a, open(
            os.path.join(multi, "a", name), "rb"
        ) as b:
            assert a.read() == b.read()
    assert t1.statuses == t2.statuses
    assert [(lsn_to_long(lsn), ping) for lsn, ping in t1.statuses] == [
        (0x100, False), (0x108, True)
    ]


def test_reack_fires_once_per_status_interval(tmp_path):
    """The keepalive re-ack restarts the status timer: an idle relay
    sends at most one status per interval, not one per poll."""
    t = _ListTransport([])
    started = time.monotonic()
    run_relay(
        t, str(tmp_path / "wal"),
        poll_interval=0.01,
        status_interval=0.1,
        stop_after_seconds=0.6,
    )
    elapsed = time.monotonic() - started
    # one re-ack per elapsed interval at most; a timer left running
    # after a re-ack would send one per 0.01 s poll instead
    assert 2 <= len(t.statuses) <= elapsed / 0.1


def test_writer_never_seals_a_segment_inside_a_block(tmp_path):
    """Segments rotate only outside 'S'..'E' and 'b'..'P' blocks — also
    when a resumed writer finds its last segment inside a block — so a
    reader that decodes each segment on its own sees whole blocks."""
    d = str(tmp_path / "wal")
    streamed = [
        pf.encode_stream_start(900),
        *[pf.with_stream_xid(900, pf.encode_insert(16401, [("t", str(i))]))
          for i in range(10)],
        pf.encode_stream_stop(),
        pf.encode_stream_commit(900, "0/9000", "0/9008", 0),
    ]
    frames = [
        _xlog(0x8000 + 8 * i, m)
        for i, m in enumerate(streamed)
    ] + _two_phase_frames("commit", start=0x9000)
    FrameLogWriter(d, segment_frames=6).append(frames[:4])
    # resumes inside the streamed segment: its frame count passes the
    # cap there, and the writer must still hold the segment open
    w = FrameLogWriter(d, segment_frames=6)
    w.append(frames[4:9])
    w.append(frames[9:])

    names = list_segments(d)
    assert len(names) > 2  # the cap still rotates outside blocks
    logged, cuts = [], []
    for name in names:
        with open(os.path.join(d, name), "rb") as f:
            seg, _pos = split_frames(f.read(), 0, None)
        logged += seg
        cuts.append(len(logged))
    assert logged == frames
    open_, open_at = False, []
    for frame in logged:
        open_ = block_open_after(frame, open_)
        open_at.append(open_)
    assert [open_at[c - 1] for c in cuts] == [False] * len(cuts)


def test_block_edges_take_only_the_exact_pgoutput_shapes():
    """Payloads of other formats that start with a block tag open or
    close nothing."""
    opener = _two_phase_frames("commit")[1]  # 'b'
    for payload in (
        b"S", b"E-", b"b" + b"x" * 40, b"PREPARE TRANSACTION 'g1'",
        b"b" + b"\x00" * 40, b"P" + b"x" * 28 + b"\x00",
        b"P" + b"x" * 29 + b"g\x00id\x00",
    ):
        assert block_open_after(_xlog(0x10, payload), False) is False
        assert block_open_after(_xlog(0x10, payload), True) is True
    assert block_open_after(opener, False) is True
    assert block_open_after(_keepalive(0x10), True) is True


def test_last_logged_lsn_rereads_only_the_active_segment(tmp_path, monkeypatch):
    """Sealed segments' maxima are remembered: after an append to the
    active segment, only that segment is opened again, and the result
    still equals a full scan — whose maximum may sit in an earlier
    segment (a keepalive's walEnd beyond later walStarts)."""
    d = str(tmp_path / "wal")
    w = FrameLogWriter(d, segment_frames=3)
    w.append([_xlog(0x100), _keepalive(0x900)] + [
        _xlog(0x108 + 8 * i) for i in range(5)
    ])
    assert last_logged_lsn(d) == "00000000/00000900"

    def full_scan():
        return long_to_lsn(max(
            lsn_to_long(lsn)
            for lsn in map(frame_lsn, FrameLogTailTransport(d).poll())
            if lsn
        ))

    real_open, opened = open, []

    def spy(path, *args, **kwargs):
        opened.append(os.path.basename(path))
        return real_open(path, *args, **kwargs)

    for frame, want in ((_xlog(0x140), "00000000/00000900"),
                        (_xlog(0x1000), "00000000/00001000")):
        w.append([frame])
        monkeypatch.setattr("builtins.open", spy)
        got = last_logged_lsn(d)
        monkeypatch.undo()
        assert opened == [list_segments(d)[-1]]
        opened.clear()
        assert got == full_scan() == want
