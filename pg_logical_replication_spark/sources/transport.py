"""Pluggable WAL transports, the durable frame log and its one layout.

The reference's product core is a walsender client
(``src/logical-replication-service.ts:70-87`` connect / ``:126-185``
start + copyData loop): open a replication connection, receive COPY
frames ('w' XLogData / 'k' Primary Keepalive), and answer with Standby
Status Update 'r' frames whose positions are last-LSN+1 with 32-bit
carry (``:254-300``). This module factors that seam out of the stream
reader (review r2 #3): a :class:`WalTransport` produces raw COPY frames
and accepts status updates; WHERE the frames come from — a PG socket, a
TCP relay, an append-only frame log — is the implementation's business,
and ``sources/wire.py:demux_copy_stream`` stays the downstream parser
either way.

Transports:

* :class:`WalsenderTransport` — the real thing: the PostgreSQL v3 wire
  protocol (startup packet with ``replication=database``, TLS, trust/
  cleartext/md5/SCRAM auth, ``START_REPLICATION SLOT … LOGICAL`` via
  simple Query, CopyBoth streaming, ErrorResponse surfacing),
  reimplemented from the public protocol documentation. Tests drive it
  against an in-process fake server (tests/test_transport.py) and
  against a real PostgreSQL (tests/test_live_pg.py).
* :class:`FrameLogTailTransport` — tails the durable frame log with
  INCREMENTAL byte offsets (a growing segment becomes visible
  frame-by-frame, not file-by-file). Status updates append to
  ``status.log``, which ``relay.py`` forwards upstream. This is the
  default behind the ``pg_cdc`` source's ``transport=frames``.
* :class:`SocketFrameTransport` — the same frame contract over a TCP
  socket, length-prefixed both directions (a frame relay, no PG
  semantics).

The frame log itself is written by :class:`FrameLogWriter` (driven by
``relay.run_relay``) and read by the tailer, the ``pg_cdc`` batch and
stream readers and ``last_logged_lsn``. Its layout — which files are
segments, the length prefix, the 'w'/'k' header sizes, the LSN word,
the PG epoch and the atomic blocks no segment boundary or micro-batch
may split — is defined once, in the section below, and every other
module imports it.

Scale note: one replication slot is ONE ordered connection (the
reference is a single-socket client too) — transport ingest is
inherently serial. The engine's parallelism applies downstream: frames
land in the raw log / micro-batch and every decode + query stage fans
out across executors. A 1000-executor cluster tails N slots with N
transports, not one transport 1000 ways.
"""

from __future__ import annotations

import os
import struct
import time
from abc import ABC, abstractmethod

from pg_logical_replication_spark.model import ack_lsn, long_to_lsn, lsn_to_long

# ------------------------------------------------------ frame-log layout
# A frame log is a directory of segment files read in name order, each a
# run of u32-length-prefixed COPY frames, beside ``status.log``: the
# Standby Status Updates the reader records, in the same framing. The
# one cutting rule: no segment and no micro-batch ends inside an
# 'S'..'E' or 'b'..'P' block (``block_open_after``).

#: µs between the unix epoch and PostgreSQL's 2000-01-01 epoch
PG_EPOCH_OFFSET_US = 946_684_800_000_000
#: 'w' XLogData header: tag + walStart + walEnd + sendTime
XLOG_HEADER = 25
#: 'k' Primary Keepalive: tag + walEnd + sendTime + replyRequested
KEEPALIVE_SIZE = 18
STATUS_FILE = "status.log"
#: written by ``bootstrap_to_frame_log`` only after every bootstrap
#: segment is renamed into place
BOOTSTRAP_DONE_MARKER = "000000.bootstrap.done"

_LENGTH = struct.Struct(">I")


def list_segments(path: str) -> list[str]:
    """Segment file names of a log directory, in stream (name) order.

    Skips hidden and ``_``-prefixed files, ``status.log``, the bootstrap
    completion marker and ``*.tmp`` files: a bootstrap partition writes
    ``<segment>.tmp`` and only renames it into place once every
    partition has succeeded."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(
        n
        for n in names
        if not n.startswith((".", "_"))
        and not n.endswith(".tmp")
        and n not in (STATUS_FILE, BOOTSTRAP_DONE_MARKER)
        and os.path.isfile(os.path.join(path, n))
    )


def split_frames(buf: bytes, pos: int, max_frames: int | None):
    """Length-prefixed frame splitter: returns (frames, new_pos).

    Stops cleanly before a partial frame (a writer caught mid-append) —
    the incremental-offset contract.
    """
    frames: list[bytes] = []
    n = len(buf)
    # bound checked at loop top: max_frames=0 must read NOTHING (the
    # replay reader passes a zero budget to mean exactly that)
    while pos + 4 <= n and (max_frames is None or len(frames) < max_frames):
        (ln,) = _LENGTH.unpack_from(buf, pos)
        if pos + 4 + ln > n:
            break  # partial tail — wait for the writer
        frames.append(buf[pos + 4 : pos + 4 + ln])
        pos += 4 + ln
    return frames, pos


def frame_record(frame: bytes) -> bytes:
    """One frame with its u32 length prefix (the segment/relay framing)."""
    return _LENGTH.pack(len(frame)) + frame


def write_frame(fh, frame: bytes) -> None:
    """Append one length-prefixed frame to an open file."""
    fh.write(frame_record(frame))


def frame_lsn(frame: bytes) -> str | None:
    """The LSN a COPY frame carries ('w' walStart, 'k' walEnd), or None
    for any other or truncated frame."""
    tag = frame[:1]
    if (tag == b"w" and len(frame) >= XLOG_HEADER) or (
        tag == b"k" and len(frame) >= KEEPALIVE_SIZE
    ):
        return long_to_lsn(struct.unpack_from(">Q", frame, 1)[0])
    return None


def block_open_after(frame: bytes, was_open: bool) -> bool:
    """Whether an atomic pgoutput block is open after ``frame``, given
    whether one was open before it.

    The blocks are a protocol-2 streamed segment, Stream Start ('S' +
    xid + first-segment flag) … Stream Stop ('E'), and a two-phase
    frame, Begin Prepare ('b' + three 8-byte words + xid + gid) …
    Prepare ('P' + flags + three 8-byte words + xid + gid). Decode keeps
    the block state per partition (``sources/pgoutput.py``), so a reader
    never ends a micro-batch inside a block and the writer never seals
    a segment inside one: a change cut off from its 'S' would be read as
    non-streamed (its spliced xid taken for the relation oid), and one
    cut off from its 'b' would pass the two-phase gate unstamped. The
    exact payload shapes keep other formats' payloads (JSON, text,
    protobuf) out.
    """
    if frame[:1] != b"w":
        return was_open
    # no slice of the payload: the relay calls this for every frame
    size, tag = len(frame) - XLOG_HEADER, frame[XLOG_HEADER:XLOG_HEADER + 1]
    if tag == b"S" and size == 6:
        return True
    if tag == b"E" and size == 1:
        return False
    # Begin Prepare / Prepare: the gid is the one NUL-terminated string,
    # right after the fixed header
    gid_at = {b"b": 29, b"P": 30}.get(tag)
    if (
        gid_at is None
        or size <= gid_at
        or frame.find(b"\x00", XLOG_HEADER + gid_at) != len(frame) - 1
    ):
        return was_open
    return tag == b"b"


# ------------------------------------------------------ status frames
def standby_status_frame(
    lsn: str, ping: bool = False, now_us: int | None = None
) -> bytes:
    """Build the 34-byte Standby Status Update ('r') COPY frame.

    Mirrors the reference byte-for-byte (``:254-300``): the SAME
    written/flushed/applied position — last received LSN + 1 with the
    32-bit carry (``model.ack_lsn``) — an i64 µs-since-2000 timestamp,
    and the reply-requested flag.
    """
    pos = lsn_to_long(ack_lsn(lsn))
    ts = (now_us if now_us is not None else int(time.time() * 1e6)) - (
        PG_EPOCH_OFFSET_US
    )
    return (
        b"r"
        + struct.pack(">QQQ", pos, pos, pos)
        + struct.pack(">q", ts)
        + (b"\x01" if ping else b"\x00")
    )


def parse_standby_status(frame: bytes) -> dict:
    """'r' frame → {written, flushed, applied (longs), ts_us, ping}."""
    if frame[:1] != b"r" or len(frame) != 34:
        raise ValueError("not a Standby Status Update frame")
    w, f, a = struct.unpack_from(">QQQ", frame, 1)
    (ts,) = struct.unpack_from(">q", frame, 25)
    return {
        "written": w,
        "flushed": f,
        "applied": a,
        "ts_us": ts + PG_EPOCH_OFFSET_US,
        "ping": frame[33] == 1,
    }


class WalTransport(ABC):
    """Raw COPY-frame source + Standby-Status sink (the walsender seam)."""

    @abstractmethod
    def poll(self, max_frames: int | None = None) -> list[bytes]:
        """Drain currently-available complete frames (non-blocking)."""

    @abstractmethod
    def send_standby_status(self, lsn: str, ping: bool = False) -> None:
        """Acknowledge up to ``lsn`` (+1/carry applied internally)."""

    def close(self) -> None:  # pragma: no cover - default no-op
        pass


class FrameLogTailTransport(WalTransport):
    """Tail an append-only directory of length-prefixed frame segments.

    Segments are files sorted by name (the WAL-segment-name contract);
    the cursor is (segment name, byte offset) — resumable via
    :meth:`position` / the ``position`` constructor arg, which is what
    the stream reader checkpoints. A segment is "done" only once a
    LEXICOGRAPHICALLY LATER segment exists AND the current one has no
    unread complete frame; the active (last) segment is re-polled for
    growth, so appends become visible without any file rotation.
    """

    def __init__(self, path: str, position: dict | None = None):
        self.path = path
        pos = position or {}
        self._seg: str = pos.get("seg", "")
        self._pos: int = int(pos.get("pos", 0))

    # -- cursor ----------------------------------------------------------
    def position(self) -> dict:
        return {"seg": self._seg, "pos": self._pos}

    # -- WalTransport ----------------------------------------------------
    def poll(self, max_frames: int | None = None) -> list[bytes]:
        out: list[bytes] = []
        segs = list_segments(self.path)
        # start at the checkpointed segment (or the first one)
        idx = 0
        if self._seg:
            while idx < len(segs) and segs[idx] < self._seg:
                idx += 1
        while idx < len(segs):
            name = segs[idx]
            if name != self._seg:
                self._seg, self._pos = name, 0
            # incremental read from the cursor: a tailing reader must
            # not re-read a growing segment from byte 0 on every poll
            # (O(segment²) over the segment's life at 100k frames)
            with open(os.path.join(self.path, name), "rb") as f:
                f.seek(self._pos)
                buf = f.read()
            want = None if max_frames is None else max_frames - len(out)
            frames, consumed = split_frames(buf, 0, want)
            self._pos += consumed
            out.extend(frames)
            if max_frames is not None and len(out) >= max_frames:
                break
            if idx + 1 >= len(segs):
                break  # active (last) segment — keep tailing it for growth
            # A later segment exists, so this one is sealed: the writer
            # rotates forward only, never back. Any bytes left past the
            # last complete frame are a torn tail from a crashed writer —
            # skip past them instead of waiting forever for a completion
            # that cannot come (review r3 advice: a torn non-last tail
            # must not wedge segment advance).
            idx += 1
        return out

    def send_standby_status(self, lsn: str, ping: bool = False) -> None:
        os.makedirs(self.path, exist_ok=True)
        with open(os.path.join(self.path, STATUS_FILE), "ab") as f:
            write_frame(f, standby_status_frame(lsn, ping))

    # -- test/ops audit --------------------------------------------------
    def sent_statuses(self) -> list[dict]:
        return read_statuses_since(self.path, 0)[0]


class SocketFrameTransport(WalTransport):
    """The same frame contract over a live TCP socket.

    Non-blocking :meth:`poll` (``select`` with zero timeout) drains
    whatever complete frames the kernel has buffered; status updates
    write back on the same socket, length-prefixed. The PG-specific
    handshake (startup packet, auth, ``START_REPLICATION``) is the one
    missing layer for a direct walsender connection — it happens before
    the frame loop and changes nothing below it.
    """

    def __init__(self, host: str, port: int, connect_timeout: float = 10.0):
        import socket

        self._sock = socket.create_connection((host, port), connect_timeout)
        self._sock.setblocking(False)
        self._buf = b""

    def poll(self, max_frames: int | None = None) -> list[bytes]:
        import select

        while True:
            r, _, _ = select.select([self._sock], [], [], 0)
            if not r:
                break
            try:
                chunk = self._sock.recv(1 << 16)
            except BlockingIOError:  # pragma: no cover - raced readiness
                break
            if not chunk:
                break  # peer closed; buffered frames still drain below
            self._buf += chunk
        frames, pos = split_frames(self._buf, 0, max_frames)
        self._buf = self._buf[pos:]
        return frames

    def send_standby_status(self, lsn: str, ping: bool = False) -> None:
        frame = standby_status_frame(lsn, ping)
        self._sock.setblocking(True)
        try:
            self._sock.sendall(frame_record(frame))
        finally:
            self._sock.setblocking(False)

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:  # pragma: no cover
            pass


class WalsenderTransport(WalTransport):
    """A real PostgreSQL walsender client over the public v3 wire
    protocol — the reference's actual product core
    (``logical-replication-service.ts:70-87`` connect with
    ``replication: 'database'``, ``:126-185`` ``START_REPLICATION
    SLOT … LOGICAL`` + copyData loop), reimplemented from the protocol
    spec (postgresql.org/docs/current/protocol-replication.html):

    * optional TLS via libpq's SSLRequest dance (``sslmode=`` disable/
      prefer/require/verify-ca/verify-full, stdlib ``ssl``; the verify
      modes build a CERT_REQUIRED context from ``sslrootcert`` or the
      system trust store, verify-full additionally checking the
      hostname — libpq's table at
      postgresql.org/docs/current/libpq-ssl.html);
    * AuthenticationOk / cleartext / MD5 / SCRAM-SHA-256 password
      responses (``sources/scram.py``, the PG ≥ 14 default), upgrading
      to SCRAM-SHA-256-PLUS with RFC 5929 tls-server-end-point channel
      binding whenever TLS is up and the server offers it (an HBA line
      can REQUIRE the -PLUS mechanism); genuinely unknown SASL
      mechanisms are refused loudly;
    * ``START_REPLICATION SLOT <slot> LOGICAL <lsn> (<options>)`` via
      simple Query, expecting CopyBothResponse;
    * :meth:`poll` drains CopyData ('d') messages — each carrying one
      'w'/'k' COPY frame for ``wire.demux_copy_stream`` — and raises on
      ErrorResponse ('E');
    * :meth:`send_standby_status` wraps the 'r' frame in CopyData.

    Tests drive this against an in-process fake server implementing the
    same public protocol (tests/test_transport.py: handshake, auth,
    CopyBoth and the status-update readback over a real socket) and
    against a real PostgreSQL (tests/test_live_pg.py,
    ``scripts/livepg_run.sh``).
    """

    def __init__(
        self,
        host: str,
        port: int,
        user: str,
        database: str,
        password: str | None = None,
        connect_timeout: float = 10.0,
        sslmode: str = "disable",
        ssl_context=None,
        sslrootcert: str | None = None,
    ):
        import socket

        self._sock = socket.create_connection((host, port), connect_timeout)
        self._buf = b""
        self._frames: list[bytes] = []
        self._copy_both = False
        self._copy_ended = False
        self.parameters: dict[str, str] = {}
        self.ssl_in_use = False
        if sslmode not in (
            "disable", "prefer", "require", "verify-ca", "verify-full"
        ):
            raise ValueError(
                f"sslmode {sslmode!r}: expected disable|prefer|require|"
                "verify-ca|verify-full"
            )
        if sslmode != "disable":
            self._negotiate_ssl(host, sslmode, ssl_context, sslrootcert)
        self._handshake(user, database, password)

    def _negotiate_ssl(
        self, host: str, sslmode: str, ssl_context, sslrootcert
    ) -> None:
        """libpq's SSLRequest dance (protocol §55.2.10): magic 80877103,
        single-byte reply — 'S' proceed with TLS, 'N' server declines.
        ``sslmode='require'`` mirrors libpq: encryption mandatory, no
        certificate verification. ``verify-ca`` builds a CERT_REQUIRED
        context from ``sslrootcert`` (or the system trust store);
        ``verify-full`` additionally checks the hostname against the
        certificate — the safe mode reachable without a hand-built
        ``ssl_context`` (ADVICE r4 low)."""
        import ssl as _ssl

        self._sock.sendall(struct.pack(">II", 8, 80877103))
        resp = self._sock.recv(1)
        if resp == b"S":
            if ssl_context is None:
                if sslmode in ("verify-ca", "verify-full"):
                    ssl_context = _ssl.create_default_context(
                        cafile=sslrootcert
                    )
                    # create_default_context is verify-full shaped;
                    # verify-ca relaxes only the hostname check
                    ssl_context.check_hostname = sslmode == "verify-full"
                else:
                    ssl_context = _ssl.SSLContext(_ssl.PROTOCOL_TLS_CLIENT)
                    ssl_context.check_hostname = False
                    ssl_context.verify_mode = _ssl.CERT_NONE
            try:
                self._sock = ssl_context.wrap_socket(
                    self._sock, server_hostname=host
                )
            except _ssl.SSLCertVerificationError as e:
                raise ConnectionError(
                    f"walsender: server certificate rejected "
                    f"(sslmode={sslmode}): {e}"
                ) from e
            self.ssl_in_use = True
        elif resp == b"N":
            if sslmode in ("require", "verify-ca", "verify-full"):
                raise ConnectionError(
                    f"walsender: server refused SSL but sslmode={sslmode}"
                )
            # prefer: fall back to plaintext on the same connection
        else:
            raise ConnectionError(
                f"walsender: unexpected SSLRequest reply {resp!r}"
            )

    # ---------------------------------------------------------- protocol
    def _send_startup(self, user: str, database: str) -> None:
        body = struct.pack(">I", 196608)  # protocol 3.0
        for k, v in (
            ("user", user),
            ("database", database),
            ("replication", "database"),
            ("application_name", "pg_logical_replication_spark"),
        ):
            body += k.encode() + b"\x00" + v.encode() + b"\x00"
        body += b"\x00"
        self._sock.sendall(struct.pack(">I", len(body) + 4) + body)

    def _send_msg(self, tag: bytes, body: bytes) -> None:
        self._sock.sendall(tag + struct.pack(">I", len(body) + 4) + body)

    def _recv_msg(self) -> tuple[bytes, bytes]:
        while len(self._buf) < 5:
            chunk = self._sock.recv(1 << 16)
            if not chunk:
                raise ConnectionError("walsender: connection closed")
            self._buf += chunk
        tag = self._buf[:1]
        (ln,) = struct.unpack_from(">I", self._buf, 1)
        while len(self._buf) < 1 + ln:
            chunk = self._sock.recv(1 << 16)
            if not chunk:
                raise ConnectionError("walsender: connection closed")
            self._buf += chunk
        body = self._buf[5 : 1 + ln]
        self._buf = self._buf[1 + ln :]
        return tag, body

    @staticmethod
    def _error_fields(body: bytes) -> dict:
        out = {}
        pos = 0
        while pos < len(body) and body[pos] != 0:
            code = chr(body[pos])
            end = body.index(b"\x00", pos + 1)
            out[code] = body[pos + 1 : end].decode("utf-8", "replace")
            pos = end + 1
        return out

    def _handshake(self, user: str, database: str, password: str | None):
        import hashlib

        self._send_startup(user, database)
        while True:
            tag, body = self._recv_msg()
            if tag == b"R":
                (code,) = struct.unpack_from(">I", body, 0)
                if code == 0:
                    continue  # AuthenticationOk
                if code == 3:  # cleartext
                    if password is None:
                        raise ConnectionError("walsender: password required")
                    self._send_msg(b"p", password.encode() + b"\x00")
                elif code == 5:  # md5: md5(md5(password+user)+salt)
                    if password is None:
                        raise ConnectionError("walsender: password required")
                    salt = body[4:8]
                    inner = hashlib.md5(
                        password.encode() + user.encode()
                    ).hexdigest()
                    outer = hashlib.md5(inner.encode() + salt).hexdigest()
                    self._send_msg(b"p", b"md5" + outer.encode() + b"\x00")
                elif code == 10:  # AuthenticationSASL: mechanism offer
                    from pg_logical_replication_spark.sources.scram import (
                        ScramClient,
                        cert_cb_data,
                    )

                    mechs = [
                        m.decode() for m in body[4:].split(b"\x00") if m
                    ]
                    if password is None and (
                        "SCRAM-SHA-256" in mechs
                        or "SCRAM-SHA-256-PLUS" in mechs
                    ):
                        raise ConnectionError("walsender: password required")
                    if self.ssl_in_use and "SCRAM-SHA-256-PLUS" in mechs:
                        # prefer channel binding whenever possible —
                        # libpq's rule, and the only way through an HBA
                        # line that REQUIRES the -PLUS mechanism. The
                        # binding data is the RFC 5929 hash of the
                        # exact certificate this TLS session presented.
                        der = self._sock.getpeercert(binary_form=True)
                        self._scram = ScramClient(
                            password, channel_binding=cert_cb_data(der)
                        )
                        mech = b"SCRAM-SHA-256-PLUS"
                    elif "SCRAM-SHA-256" in mechs:
                        # gs2 'y' flag on TLS (we support CB, server
                        # didn't offer it) lets a genuine server detect
                        # a stripped -PLUS offer; 'n' on plaintext
                        self._scram = ScramClient(
                            password, tls_without_plus=self.ssl_in_use
                        )
                        mech = b"SCRAM-SHA-256"
                    else:
                        # refuse loudly rather than guess: unknown
                        # mechanisms (or -PLUS-only without TLS) are
                        # out of the supported profile
                        raise NotImplementedError(
                            f"walsender: SASL mechanisms {mechs} "
                            "unsupported (SCRAM-SHA-256[-PLUS] only"
                            + (
                                "; -PLUS requires sslmode != disable"
                                if "SCRAM-SHA-256-PLUS" in mechs
                                else ""
                            )
                            + ")"
                        )
                    first = self._scram.client_first()
                    self._send_msg(
                        b"p",
                        mech
                        + b"\x00"
                        + struct.pack(">i", len(first))
                        + first,
                    )
                elif code == 11:  # AuthenticationSASLContinue
                    if not hasattr(self, "_scram"):
                        raise ConnectionError(
                            "walsender: SASLContinue without a SASL offer"
                        )
                    self._send_msg(b"p", self._scram.client_final(body[4:]))
                elif code == 12:  # AuthenticationSASLFinal: mutual auth
                    if not hasattr(self, "_scram"):
                        raise ConnectionError(
                            "walsender: SASLFinal without a SASL exchange"
                        )
                    self._scram.verify_server_final(body[4:])
                else:
                    raise NotImplementedError(
                        f"walsender: auth method {code} unsupported "
                        "(trust/cleartext/md5/scram-sha-256 profile)"
                    )
            elif tag == b"S":  # ParameterStatus: name\0value\0
                name, _, rest = body.partition(b"\x00")
                self.parameters[name.decode()] = rest.split(b"\x00")[0].decode()
            elif tag == b"K":  # BackendKeyData
                continue
            elif tag == b"Z":  # ReadyForQuery
                return
            elif tag == b"E":
                f = self._error_fields(body)
                raise ConnectionError(
                    f"walsender: {f.get('S', 'ERROR')} {f.get('C', '')} "
                    f"{f.get('M', '')}".strip()
                )
            else:
                continue  # NoticeResponse / NegotiateVersion etc.

    def create_replication_slot(
        self,
        slot: str,
        plugin: str = "pgoutput",
        temporary: bool = False,
        two_phase: bool = False,
    ) -> dict:
        """``CREATE_REPLICATION_SLOT <slot> [TEMPORARY] LOGICAL <plugin>
        [(TWO_PHASE)]`` on the replication connection (the
        protocol-level twin of the SQL
        ``pg_create_logical_replication_slot`` the reference's test
        client issues, ``src/test/test-common.ts:9-18``). ``two_phase``
        enables prepared-transaction decoding (PG 15+ protocol option —
        begin_prepare/prepare/commit_prepared flow the v2/2PC decoder
        consumes). Returns the result row: slot_name, consistent_point,
        snapshot_name, output_plugin.
        """
        tmp = " TEMPORARY" if temporary else ""
        tp = " (TWO_PHASE)" if two_phase else ""
        sql = f'CREATE_REPLICATION_SLOT "{slot}"{tmp} LOGICAL {plugin}{tp}'
        self._send_msg(b"Q", sql.encode() + b"\x00")
        fields: list[str] = []
        row: list[str | None] = []
        while True:
            tag, body = self._recv_msg()
            if tag == b"T":  # RowDescription: i16 nfields, per-field meta
                (nf,) = struct.unpack_from(">h", body, 0)
                pos = 2
                for _ in range(nf):
                    end = body.index(b"\x00", pos)
                    fields.append(body[pos:end].decode())
                    pos = end + 1 + 18  # name + fixed per-field trailer
            elif tag == b"D":  # DataRow: i16 ncols, (i32 len, bytes)*
                (nc,) = struct.unpack_from(">h", body, 0)
                pos = 2
                for _ in range(nc):
                    (ln,) = struct.unpack_from(">i", body, pos)
                    pos += 4
                    if ln < 0:
                        row.append(None)
                    else:
                        row.append(body[pos : pos + ln].decode())
                        pos += ln
            elif tag == b"Z":
                return dict(zip(fields, row))
            elif tag == b"E":
                f = self._error_fields(body)
                raise ConnectionError(
                    f"walsender: CREATE_REPLICATION_SLOT failed: {f.get('M', '')}"
                )

    def drop_replication_slot(self, slot: str) -> None:
        """``DROP_REPLICATION_SLOT <slot>`` (≙ test-common.ts:20-25)."""
        self._send_msg(b"Q", f'DROP_REPLICATION_SLOT "{slot}"'.encode() + b"\x00")
        while True:
            tag, body = self._recv_msg()
            if tag == b"Z":
                return
            if tag == b"E":
                f = self._error_fields(body)
                raise ConnectionError(
                    f"walsender: DROP_REPLICATION_SLOT failed: {f.get('M', '')}"
                )

    def start_replication(
        self,
        slot: str,
        start_lsn: str = "0/00000000",
        options: dict | None = None,
        plugin: str | None = None,
    ) -> None:
        """``START_REPLICATION SLOT <slot> LOGICAL <lsn> (k 'v', …)``.

        With ``plugin`` set, the option clause is serialized EXACTLY the
        way that reference plugin's ``start`` builds it
        (``sources/plugin_options.py`` — per-plugin quoting, on/off
        rendering, join separators); otherwise a generic sorted
        ``"k" 'v'`` list is emitted."""
        if plugin is not None:
            from pg_logical_replication_spark.sources.plugin_options import (
                start_replication_sql,
            )

            sql = start_replication_sql(plugin, slot, start_lsn, options)
        else:
            opts = ""
            if options:
                kv = ", ".join(
                    f"\"{k}\" '{str(v)}'" for k, v in sorted(options.items())
                )
                opts = f" ({kv})"
            sql = f'START_REPLICATION SLOT "{slot}" LOGICAL {start_lsn}{opts}'
        self._send_msg(b"Q", sql.encode() + b"\x00")
        while True:
            tag, body = self._recv_msg()
            if tag == b"W":  # CopyBothResponse — streaming begins
                self._copy_both = True
                self._copy_ended = False
                return
            if tag == b"E":
                f = self._error_fields(body)
                raise ConnectionError(
                    f"walsender: START_REPLICATION failed: {f.get('M', '')}"
                )
            # ParameterStatus / NoticeResponse may precede CopyBoth

    # ------------------------------------------------------ WalTransport
    def poll(self, max_frames: int | None = None) -> list[bytes]:
        import select

        if not self._copy_both:
            if self._copy_ended:
                return []  # clean server CopyDone — drain loops see EOF
            raise RuntimeError("walsender: call start_replication first")
        out: list[bytes] = []
        while max_frames is None or len(out) < max_frames:
            # drain buffered messages first, then check the socket
            if len(self._buf) >= 5:
                (ln,) = struct.unpack_from(">I", self._buf, 1)
                have_full = len(self._buf) >= 1 + ln
            else:
                have_full = False
            if not have_full:
                # After TLS negotiation self._sock is an SSLSocket:
                # decrypted bytes buffered INSIDE the TLS layer do not
                # make the underlying fd readable, so a message whose
                # tail sits in the SSL buffer would stall until the
                # next wire bytes (e.g. a server keepalive seconds
                # later) — check pending() before consulting select()
                # (ADVICE r4 medium).
                pending = getattr(self._sock, "pending", lambda: 0)()
                if not pending:
                    r, _, _ = select.select([self._sock], [], [], 0)
                    if not r:
                        break
                chunk = self._sock.recv(1 << 16)
                if not chunk:
                    break
                self._buf += chunk
                continue
            tag, body = self._recv_msg()
            if tag == b"d":  # CopyData: one 'w'/'k' frame
                out.append(body)
            elif tag == b"E":
                f = self._error_fields(body)
                raise ConnectionError(f"walsender: {f.get('M', 'stream error')}")
            elif tag == b"c":  # server CopyDone: the stream has ended
                self._copy_both = False
                self._copy_ended = True
                try:
                    self._send_msg(b"c", b"")  # protocol: reply CopyDone
                except OSError:  # pragma: no cover - peer already gone
                    pass
            # CommandComplete ('C') / ReadyForQuery ('Z') after CopyDone
            # must NOT re-enter CopyBoth mode — the stream stays ended
            # else: keepalive-irrelevant notices — skip
        return out

    def send_standby_status(self, lsn: str, ping: bool = False) -> None:
        self._send_msg(b"d", standby_status_frame(lsn, ping))

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:  # pragma: no cover
            pass


class FrameLogWriter:
    """Rotation- and crash-safe appender for the durable frame log.

    Owns the segment-rotation policy the readers rely on (name-ordered
    segments, only the last one ever grows): a segment seals when it
    reaches ``segment_frames`` frames OR ``rotate_bytes`` bytes,
    whichever comes first, but only outside an atomic block
    (:func:`block_open_after`) — the batch reader decodes each segment
    on its own; the next frame opens ``<idx+1>.seg``. A
    frame is NEVER dropped — an oversized frame still lands (its
    segment simply seals right after), because by the time it reaches
    the writer it has already been drained from the transport and this
    log is its only durable home (review r3 advice, high).

    Construction resumes into the EXISTING last segment (restarting at
    ``000001.seg`` would append frames behind later segments, breaking
    the name-order contract) and truncates a torn partial frame left by
    a crashed writer back to the last complete frame boundary —
    appending after torn bytes would misalign every subsequent frame
    for the length-prefixed reader (review r3 advice, medium) — and
    recomputes from that segment whether a block is open.
    """

    def __init__(
        self,
        path: str,
        segment_frames: int = 100_000,
        rotate_bytes: int = 256 * 1024 * 1024,
    ):
        os.makedirs(path, exist_ok=True)
        self.path = path
        self.segment_frames = segment_frames
        self.rotate_bytes = rotate_bytes
        self._idx, self._count, self._bytes = 1, 0, 0
        self._in_block = False
        segs = list_segments(path)
        if segs:
            name = segs[-1]
            full = os.path.join(path, name)
            with open(full, "rb") as f:
                buf = f.read()
            frames, pos = split_frames(buf, 0, None)
            if pos < len(buf):
                with open(full, "r+b") as f:
                    f.truncate(pos)  # torn tail from a crashed writer
            self._idx = int(name.split(".")[0])
            if name == self.segment_name:
                self._count, self._bytes = len(frames), pos
                for frame in frames:
                    self._in_block = block_open_after(frame, self._in_block)
            else:
                # Foreign-named segment (e.g. a bootstrap pre-segment
                # like 000000.00001.bootstrap.seg): NEVER append to it
                # and never open its bare index — a fresh 000000.seg
                # would sort BEFORE the bootstrap files and the reader
                # would replay live frames ahead of the snapshot. Open
                # the next canonical segment instead.
                self._idx += 1

    @property
    def segment_name(self) -> str:
        return f"{self._idx:06d}.seg"

    def append(self, frames: list[bytes]) -> int:
        """Write every frame, rotating at segment boundaries. Returns
        ``len(frames)`` — the all-or-nothing durability contract."""
        if not frames:
            return 0
        f = open(os.path.join(self.path, self.segment_name), "ab")
        try:
            for frame in frames:
                if (
                    self._count > 0
                    and not self._in_block
                    and (
                        self._count >= self.segment_frames
                        or self._bytes >= self.rotate_bytes
                    )
                ):
                    # seal BEFORE opening the successor: the close makes
                    # every buffered byte visible before readers can see
                    # a later segment exists (the sealed-segment contract
                    # the tailer's torn-tail skip depends on)
                    f.close()
                    self._idx += 1
                    self._count = 0
                    self._bytes = 0
                    f = open(
                        os.path.join(self.path, self.segment_name), "ab"
                    )
                write_frame(f, frame)
                self._count += 1
                self._bytes += 4 + len(frame)
                self._in_block = block_open_after(frame, self._in_block)
        finally:
            f.close()
        return len(frames)


def read_statuses_since(
    log_path: str, offset: int
) -> tuple[list[dict], int]:
    """Incremental read of ``status.log`` from a byte offset → (new
    statuses, new offset). The relay's ack loop uses this instead of
    re-parsing the whole file every interval — O(new acks), not
    O(all acks ever), which matters for a relay running for weeks."""
    p = os.path.join(log_path, STATUS_FILE)
    try:
        with open(p, "rb") as f:
            f.seek(offset)
            buf = f.read()
    except FileNotFoundError:
        return [], offset
    frames, consumed = split_frames(buf, 0, None)
    return [parse_standby_status(fr) for fr in frames], offset + consumed


#: per log directory: sealed segment → its maximum LSN (as a long),
#: keyed by (name, size, inode, mtime) so a rewritten file is re-read
_SEALED_MAX: dict[str, dict[tuple, int | None]] = {}


def _segment_max_lsn(path: str) -> int | None:
    with open(path, "rb") as f:
        frames, _pos = split_frames(f.read(), 0, None)
    lsns = [lsn_to_long(lsn) for lsn in map(frame_lsn, frames) if lsn]
    return max(lsns, default=None)


def last_logged_lsn(log_dir: str) -> str | None:
    """Newest WAL position recorded in a frame log ('w' walStart / 'k'
    walEnd maxima) — the relay's crash-restart resume point: a restarted
    relay issues START_REPLICATION from here (PG replays from the slot's
    confirmed position, which may be earlier) so already-durable frames
    are not appended twice. Returns None for an empty/missing log.

    The maximum runs over every segment (a keepalive's walEnd in an
    earlier segment can exceed later walStarts), but a sealed segment's
    maximum is remembered in process, so a call re-reads only the
    active (last) segment and segments that changed since.
    """
    names = list_segments(log_dir)
    prev = _SEALED_MAX.get(os.path.abspath(log_dir), {})
    sealed: dict[tuple, int | None] = {}
    best: int | None = None
    for i, name in enumerate(names):
        path = os.path.join(log_dir, name)
        st = os.stat(path)
        key = (name, st.st_size, st.st_ino, st.st_mtime_ns)
        top = prev[key] if key in prev else _segment_max_lsn(path)
        if i + 1 < len(names):
            sealed[key] = top
        if top is not None and (best is None or top > best):
            best = top
    _SEALED_MAX[os.path.abspath(log_dir)] = sealed
    return None if best is None else long_to_lsn(best)


def copy_out(transport: "WalsenderTransport", sql: str) -> list[bytes]:
    """``COPY ... TO STDOUT`` over the replication connection — the
    INITIAL TABLE SNAPSHOT primitive (what ``CREATE SUBSCRIPTION``'s
    table-sync worker runs; replication=database connections accept
    plain COPY on PG >= 10). Returns the raw CopyData rows (PG text
    format, one ``bytes`` per row, trailing newline stripped).

    Protocol: Query → CopyOutResponse 'H' → CopyData 'd'× → CopyDone
    'c' → CommandComplete → ReadyForQuery. The snapshot is consistent
    with the slot's ``consistent_point`` when the COPY runs inside the
    slot-creation transaction's exported snapshot — with a single
    replication connection, run the COPY immediately after
    CREATE_REPLICATION_SLOT and before START_REPLICATION, the same
    window the reference's users rely on.
    """
    transport._send_msg(b"Q", sql.encode() + b"\x00")
    rows: list[bytes] = []
    while True:
        tag, body = transport._recv_msg()
        if tag == b"d":
            rows.append(body.rstrip(b"\n"))
        elif tag == b"E":
            f = transport._error_fields(body)
            raise ConnectionError(f"walsender: COPY failed: {f.get('M', '')}")
        elif tag == b"Z":
            return rows
        # 'H' CopyOutResponse / 'c' CopyDone / 'C' CommandComplete: skip


def copy_in(
    transport: "WalsenderTransport", sql: str, rows: list[bytes]
) -> int:
    """``COPY ... FROM STDIN`` over the replication connection — the
    BULK LOAD inverse of :func:`copy_out`: ship Spark-rendered COPY
    text rows (``sources.bootstrap.to_copy_text``) back into a
    PostgreSQL table, the standard fast-ingest path (one 'd' frame per
    row, CopyDone, CommandComplete). Returns the number of rows sent.

    Protocol: Query → CopyInResponse 'G' → client streams CopyData
    'd' → client CopyDone 'c' → CommandComplete → ReadyForQuery. A
    server error mid-COPY surfaces as ConnectionError (PG discards the
    partial COPY transactionally, so a failed bulk load leaves no
    half-written rows). Rows stream without interleaved reads — for
    multi-GB loads chunk the call (one COPY per bounded batch) so an
    early server error is seen within a batch, not after the corpus."""
    transport._send_msg(b"Q", sql.encode() + b"\x00")
    err: str | None = None
    while True:
        tag, body = transport._recv_msg()
        if tag == b"G":  # CopyInResponse: server is ready for rows
            break
        if tag == b"E":
            # drain to ReadyForQuery before raising so the connection
            # stays usable, mirroring _exec-style error handling
            err = transport._error_fields(body).get("M", "")
        elif tag in (b"C", b"Z"):
            # The statement completed WITHOUT entering COPY-in mode —
            # e.g. a plain SQL string was passed. Silently continuing
            # would block forever on the next _recv_msg (ADVICE r5).
            if tag == b"Z":
                raise ConnectionError(
                    "walsender: COPY failed: "
                    + (err or f"statement {sql!r} did not start COPY-in "
                             "(no CopyInResponse)")
                )
    for r in rows:
        transport._send_msg(b"d", r + b"\n")
    transport._send_msg(b"c", b"")
    while True:
        tag, body = transport._recv_msg()
        if tag == b"E":
            f = transport._error_fields(body)
            raise ConnectionError(f"walsender: COPY failed: {f.get('M', '')}")
        if tag == b"Z":
            return len(rows)
