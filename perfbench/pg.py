"""A throwaway PostgreSQL 15 cluster and a minimal SQL client.

The cluster lives entirely under one directory of the checkout: a fresh
``initdb``, a TCP listener on 127.0.0.1 only, no unix socket. The
server refuses to run as root, so when the benchmark runs as root the
postmaster is started inside a user namespace (``unshare --user``),
where it sees an unprivileged uid but keeps access to the root-owned
checkout.

The client speaks the simple-query subset of the v3 wire protocol over
trust auth. It is the benchmark's own, deliberately independent of the
engine's walsender client, so the load generator and the correctness
reference never run code under test.
"""

from __future__ import annotations

import os
import shutil
import signal
import socket
import struct
import subprocess
import time


def _pg_bindir() -> str:
    """Directory holding ``initdb`` and ``postgres`` (PostgreSQL 15)."""
    for name in ("initdb", "postgres"):
        path = shutil.which(name)
        if path:
            return os.path.dirname(os.path.realpath(path))
    cfg = shutil.which("pg_config")
    if cfg:
        return subprocess.check_output([cfg, "--bindir"], text=True).strip()
    raise RuntimeError("PostgreSQL binaries (initdb, postgres) not found on PATH")


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class PgCluster:
    """``initdb`` + ``postgres`` under ``datadir``; ``stop()`` waits for exit."""

    def __init__(self, datadir: str, settings: dict[str, str] | None = None):
        self.datadir = os.path.abspath(datadir)
        self.port = _free_port()
        self.settings = settings or {}
        self.proc: subprocess.Popen | None = None
        bindir = _pg_bindir()
        self._initdb = os.path.join(bindir, "initdb")
        self._postgres = os.path.join(bindir, "postgres")
        # uid 0 cannot run the server: map ourselves to an ordinary uid
        self._wrap = (
            ["unshare", "--user", "--map-user=1000", "--map-group=1000"]
            if os.geteuid() == 0
            else []
        )

    def start(self) -> "PgCluster":
        if os.path.exists(self.datadir):
            shutil.rmtree(self.datadir)
        subprocess.run(
            self._wrap + [self._initdb, "-D", self.datadir, "-U", "postgres",
                          "--auth=trust", "-E", "UTF8", "--no-sync"],
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
        )
        conf = {
            "port": str(self.port),
            "listen_addresses": "'127.0.0.1'",
            "unix_socket_directories": "''",
            "wal_level": "logical",
            "max_replication_slots": "4",
            "max_wal_senders": "4",
            "fsync": "off",
            "synchronous_commit": "off",
            "full_page_writes": "off",
            "shared_buffers": "128MB",
            "max_wal_size": "2GB",
            **self.settings,
        }
        with open(os.path.join(self.datadir, "postgresql.conf"), "a") as f:
            for k, v in conf.items():
                f.write(f"{k} = {v}\n")
        log = open(os.path.join(self.datadir, "server.log"), "ab")
        try:
            self.proc = subprocess.Popen(
                self._wrap + [self._postgres, "-D", self.datadir],
                stdout=log, stderr=subprocess.STDOUT,
            )
        finally:
            log.close()
        deadline = time.monotonic() + 30
        while True:
            try:
                PgConn(self.port).close()
                return self
            except (OSError, PgError):  # refused, or "starting up"
                if self.proc.poll() is not None or time.monotonic() > deadline:
                    raise RuntimeError(
                        f"postgres did not start (see {self.datadir}/server.log)"
                    )
                time.sleep(0.05)

    def connect(self) -> "PgConn":
        return PgConn(self.port)

    def stop(self) -> None:
        if self.proc is None:
            return
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)  # fast shutdown
            try:
                self.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc = None


class PgError(RuntimeError):
    pass


class PgConn:
    """Simple-query client: ``query(sql)`` → (rows, command tags)."""

    def __init__(self, port: int, user: str = "postgres", database: str = "postgres"):
        self._sock = socket.create_connection(("127.0.0.1", port), timeout=60)
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._buf = b""
        body = struct.pack(">I", 196608)
        for k, v in (("user", user), ("database", database)):
            body += k.encode() + b"\x00" + v.encode() + b"\x00"
        body += b"\x00"
        self._sock.sendall(struct.pack(">I", len(body) + 4) + body)
        while True:
            tag, body = self._recv()
            if tag == b"R" and struct.unpack_from(">I", body)[0] != 0:
                raise PgError("PgConn supports trust authentication only")
            if tag == b"E":
                raise PgError(_error_message(body))
            if tag == b"Z":
                return

    def _recv(self) -> tuple[bytes, bytes]:
        while len(self._buf) < 5 or len(self._buf) < 1 + struct.unpack_from(
            ">I", self._buf, 1
        )[0]:
            chunk = self._sock.recv(1 << 16)
            if not chunk:
                raise PgError("server closed the connection")
            self._buf += chunk
        (ln,) = struct.unpack_from(">I", self._buf, 1)
        tag, body = self._buf[:1], self._buf[5 : 1 + ln]
        self._buf = self._buf[1 + ln :]
        return tag, body

    def query(self, sql: str) -> tuple[list[list[str | None]], list[str]]:
        """Run one simple Query (may hold several statements). Raises
        :class:`PgError` on any ErrorResponse, after draining to
        ReadyForQuery so the connection stays usable."""
        self._sock.sendall(b"Q" + struct.pack(">I", len(sql) + 5) + sql.encode() + b"\x00")
        rows: list[list[str | None]] = []
        tags: list[str] = []
        err = None
        while True:
            tag, body = self._recv()
            if tag == b"D":
                (n,) = struct.unpack_from(">h", body)
                pos, vals = 2, []
                for _ in range(n):
                    (ln,) = struct.unpack_from(">i", body, pos)
                    pos += 4
                    if ln < 0:
                        vals.append(None)
                    else:
                        vals.append(body[pos : pos + ln].decode())
                        pos += ln
                rows.append(vals)
            elif tag == b"C":
                tags.append(body.rstrip(b"\x00").decode())
            elif tag == b"E":
                err = _error_message(body)
            elif tag == b"Z":
                if err is not None:
                    raise PgError(f"{err} (in {sql[:120]!r})")
                return rows, tags

    def scalar(self, sql: str) -> str | None:
        rows, _ = self.query(sql)
        return rows[0][0]

    def close(self) -> None:
        try:
            self._sock.sendall(b"X" + struct.pack(">I", 4))
        except OSError:
            pass
        self._sock.close()


def _error_message(body: bytes) -> str:
    fields = {}
    for part in body.split(b"\x00"):
        if part:
            fields[chr(part[0])] = part[1:].decode("utf-8", "replace")
    return f"{fields.get('S', 'ERROR')}: {fields.get('M', '')}"

