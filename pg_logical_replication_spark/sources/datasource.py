"""``pg_cdc`` — a Python DataSource (Spark 4 ``pyspark.sql.datasource``)
over a replication event log.

SURVEY §2 #1-3's "full-fidelity" path: the reference opens a replication
connection and demuxes the COPY stream into raw per-message buffers
(``src/logical-replication-service.ts:70-87`` connect, ``:146-174`` wire
demux); plugins then parse each buffer. This source is that same split,
Spark-native: it scans a durable event-log directory (the persisted COPY
stream — text files with one message per line, or parquet files of
``(lsn, seq?, data)`` binary messages) and emits the RAW wire schema

    (lsn string, seq long, value string, data binary)

— decoding stays in the existing ``decode(df, fmt)`` transforms, exactly
as the reference keeps parsing in the plugins, so no parser logic is
duplicated here.

* **Batch** (``spark.read.format("pg_cdc")``): one ``InputPartition`` per
  log file — a 1000-executor cluster scans 1000 files concurrently with
  no coordination beyond the driver's listing.
* **Streaming** (``spark.readStream.format("pg_cdc")``): a
  ``SimpleDataSourceStreamReader`` whose offset is the last consumed
  file name. Spark checkpoints the offset and commits it only after the
  micro-batch's sink completes — which IS the reference's acknowledge
  (``:254-300``): position advances exactly at durable-delivery, and a
  restart from the same checkpoint replays unacknowledged files
  (``acknowledge.spec.ts:32-76`` replay semantics). Event-log file names
  must be append-monotonic (lexicographically increasing), the same
  contract WAL segment names satisfy.
* **Pushdown**: ``pushFilters`` accepts ``seq`` range/equality
  predicates. ``seq`` is ``(file_index << 32) | row_in_file``, so a
  pushed ``seq >= X`` prunes whole files before they are opened —
  source-side partition pruning, the Spark realization of the
  reference's server-side option pushdown (#12/#16, e.g.
  ``wal2json-plugin.ts:18-29`` filter-tables).

Scale: the driver holds only the sorted file listing (cheap metadata);
row data moves worker-side via Arrow. At 100 TB the log is many
segment files — batch parallelism is file-count, and the streaming
offset stays O(1) regardless of history length.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator
from typing import Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
)

from pg_logical_replication_spark.model import long_to_lsn

RAW_SCHEMA = "lsn string, seq long, value string, data binary"

_SEQ_SHIFT = 32  # seq = (file_index << 32) | row_in_file

# COPY-both frame sizes of the streaming replication protocol: 'w'
# XLogData header = tag + walStart + walEnd + sendTime; 'k' keepalive =
# tag + walEnd + sendTime + replyRequested
_XLOG_HEADER = 25
_KEEPALIVE = 18


def _frame_lsn(frame: bytes) -> str | None:
    """The LSN a COPY frame carries ('w' walStart, 'k' walEnd), or None
    for any other or truncated frame."""
    tag = frame[:1]
    if (tag == b"w" and len(frame) >= _XLOG_HEADER) or (
        tag == b"k" and len(frame) >= _KEEPALIVE
    ):
        return long_to_lsn(struct.unpack_from(">Q", frame, 1)[0])
    return None


def _segment_edge(frame: bytes) -> int:
    """+1 for a pgoutput Stream Start ('S' + xid + first-segment flag),
    -1 for a Stream Stop ('E'), 0 for any other frame. The exact payload
    sizes keep other formats' payloads (JSON, text, protobuf) out."""
    if frame[:1] != b"w":
        return 0
    size, tag = len(frame) - _XLOG_HEADER, frame[_XLOG_HEADER:_XLOG_HEADER + 1]
    if size == 6 and tag == b"S":
        return 1
    return -1 if size == 1 and tag == b"E" else 0


def _batch_end(frames: list[bytes], limit: int | None) -> int:
    """How many leading ``frames`` a micro-batch takes: the longest
    prefix of at most ``limit`` frames that ends outside every streamed
    segment ('S'…'E') — or, when the first segment alone is longer than
    ``limit``, the prefix up to its 'E'. 0 while that 'E' is unlogged.

    A batch must not end inside a segment: the next batch would decode
    the rest of it as non-streamed and read each change's spliced xid
    as its relation oid."""
    end, open_ = 0, False
    for i, frame in enumerate(frames):
        edge = _segment_edge(frame)
        if edge:
            open_ = edge > 0
        if not open_:
            if end and limit is not None and i + 1 > limit:
                break
            end = i + 1
    return end


def _list_log_files(path: str) -> list[str]:
    """Sorted event-log segment files (name order == stream order).

    ``status.log`` is the ack side-channel the frames transport appends
    (``FrameLogTailTransport.STATUS_FILE``) — data for the relay, never
    a segment, skipped here exactly like the tailer skips it."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(
        n
        for n in names
        if not n.startswith((".", "_"))
        and n != "status.log"
        and os.path.isfile(os.path.join(path, n))
    )


def _read_file(path: str, file_index: int) -> Iterator[Tuple]:
    """One log segment → raw rows ``(lsn, seq, value, data)``.

    ``.parquet`` segments carry binary messages (columns ``data`` +
    optional ``lsn``/``seq``); ``.seg`` segments are the length-prefixed
    COPY-frame logs the frames transport writes (``transport.py``) —
    batch-readable so the archived WAL relay is directly queryable
    (backfill analytics over history with full file-parallelism, the
    same demux/decode downstream as the live stream); anything else is
    a text segment, one encoded message per line (wal2json /
    test_decoding's durable form).
    """
    base = file_index << _SEQ_SHIFT
    if path.endswith(".seg"):
        from pg_logical_replication_spark.sources.transport import _read_frames

        with open(path, "rb") as f:
            buf = f.read()
        frames, _pos = _read_frames(buf, 0, None)
        for i, frame in enumerate(frames):
            yield (_frame_lsn(frame), base | i, None, frame)
    elif path.endswith(".parquet"):
        import pyarrow.parquet as pq

        tbl = pq.read_table(path)
        cols = set(tbl.column_names)
        lsns = tbl.column("lsn").to_pylist() if "lsn" in cols else None
        seqs = tbl.column("seq").to_pylist() if "seq" in cols else None
        datas = tbl.column("data").to_pylist()
        for i, data in enumerate(datas):
            seq = seqs[i] if seqs else i
            if seq is None:
                seq = i  # null per-file seq → positional fallback
            elif seq >> _SEQ_SHIFT:
                # a seq wide enough to OR into the file-index band would
                # silently break pruning — fail loudly (review r2)
                raise ValueError(
                    f"pg_cdc segment {path}: seq {seq} exceeds the "
                    f"{_SEQ_SHIFT}-bit per-file space"
                )
            yield (
                lsns[i] if lsns else None,
                base | seq,
                None,
                bytes(data) if data is not None else None,
            )
    else:
        with open(path, encoding="utf-8") as f:
            for i, line in enumerate(f):
                line = line.rstrip("\n")
                if line:
                    yield (None, base | i, line, None)


class _SeqRange:
    """Conjunction of pushed ``seq`` predicates → [lo, hi] row-seq band.

    Because ``seq``'s high bits are the file index, the band prunes whole
    files: file k is dead unless [k<<32, (k+1)<<32) intersects [lo, hi].
    """

    def __init__(self) -> None:
        self.lo = 0
        self.hi = (1 << 63) - 1

    def push(self, f: Filter) -> bool:
        if (
            f.attribute != ("seq",)
            or not isinstance(getattr(f, "value", None), int)
        ):
            return False
        if isinstance(f, GreaterThan):
            self.lo = max(self.lo, f.value + 1)
        elif isinstance(f, GreaterThanOrEqual):
            self.lo = max(self.lo, f.value)
        elif isinstance(f, LessThan):
            self.hi = min(self.hi, f.value - 1)
        elif isinstance(f, LessThanOrEqual):
            self.hi = min(self.hi, f.value)
        elif isinstance(f, EqualTo):
            self.lo = max(self.lo, f.value)
            self.hi = min(self.hi, f.value)
        else:
            return False
        return True

    def file_alive(self, file_index: int) -> bool:
        lo_f, hi_f = file_index << _SEQ_SHIFT, ((file_index + 1) << _SEQ_SHIFT) - 1
        return hi_f >= self.lo and lo_f <= self.hi

    def row_alive(self, seq: int) -> bool:
        return self.lo <= seq <= self.hi


class _LogFilePartition(InputPartition):
    def __init__(self, index: int, path: str):
        self.index = index
        self.path = path


class PgCdcBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.range = _SeqRange()

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            if not self.range.push(f):
                yield f  # unsupported → Spark evaluates it post-scan

    def partitions(self) -> list[InputPartition]:
        return [
            _LogFilePartition(i, os.path.join(self.path, name))
            for i, name in enumerate(_list_log_files(self.path))
            if self.range.file_alive(i)
        ]

    def read(self, partition: _LogFilePartition) -> Iterator[Tuple]:
        rng = self.range
        for row in _read_file(partition.path, partition.index):
            if rng.row_alive(row[1]):
                yield row


class PgCdcStreamReader(SimpleDataSourceStreamReader):
    """Offset = ``{"last_file": <name>}`` — O(1), checkpoint-friendly."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.max_files = int(options.get("maxfilespertrigger", 0)) or None

    def initialOffset(self) -> dict:
        return {"last_file": ""}

    def _pending(self, after: str) -> list[tuple[int, str]]:
        files = _list_log_files(self.path)
        return [(i, n) for i, n in enumerate(files) if n > after]

    def read(self, start: dict) -> Tuple[Iterator[Tuple], dict]:
        pending = self._pending(start.get("last_file", ""))
        if self.max_files is not None:
            pending = pending[: self.max_files]  # ≙ flow control (#21):
            # bound the micro-batch like maxFilesPerTrigger
        if not pending:
            # empty batch must be an ITERATOR: with end == start the
            # prefetch cache probes it via next() to verify emptiness
            # (datasource_internal.add_result_to_cache)
            return iter([]), start

        # materialized (not a generator): Spark's simple-stream prefetch
        # cache pickles the iterator between planning and execution
        rows = [
            row
            for i, name in pending
            for row in _read_file(os.path.join(self.path, name), i)
        ]
        return rows, {"last_file": pending[-1][1]}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        # Replay of an un-committed (un-acknowledged) span after restart.
        lo, hi = start.get("last_file", ""), end.get("last_file", "")
        for i, name in self._pending(lo):
            if name <= hi:
                yield from _read_file(os.path.join(self.path, name), i)

    def commit(self, end: dict) -> None:
        # Offset durability is Spark's checkpoint commit log — the ack
        # itself. A live-PG relay would forward Standby Status Update
        # (reference :254-300) from here.
        pass


class PgCdcFramesStreamReader(SimpleDataSourceStreamReader):
    """Live-transport mode (``option("transport", "frames")``): tail raw
    COPY frames through a :class:`~.transport.FrameLogTailTransport`
    and close the walsender feedback loop (review r2 #3).

    * INCREMENTAL offsets — ``{"seg", "pos", "frames", "lsn"}`` tracks a
      byte position inside the active segment, so an append becomes the
      next micro-batch without waiting for file rotation (the file-mode
      reader advances whole files only).
    * Keepalive ``shouldRespond`` → the reader answers immediately with
      a Standby Status Update ping at the last received LSN (reference
      ``logical-replication-service.ts:165-171`` + ``:254-300``) — the
      respond loop the file mode cannot close.
    * Batches end outside protocol-2 streamed segments (``_batch_end``):
      an unterminated segment waits for its 'E', and a segment longer
      than ``maxFramesPerTrigger`` is taken whole.
    * ``commit(end)`` sends the non-ping status update for the batch's
      last LSN — acknowledge exactly at durable-delivery, Spark's
      checkpoint commit being the reference's auto-ack point. Disable
      with ``option("autoack", "false")`` (manual-ack deployments).

    Rows keep RAW_SCHEMA: ``data`` carries the whole COPY frame for
    ``wire.demux_copy_stream``; ``lsn`` is pre-extracted from the frame
    header ('w' walStart / 'k' walEnd) for cheap watermarking.
    """

    def __init__(self, options: dict):
        self.path = options["path"]
        self.max_frames = int(options.get("maxframespertrigger", 0)) or None
        self.auto_ack = options.get("autoack", "true").lower() != "false"

    def _transport(self, position: dict):
        from pg_logical_replication_spark.sources.transport import (
            FrameLogTailTransport,
        )

        return FrameLogTailTransport(self.path, position=position)

    def initialOffset(self) -> dict:
        return {"seg": "", "pos": 0, "frames": 0, "lsn": None}

    def read(self, start: dict) -> Tuple[Iterator[Tuple], dict]:
        t = self._transport(start)
        frames = t.poll(self.max_frames)
        end = _batch_end(frames, self.max_frames)
        while frames and not end:
            # one streamed segment longer than maxFramesPerTrigger: read
            # on to its 'E' rather than return an empty batch
            more = t.poll(self.max_frames)
            if not more:
                break  # unterminated segment: hold it back until its 'E'
            frames += more
            end = _batch_end(frames, self.max_frames)
        if end < len(frames):
            # re-poll exactly the kept frames so the end offset (segment
            # position and frame count) describes the trimmed span
            t = self._transport(start)
            frames = t.poll(end)
        if not frames:
            # iterator, not list: see PgCdcStreamReader.read
            return iter([]), start
        seq = int(start.get("frames", 0))
        last_lsn = start.get("lsn")
        rows = []
        for frame in frames:
            lsn = _frame_lsn(frame)
            if lsn:
                last_lsn = lsn
                if frame[:1] == b"k" and frame[_KEEPALIVE - 1]:
                    # shouldRespond: answer NOW with a ping status update
                    t.send_standby_status(lsn, ping=True)
            rows.append((lsn, seq, None, frame))
            seq += 1
        end = dict(t.position(), frames=seq, lsn=last_lsn)
        return rows, end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        # replay an unacknowledged span after restart: re-poll the frame
        # log between the two positions (possible precisely because the
        # tail transport is durable; a raw-socket transport re-subscribes
        # from the ack position instead, as PG replays from the slot)
        t = self._transport(start)
        seq = int(start.get("frames", 0))
        budget = int(end.get("frames", 0)) - seq
        for frame in t.poll(max(budget, 0)):
            yield (_frame_lsn(frame), seq, None, frame)
            seq += 1

    def commit(self, end: dict) -> None:
        # Spark calls this after the micro-batch is durably checkpointed:
        # the acknowledge point. Forward the Standby Status Update.
        if self.auto_ack and end.get("lsn"):
            self._transport(end).send_standby_status(end["lsn"], ping=False)


class PgCdcDataSource(DataSource):
    """``spark.dataSource.register(PgCdcDataSource)`` then
    ``spark.read.format("pg_cdc").option("path", dir).load()``."""

    @classmethod
    def name(cls) -> str:
        return "pg_cdc"

    def schema(self) -> str:
        return RAW_SCHEMA

    def reader(self, schema) -> PgCdcBatchReader:
        return PgCdcBatchReader(self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        if self.options.get("transport", "").lower() == "frames":
            return PgCdcFramesStreamReader(self.options)
        return PgCdcStreamReader(self.options)


def register(spark) -> None:
    # runtime conf — required for pushFilters on Python sources
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PgCdcDataSource)
