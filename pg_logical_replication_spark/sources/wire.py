"""COPY-stream wire demux — the reference's copyData listener as a plan.

The reference splits the replication COPY stream on the first byte
(``src/logical-replication-service.ts:146-174``): ``0x77`` ('w',
XLogData) carries bytes 1-8 walStart, 9-16 walEnd, 17-24 server
timestamp (µs since the PG epoch 2000-01-01) and the plugin payload
from byte 25; ``0x6b`` ('k', Primary Keepalive, ``:165-171``) carries
bytes 1-8 walEnd, 9-16 timestamp and byte 17 ``shouldRespond``; any
other tag is warned-and-skipped.

Here the demux is pure Catalyst: first-byte dispatch is a CASE over
``substring``, the u64/i64 header words decode via ``hex``→``conv``
(JVM-side, whole-stage-codegen — no Python touches the bytes), so the
filter AND the header extraction push into the scan. At 100 TB the
frame log is partition-pruned on file layout before any of this runs;
keepalives (a per-heartbeat trickle) separate from the data plane with
zero shuffle — the demux is a narrow map.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pg_logical_replication_spark.sources.transport import (
    KEEPALIVE_SIZE,
    PG_EPOCH_OFFSET_US,
    XLOG_HEADER,
)


def _u64(data: Column, pos: int) -> Column:
    """Big-endian u64 at 1-based byte offset ``pos`` — hex→conv, no UDF.

    Decoded as two's-complement signed (``conv`` to base -10) so the
    cast is total: a header word with the top bit set lands as the
    wrapped negative long instead of an ANSI cast error. PG LSNs are
    u64 on the wire but 2^63 bytes of WAL is not a reachable position;
    the wraparound is documented determinism, not a truncation trap.
    """
    return F.conv(F.hex(F.substring(data, pos, 8)), 16, -10).cast("long")


def demux_copy_stream(
    raw: DataFrame,
    data_col: str = "data",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Split raw COPY frames into typed rows (reference wire demux #3).

    Input: one binary frame per row. Output columns:

    * ``msg_type`` — 'w' | 'k' | '?' (unknown tags survive as '?' rows
      instead of being dropped, the engine's DLQ-friendly twin of the
      reference's ``console.warn`` branch);
    * ``wal_start`` / ``wal_end`` — LSN words as longs ('w' carries
      both, 'k' only walEnd);
    * ``server_ts`` — the header timestamp as a session-TZ timestamp;
    * ``should_respond`` — keepalive reply-now flag ('k' only);
    * ``payload`` — the plugin bytes ('w' only), ready for
      ``sources.registry.decode``.

    ``passthrough`` names input columns to carry alongside (e.g. the
    ``pg_cdc`` source's ``seq`` frame counter, which downstream decode
    uses as the intra-transaction tie-break).
    """
    data = F.col(data_col)
    first = F.substring(data, 1, 1)
    is_w = first == F.lit(b"w")
    is_k = first == F.lit(b"k")
    return raw.select(
        F.when(is_w, "w").when(is_k, "k").otherwise("?").alias("msg_type"),
        F.when(is_w, _u64(data, 2)).alias("wal_start"),
        F.when(is_w, _u64(data, 10)).when(is_k, _u64(data, 2)).alias("wal_end"),
        F.timestamp_micros(
            # 'w': ts at byte 18 (after walStart+walEnd); 'k': at byte 10
            F.when(is_w, _u64(data, 18) + F.lit(PG_EPOCH_OFFSET_US))
            .when(is_k, _u64(data, 10) + F.lit(PG_EPOCH_OFFSET_US))
        ).alias("server_ts"),
        # shouldRespond is the keepalive's last byte (1-based position)
        F.when(
            is_k, F.substring(data, KEEPALIVE_SIZE, 1) == F.lit(b"\x01")
        ).alias("should_respond"),
        F.when(
            is_w,
            data.substr(
                F.lit(XLOG_HEADER + 1),
                F.greatest(F.length(data) - F.lit(XLOG_HEADER), F.lit(0)),
            ),
        ).alias("payload"),
        *[F.col(c) for c in passthrough],
    )
