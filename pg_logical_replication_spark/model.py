"""Normalized ChangeEvent model + LSN arithmetic.

The reference library emits a per-plugin tagged union of messages
(``src/output-plugins/pgoutput/pgoutput.types.ts:8-18`` in the reference)
with an LSN per message (``src/logical-replication-service.ts:151-163``).
We normalize all four plugin formats into ONE flat Spark schema — the
Debezium-style flattening — so every downstream operator (apply-changes,
joins, windows, streaming) is format-agnostic.

LSNs are ``XXXXXXXX/XXXXXXXX`` hex pairs; ordering needs a numeric form, so
we carry both the display string and ``lsn_long = (upper << 32) | lower``.
The reference's acknowledge arithmetic (+1 with 32-bit carry,
``src/logical-replication-service.ts:258-272``) is kept as a tested pure
function because checkpoint positions in PG are "flush = last byte + 1".
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# One row per decoded message. `op` is the discriminator (the reference's
# message `tag`). Raw images are string maps — column-name → text value —
# because logical decoding delivers text-format values; typed per-table
# views are derived with `typed_view` below.
CHANGE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType(), False),
        T.StructField("lsn", T.StringType(), True),
        T.StructField("lsn_long", T.LongType(), True),
        T.StructField("xid", T.LongType(), True),
        T.StructField("commit_ts", T.TimestampType(), True),
        T.StructField("schema", T.StringType(), True),
        T.StructField("table", T.StringType(), True),
        T.StructField("key", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("before", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("after", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# ops, mirroring the reference's union (pgoutput.types.ts:8-18)
OPS = (
    "begin",
    "commit",
    "insert",
    "update",
    "delete",
    "truncate",
    "relation",
    "type",
    "origin",
    "message",
)

# extension ops beyond the reference's v1 union (public protocol spec):
# protocol-v2 streamed in-progress transactions, two-phase commit, and
# test_decoding's stream-changes / include-sequences output lines. All
# share CHANGE_EVENT_SCHEMA; extras ride in `meta` (subxid, gid,
# stream_top_xid, first_segment, sequence state).
EXTENSION_OPS = (
    "stream_start",
    "stream_stop",
    "stream_commit",
    "stream_abort",
    "stream_change",
    "stream_prepare",
    "begin_prepare",
    "prepare",
    "commit_prepared",
    "rollback_prepared",
    "sequence",
)


# ---------------------------------------------------------------- pure fns
def lsn_to_long(lsn: str) -> int:
    """'XXXXXXXX/XXXXXXXX' → (upper<<32)|lower.

    Mirrors the ordering semantics of the reference's hex-pair LSNs
    (binary-reader.ts:75-86 formats them; we invert).
    """
    upper, lower = lsn.split("/")
    return (int(upper, 16) << 32) | int(lower, 16)


def long_to_lsn(v: int) -> str:
    """Inverse of :func:`lsn_to_long`, zero-padded like the reference."""
    if v < 0:
        raise ValueError(f"negative LSN {v}")
    return f"{(v >> 32) & 0xFFFFFFFF:08X}/{v & 0xFFFFFFFF:08X}"


def ack_lsn(lsn: str) -> str:
    """Position to acknowledge: last-received LSN + 1, with 32-bit carry.

    Matches the reference's Standby Status Update arithmetic
    (logical-replication-service.ts:258-272): PG expects "flushed" to be
    the byte AFTER the last processed position; lower word 0xFFFFFFFF
    carries into the upper word.
    """
    return long_to_lsn(lsn_to_long(lsn) + 1)


# ------------------------------------------------------------ column exprs
def lsn_long_expr(lsn_col: str | Column = "lsn") -> Column:
    """JVM-side 'XXXXXXXX/XXXXXXXX' → long (no UDF; stays in codegen).

    ``conv(hex, 16, 10)`` returns a decimal string; LSN words are u32 so
    the combined value fits a signed 64-bit long for any realistic WAL
    position (< 2^63 bytes of WAL).
    """
    c = F.col(lsn_col) if isinstance(lsn_col, str) else lsn_col
    upper = F.conv(F.split(c, "/").getItem(0), 16, 10).cast("long")
    lower = F.conv(F.split(c, "/").getItem(1), 16, 10).cast("long")
    return (F.shiftleft(upper, 32) + lower).alias("lsn_long")


def lsn_str_expr(lsn_long_col: str | Column = "lsn_long") -> Column:
    """long → 'XXXXXXXX/XXXXXFFF' hex-pair string, JVM-side."""
    c = F.col(lsn_long_col) if isinstance(lsn_long_col, str) else lsn_long_col
    upper = F.lpad(F.hex(F.shiftrightunsigned(c, 32)), 8, "0")
    lower = F.lpad(F.hex(c.bitwiseAND(F.lit(0xFFFFFFFF))), 8, "0")
    # concat_ws skips NULL args (a NULL position would yield '' — a
    # truthy non-LSN); propagate NULL instead (review r2)
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat_ws("/", upper, lower)
    )


# Map a PostgreSQL type name (as carried in wal2json columntypes /
# test_decoding brackets) to the Spark type used by `typed_view`.
_PG_TO_SPARK: dict[str, str] = {
    "smallint": "smallint",
    "integer": "int",
    "int": "int",
    "int4": "int",
    "bigint": "bigint",
    "int8": "bigint",
    "real": "float",
    "float4": "float",
    "double precision": "double",
    "float8": "double",
    "numeric": "decimal(38,18)",
    "boolean": "boolean",
    "bool": "boolean",
    "text": "string",
    "json": "string",
    "jsonb": "string",
    "uuid": "string",
    "bytea": "binary",
    "date": "date",
    "timestamp without time zone": "timestamp_ntz",
    "timestamp with time zone": "timestamp",
    "timestamptz": "timestamp",
}


def pg_type_to_spark(pg_type: str) -> str:
    """PG type name → Spark SQL type string ('character varying(n)' → string)."""
    t = pg_type.strip().lower()
    if t.endswith("[]"):
        # array types stay as their text literal — checked FIRST so
        # 'numeric[]' doesn't fall into the decimal cast (which would
        # NULL every array literal; review r2)
        return "string"
    if t.startswith("character varying") or t.startswith("varchar") or t.startswith("character"):
        return "string"
    if t.startswith("numeric") or t.startswith("decimal"):
        return "decimal(38,18)"
    return _PG_TO_SPARK.get(t, "string")


def typed_view(events, columns: dict[str, str], image: str = "after"):
    """Project a ChangeEvent DF's string-map image into typed columns.

    ``columns`` maps column name → PG type name. Stays entirely JVM-side:
    map extraction + per-type parse expression (functions.pg_value — the
    OID-registry equivalent), no UDF.
    """
    # runtime import: functions depends on model for the type-name map
    from pg_logical_replication_spark.functions import pg_value

    cols = [
        pg_value(F.col(image).getItem(name), pg_t).alias(name)
        for name, pg_t in columns.items()
    ]
    return events.select("op", "lsn_long", "schema", "table", *cols)
