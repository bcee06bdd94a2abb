"""Decoders for PostgreSQL logical-decoding output formats.

Each decoder is a DataFrame transform: raw encoded messages in → the
normalized ``ChangeEvent`` schema out (``model.CHANGE_EVENT_SCHEMA``).
This mirrors the reference's pluggable ``AbstractPlugin`` strategy
(reference ``src/output-plugins/abstract.plugin.ts:3-9``) — but as pure
transforms over DataFrames instead of per-message ``parse`` callbacks, so
the same code runs under batch and Structured Streaming.

Formats:

* ``wal2json``      — JSON changesets; decoded 100% with Spark built-ins
  (``from_json`` + ``explode`` + ``map_from_arrays``); no Python UDF.
* ``test_decoding`` — text lines; decoded with regex built-ins
  (``regexp_extract_all`` + ``transform``), no Python UDF.
* ``pgoutput``      — PostgreSQL's binary logical replication protocol;
  pure-Python ``struct`` parser applied via Arrow-batched ``mapInPandas``.
* ``decoderbufs``   — Debezium protobuf; pure-Python wire-format parser
* ``debezium``      — Debezium JSON envelope (interop beyond the
                      reference's four plugins; decode + to_debezium)
  (no external deps) via ``mapInPandas``.
"""

from pg_logical_replication_spark.sources.registry import decode  # noqa: F401
from pg_logical_replication_spark.sources.datasource import (  # noqa: F401
    PgCdcDataSource,
    register as register_pg_cdc,
)
from pg_logical_replication_spark.sources.wal2json import decode_wal2json  # noqa: F401
from pg_logical_replication_spark.sources.test_decoding import (  # noqa: F401
    decode_test_decoding,
)
from pg_logical_replication_spark.sources.pgoutput import decode_pgoutput  # noqa: F401
from pg_logical_replication_spark.sources.debezium import (  # noqa: F401
    decode_debezium,
    to_debezium,
)
from pg_logical_replication_spark.sources.decoderbufs import (  # noqa: F401
    decode_decoderbufs,
)
from pg_logical_replication_spark.sources.wire import demux_copy_stream  # noqa: F401
from pg_logical_replication_spark.sources.transport import (  # noqa: F401
    FrameLogTailTransport,
    FrameLogWriter,
    SocketFrameTransport,
    WalsenderTransport,
    WalTransport,
    copy_in,
    copy_out,
    read_statuses_since,
)
from pg_logical_replication_spark.sources.bootstrap import (  # noqa: F401
    bootstrap_events,
    bootstrap_to_frame_log,
    parse_copy_lines,
    snapshot_dataframe,
    to_copy_text,
)
from pg_logical_replication_spark.sources.plugin_options import (  # noqa: F401
    options_clause,
    start_replication_sql,
)
