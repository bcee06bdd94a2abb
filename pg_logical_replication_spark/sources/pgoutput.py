"""pgoutput decoder — Spark integration over the pure-Python codec.

Decode strategy (vs. the reference's sequential per-message parse,
``src/output-plugins/pgoutput/pgoutput-parser.ts``):

1. **Relation pre-scan** — Relation ('R') / Type ('Y') messages are a
   vanishing fraction of the stream (one per table per schema-change;
   ``pgoutput-parser.ts:86-110`` caches them by OID). We filter them
   JVM-side on the first byte of the binary payload — predicate pushdown
   keeps the Python worker out of this pass — collect, and build the
   relation cache on the driver.
2. **Broadcast + parallel decode** — the cache rides the ``mapInPandas``
   closure (broadcast to every task). Each task decodes its partition's
   messages independently; per-message order inside a transaction is
   preserved by the carried ``seq``/``lsn`` columns, not by processing
   order — which is what lets this scale to 1000 executors while the
   reference is bound to one socket.

Schema evolution mid-stream is handled by versioning the cache per OID on
``seq`` (the wire order): each DML resolves the newest relation message
with ``seq <= its own seq``.
"""

from __future__ import annotations

import bisect
import numbers
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pg_logical_replication_spark.model import CHANGE_EVENT_SCHEMA, lsn_long_expr
from pg_logical_replication_spark.sources import pgoutput_format as fmt


def _collect_relations(
    raw: DataFrame, data_col: str, seq_col: str
) -> dict[int, list[tuple[int, fmt.RelationInfo]]]:
    """Pass 1: oid → [(valid_from_seq, RelationInfo)], seq-ascending.

    Collects Stream Start/Stop boundaries alongside the 'R' rows so each
    relation message parses in the mode its WIRE POSITION dictates — a
    streamed-segment 'R' carries a spliced xid the plain parse can
    swallow into the schema cstring WITHOUT raising (caching a garbage
    entry under oid=xid; ADVICE r1). S/E context is exact, no heuristic;
    segments never nest so a boolean suffices. For pre-filtered inputs
    missing their S/E rows, exact-buffer-consumption
    (``require_full_consume``) still catches most wrong-mode parses and
    triggers the opposite-mode retry; each attempt parses into a fresh
    dict so a failed attempt's partial cache mutation is discarded.
    """
    first = F.substring(F.col(data_col), 1, 1)
    rel_rows = (
        raw.filter(
            (first == F.lit(b"R")) | (first == F.lit(b"S")) | (first == F.lit(b"E"))
        )
        .select(seq_col, data_col)
        .collect()
    )
    cache: dict[int, list[tuple[int, fmt.RelationInfo]]] = {}
    in_stream = False
    for row in sorted(rel_rows, key=lambda r: r[seq_col]):
        buf = bytes(row[data_col])
        if buf[:1] == b"S":
            in_stream = True
            continue
        if buf[:1] == b"E":
            in_stream = False
            continue
        tmp: dict[int, fmt.RelationInfo] = {}
        try:
            fmt.parse_message(
                buf, tmp, streamed=in_stream, require_full_consume=True
            )
        except Exception:
            tmp = {}
            fmt.parse_message(
                buf, tmp, streamed=not in_stream, require_full_consume=True
            )
        for oid, info in tmp.items():
            cache.setdefault(oid, []).append((row[seq_col], info))
    return cache


def _registry_versions(oid, entry) -> list[tuple[int, fmt.RelationInfo]]:
    """One ``relations=`` entry → its version list: a RelationInfo
    (valid from the start) or a list/tuple of ``(valid_from_seq,
    RelationInfo)`` pairs. Any other shape raises here, before any Spark
    job runs, instead of failing inside the decode worker."""
    if isinstance(entry, fmt.RelationInfo):
        return [(-1, entry)]
    if isinstance(entry, (list, tuple)) and all(
        isinstance(v, (list, tuple))
        and len(v) == 2
        and isinstance(v[0], numbers.Integral)
        and isinstance(v[1], fmt.RelationInfo)
        for v in entry
    ):
        return [tuple(v) for v in entry]
    raise TypeError(
        f"decode_pgoutput: relations[{oid!r}] must be a RelationInfo or a "
        "list/tuple of (valid_from_seq, RelationInfo) versions, got "
        f"{type(entry).__name__}: {entry!r:.200}"
    )


class _VersionedRelations(dict):
    """dict-like view resolving an OID to its newest schema ≤ current seq.

    ``parse_message`` writes in-band Relation ('R') messages through
    ``__setitem__``; each write becomes a NEW VERSION valid from the
    current wire position, so a supplied up-front cache and mid-stream
    ``ALTER TABLE`` re-schemas compose instead of shadowing each other
    (review r2: the supplied-cache branch previously pinned the stale
    entry forever). Seq/info are kept as parallel lists per OID so the
    per-message lookup bisects without allocating."""

    def __init__(self, versions: dict[int, list[tuple[int, fmt.RelationInfo]]]):
        super().__init__()
        self._seqs = {oid: [s for s, _ in v] for oid, v in versions.items()}
        self._infos = {oid: [i for _, i in v] for oid, v in versions.items()}
        self.seq = 0

    def __setitem__(self, oid, info) -> None:
        # wire order is ascending within a partition (input contract),
        # so appending keeps the bisect array sorted
        self._seqs.setdefault(oid, []).append(self.seq)
        self._infos.setdefault(oid, []).append(info)

    def get(self, oid: int, default=None):
        seqs = self._seqs.get(oid)
        if not seqs:
            return default
        idx = bisect.bisect_right(seqs, self.seq) - 1
        if idx < 0:
            return default
        return self._infos[oid][idx]

    def __contains__(self, oid) -> bool:
        return self.get(oid) is not None

    def __getitem__(self, oid):
        rel = self.get(oid)
        if rel is None:
            raise KeyError(oid)
        return rel


def decode_pgoutput(
    raw: DataFrame,
    data_col: str = "data",
    lsn_col: str = "lsn",
    seq_col: str = "seq",
    relations: dict[int, fmt.RelationInfo] | None = None,
    publication_tables: list[str] | None = None,
    column_lists: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Raw binary pgoutput messages → normalized ChangeEvent rows.

    Input contract: one row per XLogData payload with its wire LSN
    (``lsn_col``, the hex pair the reference extracts from bytes 1-8 of
    the COPY chunk, ``logical-replication-service.ts:151-152``) and a
    global sequence number (``seq_col``) giving wire order.

    ``publication_tables`` (["schema.table", ...]) mirrors the
    reference's publication_names option (#16,
    ``pgoutput-plugin.ts:24-34``): in PG the publication limits which
    tables the walsender decodes at all. Here the check runs inside the
    decode loop BEFORE a row is materialized into the Arrow batch —
    excluded tables cost one dict lookup per message and never leave the
    Python worker.

    ``column_lists`` ({"schema.table": [col, ...]}) mirrors PG 15
    publication column lists (`CREATE PUBLICATION … (col_a, col_b)`):
    the publisher only transmits the listed columns of the row images.
    Projection happens in the decode loop before Arrow materialization,
    so unlisted columns never leave the Python worker. Replica-identity
    ``key`` tuples are left intact, matching PG's rule that a column
    list must cover (and the wire always carries) the identity columns.

    ``relations`` optionally supplies the relation cache up front
    (oid → RelationInfo, e.g. from a schema registry / separate control
    stream). A VERSIONED registry — oid → [(valid_from_seq,
    RelationInfo), ...] (a list or a tuple), seq-ascending, exactly the
    pre-scan's own shape — is also accepted, for callers that know the stream's
    mid-stream ALTER positions (a schema registry with history, or a
    fixture that synthesized the wire itself): rows then decode under
    the newest supplied schema at or below their seq, identical to
    what the pre-scan would derive, without the extra pass. Without
    ``relations``, a pre-scan pass extracts in-band 'R' messages —
    which recomputes ``raw``'s lineage once; callers whose ``raw`` is
    an expensive derived plan should either persist it or pass the
    cache.
    """
    if relations is not None:
        versions = {
            oid: _registry_versions(oid, v) for oid, v in relations.items()
        }
    elif raw.isStreaming:
        # a streaming plan cannot run the pre-scan (it is a batch
        # action); in-band 'R' messages still register as the decode
        # loop meets them, so a stream works when each relation's R
        # precedes its rows WITHIN the micro-batch partition — true for
        # a sequential frame/segment log. Rows of relations whose R
        # arrived in an EARLIER micro-batch need the registry passed in
        # (Python worker state does not span batches); production
        # deployments supply the schema registry exactly like the
        # reference keeps its _relationCache alive across messages.
        versions = {}
    else:
        versions = _collect_relations(raw, data_col, seq_col)

    # fresh StructType — StructType.add would mutate the shared schema
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(CHANGE_EVENT_SCHEMA.fields) + [T.StructField("seq", T.LongType())]
    )

    out_cols = [f.name for f in out_schema.fields]
    # streaming decode tolerates unseen-relation DML (degrades to error
    # rows); batch decode has the pre-scan guarantee and stays strict
    lenient = raw.isStreaming

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        relations = _VersionedRelations(versions)
        pub = set(publication_tables) if publication_tables else None
        cl = (
            {tbl: set(cs) for tbl, cs in column_lists.items()}
            if column_lists
            else None
        )
        # protocol-v2 streamed-segment state: inside [S, E) every
        # R/Y/I/U/D/T/M message carries a spliced Int32 xid. State spans
        # Arrow batches (this generator is per-partition); the input
        # contract extends accordingly: within a partition, rows arrive
        # in wire order and no block ('S'..'E' here, 'b'..'P' below)
        # straddles a partition boundary. The frame log's one cutting
        # rule (sources/transport.block_open_after) keeps blocks whole:
        # FrameLogWriter never seals a segment inside one (the batch
        # reader decodes one segment per partition) and the frames
        # stream reader never ends a micro-batch inside one.
        in_stream = False
        stream_top: int | None = None  # current segment's top-level xid
        # two-phase frame state: inside [begin_prepare, prepare) every
        # DML belongs to that prepared txn. Frames are atomic wire
        # blocks (the walsender replays a prepared txn in one go), and
        # the same cutting rule keeps each within one partition;
        # the stamp lets the STREAMING gate key b..P rows by xid
        # without the batch resolver's positional attribution.
        prepared: tuple[int | None, str | None] | None = None
        for pdf in batches:
            # columnar accumulation: building 11 lists + one vectorized
            # to_datetime is ~3× faster than 100k row dicts with a
            # pd.Timestamp each (measured on the roundtrip bench)
            cols: dict[str, list[Any]] = {c: [] for c in out_cols}
            # hot loop: 11 appends/message — bind them to locals once
            (a_op, a_lsn, a_xid, a_ts, a_schema, a_table, a_key, a_before,
             a_after, a_meta, a_seq) = (
                cols["op"].append, cols["lsn"].append, cols["xid"].append,
                cols["commit_ts"].append, cols["schema"].append,
                cols["table"].append, cols["key"].append,
                cols["before"].append, cols["after"].append,
                cols["meta"].append, cols["seq"].append,
            )
            for data, lsn, seq in zip(pdf[data_col], pdf[lsn_col], pdf[seq_col]):
                relations.seq = seq
                try:
                    ev = fmt.parse_message(
                        bytes(data), relations, streamed=in_stream
                    )
                except fmt.MissingRelationError as e:
                    # unseen relation oid. In BATCH mode the pre-scan
                    # guarantees every R is registered, so this is a
                    # hard protocol error — raise. In STREAMING mode the
                    # R may have arrived in an earlier micro-batch (e.g.
                    # a checkpoint restart resuming past it): degrade to
                    # an in-band error row instead of crashing the query
                    # — the reference emits per-message 'error' events
                    # without halting the queue
                    # (logical-replication-service.ts:213-216). Callers
                    # avoid the degraded rows entirely by passing the
                    # relations= registry (like the reference's
                    # _relationCache living across messages).
                    # Only the typed error is degraded: a bare KeyError
                    # from a corrupt frame must crash loudly, not
                    # masquerade as an 'unseen relation' row with a
                    # bogus oid (ADVICE r4 low).
                    if not lenient:
                        raise
                    oid = e.oid
                    ev = {
                        "op": "error",
                        "meta": {
                            "error": (
                                f"unseen relation oid {oid}: its 'R' "
                                "message precedes this micro-batch; pass "
                                "relations= (schema registry) to decode"
                            ),
                            "msg_type": chr(bytes(data)[0]) if data else "",
                        },
                    }
                if ev["op"] == "stream_start":
                    in_stream = True
                    stream_top = ev.get("xid")
                elif ev["op"] == "stream_stop":
                    in_stream = False
                    stream_top = None
                elif ev["op"] == "begin_prepare":
                    prepared = (ev.get("xid"), (ev.get("meta") or {}).get("gid"))
                elif ev["op"] in ("prepare", "begin", "commit"):
                    prepared = None
                elif prepared is not None and not in_stream:
                    meta = dict(ev.get("meta") or {})
                    meta["prepared_xid"] = str(prepared[0])
                    if prepared[1] is not None:
                        meta["prepared_gid"] = prepared[1]
                    ev["meta"] = meta
                elif in_stream and stream_top is not None:
                    # stamp the segment's top-level xid — the per-message
                    # spliced xid may be a SUBtransaction; downstream
                    # commit gating keys on the top xid without needing
                    # positional segment attribution again
                    meta = dict(ev.get("meta") or {})
                    meta["stream_top_xid"] = str(stream_top)
                    ev["meta"] = meta
                if pub is not None:
                    if ev["op"] == "truncate":
                        # multi-table TRUNCATE: filter per relation (the
                        # publication would have restricted the set
                        # server-side); comma-joined `table` can never
                        # match a single pub entry (review r2)
                        oids = [
                            int(o)
                            for o in (ev.get("meta") or {})
                            .get("relation_oids", "")
                            .split(",")
                            if o
                        ]
                        kept = [
                            rel
                            for rel in (relations.get(o) for o in oids)
                            if rel is not None
                            and f"{rel.schema}.{rel.name}" in pub
                        ]
                        if not kept:
                            continue
                        ev["schema"] = kept[0].schema
                        ev["table"] = ",".join(k.name for k in kept)
                        meta = dict(ev.get("meta") or {})
                        meta["relation_oids"] = ",".join(
                            str(k.oid) for k in kept
                        )
                        ev["meta"] = meta
                    elif (
                        ev.get("table")
                        and f"{ev.get('schema')}.{ev['table']}" not in pub
                    ):
                        continue
                if cl is not None and ev.get("table"):
                    keep = cl.get(f"{ev.get('schema')}.{ev['table']}")
                    if keep is not None:
                        for img in ("before", "after"):
                            m = ev.get(img)
                            if m:
                                ev[img] = {
                                    k: v for k, v in m.items() if k in keep
                                }
                get = ev.get
                a_op(ev["op"])
                a_lsn(get("lsn") or lsn)
                a_xid(get("xid"))
                a_ts(get("commit_ts_us"))
                a_schema(get("schema"))
                a_table(get("table"))
                a_key(get("key"))
                a_before(get("before"))
                a_after(get("after"))
                a_meta(get("meta"))
                a_seq(seq)
            if not cols["op"]:
                continue  # fully-filtered batch: empty lists would
                # materialize as float64 columns Arrow can't map-cast
            cols["lsn_long"] = [None] * len(cols["op"])
            out = pd.DataFrame(cols, columns=out_cols)
            out["commit_ts"] = pd.to_datetime(
                pd.Series(cols["commit_ts"], dtype="object"), unit="us", errors="coerce"
            )
            yield out

    decoded = raw.mapInPandas(decode, schema=out_schema)
    return decoded.withColumn("lsn_long", lsn_long_expr("lsn"))


# Re-export: transaction framing is format-agnostic (shared with
# test_decoding); see operators/transactions.py for the interval-join
# strategy and its 100 TB scale notes.
from pg_logical_replication_spark.operators.transactions import (  # noqa: E402,F401
    assign_transactions,
)


def relations_from_frame_log(
    spark, log_dir: str
) -> dict[int, "fmt.RelationInfo"]:
    """Build the pgoutput schema registry from an archived frame log —
    the operational closer for the streaming resume case: a checkpoint
    restart that resumes PAST a relation's in-band 'R' message degrades
    its DML to error rows unless ``relations=`` is supplied; this
    helper batch-scans the durable log (the ``pg_cdc`` batch source,
    one partition per segment) for 'R' messages and returns the NEWEST
    schema per oid, ready to pass to
    ``changes('pgoutput', source='frames', relations=...)``.

    Scale: the scan reads only rows whose first payload byte is 'R'
    (plus S/E stream context) — a first-byte filter over the demuxed
    frames; relation messages are a vanishing fraction of any real log.
    """
    from pg_logical_replication_spark.sources.datasource import register
    from pg_logical_replication_spark.sources.wire import demux_copy_stream

    register(spark)
    raw = (
        spark.read.format("pg_cdc").option("path", log_dir).load()
    )
    dm = demux_copy_stream(raw, passthrough=("seq",)).filter(
        F.col("msg_type") == "w"
    )
    versions = _collect_relations(
        dm.select(F.col("payload").alias("data"), "seq"), "data", "seq"
    )
    out: dict[int, fmt.RelationInfo] = {}
    for oid, vers in versions.items():
        # newest by valid_from_seq
        out[oid] = max(vers, key=lambda v: v[0])[1]
    return out
