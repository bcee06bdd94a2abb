"""pgoutput binary wire format — pure-Python codec (no Spark imports).

Implements the PostgreSQL logical streaming replication protocol message
formats (public spec:
https://www.postgresql.org/docs/current/protocol-logicalrep-message-formats.html),
protocol version 1 — the same format the reference decodes in
``src/output-plugins/pgoutput/pgoutput-parser.ts:24-305`` with its
``BinaryReader`` (``binary-reader.ts:12-100``). Kept as pure functions so
the parser unit-tests run without a SparkSession and the Spark layer
(``pgoutput.py``) just maps it over Arrow batches.

Message tags: B O Y R I U D T M C. Tuple kinds: 'n' null, 'u' unchanged
TOAST, 't' text, 'b' binary (``pgoutput-parser.ts:231-269``). Update
submessages: K (old key), O (old row), N (new row)
(``pgoutput-parser.ts:174-188``). Replica identity byte: d/n/f/i
(``pgoutput-parser.ts:112-130``).

An encoder for every message type lives here too — the engine uses it to
build deterministic golden fixtures (FIXTURES.md §3c) and round-trip
tests; the reference has no encoder (its server is PostgreSQL itself).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

from pg_logical_replication_spark.sources.transport import PG_EPOCH_OFFSET_US

# precompiled for the tuple-decode hot loop (no slice temporaries)
_UNPACK_U32 = struct.Struct(">I").unpack_from


# ------------------------------------------------------------------ reader
class Reader:
    """Bounds-checked cursor over bytes (≙ reference BinaryReader)."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def u8(self) -> int:
        v = self.buf[self.pos]
        self.pos += 1
        return v

    def i16(self) -> int:
        (v,) = struct.unpack_from(">h", self.buf, self.pos)
        self.pos += 2
        return v

    def i32(self) -> int:
        (v,) = struct.unpack_from(">i", self.buf, self.pos)
        self.pos += 4
        return v

    def u32(self) -> int:
        (v,) = struct.unpack_from(">I", self.buf, self.pos)
        self.pos += 4
        return v

    def u64(self) -> int:
        (v,) = struct.unpack_from(">Q", self.buf, self.pos)
        self.pos += 8
        return v

    def i64(self) -> int:
        (v,) = struct.unpack_from(">q", self.buf, self.pos)
        self.pos += 8
        return v

    def cstring(self) -> str:
        end = self.buf.index(b"\x00", self.pos)
        s = self.buf[self.pos : end].decode("utf-8")
        self.pos = end + 1
        return s

    def take(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        if len(b) != n:
            raise ValueError("pgoutput: truncated message")
        self.pos += n
        return b

    def lsn(self) -> str:
        """u64 → 'XXXXXXXX/XXXXXXXX' (≙ binary-reader.ts:75-86)."""
        v = self.u64()
        return f"{v >> 32:08X}/{v & 0xFFFFFFFF:08X}"

    def pg_time_us(self) -> int:
        """µs since PG epoch → µs since Unix epoch (≙ binary-reader.ts:88-95).

        Signed: PG TimestampTz is an int64 sent two's-complement, so a
        pre-2000 timestamp is a negative wire value — unsigned decode
        would turn it into a huge bogus µs count."""
        return self.i64() + PG_EPOCH_OFFSET_US


class MissingRelationError(ValueError):
    """DML referenced a relation oid with no cached 'R' message
    (≙ pgoutput-parser.ts:151-153 throwing 'missing relation')."""

    def __init__(self, oid: int):
        super().__init__(f"missing relation {oid}")
        self.oid = oid


@dataclass
class RelationInfo:
    """Cached relation schema (≙ MessageRelation, pgoutput.types.ts:63-71)."""

    oid: int
    schema: str
    name: str
    replica_identity: str  # default|nothing|full|index
    columns: list[dict]  # {flags, name, type_oid, type_mod}
    key_columns: list[str] = field(default_factory=list)

    @property
    def column_names(self) -> list[str]:
        """Names in column order, cached — the decode loop reads this per
        tuple and per-column dict lookups were measurable."""
        names = self.__dict__.get("_column_names")
        if names is None:
            names = [c["name"] for c in self.columns]
            self.__dict__["_column_names"] = names
        return names


_REPLICA_IDENTITY = {0x64: "default", 0x6E: "nothing", 0x66: "full", 0x69: "index"}


def _bytea_hex(b: bytes) -> str:
    """PostgreSQL bytea text representation for binary tuple values."""
    return "\\x" + b.hex()


def _read_tuple(
    r: Reader, relation: RelationInfo | None, toast_fallback: dict | None = None
) -> tuple[dict, list[str]]:
    """TupleData → (column→text-value dict, unchanged-toast column names).

    Semantics per pgoutput-parser.ts:231-269: 'n' → None; 'u' → fall back
    to the old image's value when available (TOAST columns are omitted
    from the new tuple when unchanged); 't' → utf-8 text; 'b' → bytea hex.
    """
    # Hot path of the 500k-msg decode bench: per-column Reader method
    # calls (u8/i32/take — 3 per column) were ~45% of parse time, so the
    # cursor runs in locals here and writes back once. Kinds ordered by
    # wire frequency ('t' text dominates real changefeeds).
    buf = r.buf
    pos = r.pos
    blen = len(buf)
    ncols = (buf[pos] << 8) | buf[pos + 1]
    pos += 2
    names = relation.column_names if relation is not None else ()
    n_names = len(names)
    out: dict[str, str | None] = {}
    toasted: list[str] = []
    for i in range(ncols):
        name = names[i] if i < n_names else f"_col{i}"
        kind = buf[pos]
        pos += 1
        if kind == 0x74:  # 't'
            (n,) = _UNPACK_U32(buf, pos)
            pos += 4
            end = pos + n
            if end > blen:
                raise ValueError("pgoutput: truncated message")
            out[name] = buf[pos:end].decode("utf-8")
            pos = end
        elif kind == 0x6E:  # 'n'
            out[name] = None
        elif kind == 0x75:  # 'u' unchanged TOAST
            if toast_fallback is not None and name in toast_fallback:
                out[name] = toast_fallback[name]
            else:
                out[name] = None
                toasted.append(name)
        elif kind == 0x62:  # 'b'
            (n,) = _UNPACK_U32(buf, pos)
            pos += 4
            end = pos + n
            if end > blen:
                raise ValueError("pgoutput: truncated message")
            out[name] = _bytea_hex(buf[pos:end])
            pos = end
        else:
            raise ValueError(f"pgoutput: unknown tuple kind {kind:#x}")
    r.pos = pos
    return out, toasted


def _key_projection(tup: dict, relation: RelationInfo | None) -> dict:
    """Key image from a full tuple: key columns, nulls dropped
    (≙ readKeyTuple placeholder-null handling, pgoutput-parser.ts:215-229)."""
    if relation is None or not relation.key_columns:
        return {k: v for k, v in tup.items() if v is not None}
    return {k: tup[k] for k in relation.key_columns if tup.get(k) is not None}


def parse_message(
    buf: bytes,
    relations: dict[int, RelationInfo] | None = None,
    streamed: bool = False,
    require_full_consume: bool = False,
) -> dict:
    """One pgoutput message → normalized ChangeEvent dict.

    ``relations`` is the relation cache (oid → RelationInfo), the engine's
    equivalent of the reference's ``_relationCache``
    (pgoutput-parser.ts:22). Relation/Type messages MUTATE the passed
    cache (and are also returned as events). DML for an unseen relation
    raises — same contract as pgoutput-parser.ts:151-153.

    ``streamed=True`` parses the message as part of a protocol-version-2
    streamed transaction segment (between Stream Start 'S' and Stream
    Stop 'E'): R/Y/I/U/D/T/M messages then carry an extra Int32 xid
    right after the tag byte — possibly a *sub*transaction xid (public
    spec, protocol-logicalrep-message-formats). Protocol v2 exceeds the
    reference (its parser is v1-only, pgoutput-parser.ts:24-52, though
    its options type admits other versions, pgoutput-plugin.ts:24-34);
    it is the PG-native path for transactions larger than
    logical_decoding_work_mem — the reference's 'huge transaction'
    scenario — so the engine supports it.

    ``require_full_consume=True`` additionally raises if the parse left
    trailing bytes — the streamed/plain shapes of R/Y/DML messages only
    differ by the spliced xid, so a wrong-mode parse can SUCCEED
    structurally (the replica-identity byte happens to be d/n/f/i, a
    cstring terminates early) while consuming the wrong span; exact
    buffer consumption is the discriminator (ADVICE r1).

    Returns keys: op, lsn, xid, commit_ts_us, schema, table, key, before,
    after, meta (all optional except op).
    """
    relations = relations if relations is not None else {}
    r = Reader(buf)
    tag = r.u8()

    # stream control messages (protocol v2) are valid in any mode
    if tag == 0x53:  # 'S' Stream Start
        xid = r.u32()
        first = r.u8()
        return {
            "op": "stream_start",
            "xid": xid,
            "meta": {"first_segment": str(bool(first)).lower()},
        }
    if tag == 0x45:  # 'E' Stream Stop
        return {"op": "stream_stop"}
    if tag == 0x63:  # 'c' Stream Commit
        xid = r.u32()
        flags = r.u8()
        commit_lsn = r.lsn()
        end_lsn = r.lsn()
        ts = r.pg_time_us()
        return {
            "op": "stream_commit",
            "lsn": commit_lsn,
            "xid": xid,
            "commit_ts_us": ts,
            "meta": {"flags": str(flags), "end_lsn": end_lsn},
        }
    if tag == 0x41:  # 'A' Stream Abort
        xid = r.u32()
        subxid = r.u32()
        return {
            "op": "stream_abort",
            "xid": xid,
            "meta": {"subxid": str(subxid)},
        }

    # two-phase-commit messages (two_phase option, PG 15+; public spec).
    # Beyond the reference's v1-only parser, same rationale as streaming:
    # a consumer of a two_phase slot sees these on the wire.
    if tag == 0x62:  # 'b' Begin Prepare
        prepare_lsn = r.lsn()
        end_lsn = r.lsn()
        ts = r.pg_time_us()
        xid = r.u32()
        gid = r.cstring()
        return {
            "op": "begin_prepare",
            "lsn": prepare_lsn,
            "commit_ts_us": ts,
            "xid": xid,
            "meta": {"end_lsn": end_lsn, "gid": gid},
        }
    if tag in (0x50, 0x4B, 0x70):  # 'P' Prepare / 'K' Commit Prepared / 'p' Stream Prepare
        flags = r.u8()
        lsn1 = r.lsn()
        end_lsn = r.lsn()
        ts = r.pg_time_us()
        xid = r.u32()
        gid = r.cstring()
        op = {0x50: "prepare", 0x4B: "commit_prepared", 0x70: "stream_prepare"}[tag]
        return {
            "op": op,
            "lsn": lsn1,
            "commit_ts_us": ts,
            "xid": xid,
            "meta": {"flags": str(flags), "end_lsn": end_lsn, "gid": gid},
        }
    if tag == 0x72:  # 'r' Rollback Prepared
        flags = r.u8()
        prepare_end_lsn = r.lsn()
        rollback_end_lsn = r.lsn()
        prepare_ts = r.pg_time_us()
        rollback_ts = r.pg_time_us()
        xid = r.u32()
        gid = r.cstring()
        return {
            "op": "rollback_prepared",
            "lsn": rollback_end_lsn,
            "commit_ts_us": rollback_ts,
            "xid": xid,
            "meta": {
                "flags": str(flags),
                "prepare_end_lsn": prepare_end_lsn,
                "prepare_ts_us": str(prepare_ts),
                "gid": gid,
            },
        }

    stream_xid: int | None = None
    if streamed and tag in (0x52, 0x59, 0x49, 0x55, 0x44, 0x54, 0x4D):
        stream_xid = r.u32()

    ev = _parse_tail(r, tag, relations)
    if stream_xid is not None:
        ev.setdefault("xid", stream_xid)
    if require_full_consume and r.pos != len(buf):
        raise ValueError(
            f"pgoutput: {len(buf) - r.pos} trailing bytes after "
            f"{'streamed' if streamed else 'plain'} parse of tag {chr(tag)!r}"
        )
    return ev


def _parse_tail(r: Reader, tag: int, relations: dict[int, RelationInfo]) -> dict:
    if tag == 0x42:  # 'B' Begin
        lsn = r.lsn()
        ts = r.pg_time_us()
        xid = r.u32()
        return {"op": "begin", "lsn": lsn, "commit_ts_us": ts, "xid": xid}
    if tag == 0x43:  # 'C' Commit
        flags = r.u8()
        commit_lsn = r.lsn()
        end_lsn = r.lsn()
        ts = r.pg_time_us()
        return {
            "op": "commit",
            "lsn": commit_lsn,
            "commit_ts_us": ts,
            "meta": {"flags": str(flags), "end_lsn": end_lsn},
        }
    if tag == 0x4F:  # 'O' Origin
        lsn = r.lsn()
        name = r.cstring()
        return {"op": "origin", "lsn": lsn, "meta": {"origin": name}}
    if tag == 0x59:  # 'Y' Type
        oid = r.u32()
        tschema = r.cstring()
        tname = r.cstring()
        return {
            "op": "type",
            "meta": {"type_oid": str(oid), "type_schema": tschema, "type_name": tname},
        }
    if tag == 0x52:  # 'R' Relation
        oid = r.u32()
        schema = r.cstring()
        name = r.cstring()
        ident = _REPLICA_IDENTITY.get(r.u8())
        if ident is None:
            raise ValueError("pgoutput: unknown replica identity")
        ncols = r.i16()
        cols = []
        for _ in range(ncols):
            cols.append(
                {
                    "flags": r.u8(),
                    "name": r.cstring(),
                    "type_oid": r.u32(),
                    "type_mod": r.i32(),
                }
            )
        key_cols = [c["name"] for c in cols if c["flags"] & 0b1]
        relations[oid] = RelationInfo(oid, schema, name, ident, cols, key_cols)
        return {
            "op": "relation",
            "schema": schema,
            "table": name,
            "meta": {
                "relation_oid": str(oid),
                "replica_identity": ident,
                "key_columns": ",".join(key_cols),
                "columns": ",".join(c["name"] for c in cols),
                "type_oids": ",".join(str(c["type_oid"]) for c in cols),
            },
        }

    # DML messages need the relation cache
    if tag in (0x49, 0x55, 0x44, 0x54):
        if tag == 0x54:  # 'T' Truncate
            nrels = r.i32()
            flags = r.u8()
            oids = [r.u32() for _ in range(nrels)]
            rels = [rel for rel in (relations.get(o) for o in oids) if rel is not None]
            return {
                "op": "truncate",
                "schema": rels[0].schema if rels else None,
                "table": ",".join(rel.name for rel in rels) or None,
                "meta": {
                    "cascade": str(bool(flags & 1)).lower(),
                    "restart_identity": str(bool(flags & 2)).lower(),
                    "relation_oids": ",".join(str(o) for o in oids),
                },
            }
        oid = r.u32()
        rel = relations.get(oid)
        if rel is None:
            # ≙ pgoutput-parser.ts:151-153; carries the oid so the
            # streaming decoder can degrade to an error row
            raise MissingRelationError(oid)
        base = {"schema": rel.schema, "table": rel.name}
        if tag == 0x49:  # 'I' Insert
            if r.u8() != 0x4E:  # 'N'
                raise ValueError("pgoutput: insert without N tuple")
            after, toasted = _read_tuple(r, rel)
            ev = {"op": "insert", **base, "after": after}
            if toasted:
                ev["meta"] = {"unchanged_toast": ",".join(toasted)}
            return ev
        if tag == 0x55:  # 'U' Update — submessages K|O then N (parser.ts:174-188)
            sub = r.u8()
            key = old = None
            if sub == 0x4B:  # 'K' old key (key changed)
                tup, _ = _read_tuple(r, rel)
                key = _key_projection(tup, rel)
                sub = r.u8()
            elif sub == 0x4F:  # 'O' full old row (REPLICA IDENTITY FULL)
                old, _ = _read_tuple(r, rel)
                key = _key_projection(old, rel)
                sub = r.u8()
            if sub != 0x4E:
                raise ValueError("pgoutput: update without N tuple")
            after, toasted = _read_tuple(r, rel, toast_fallback=old)
            ev = {"op": "update", **base, "key": key, "before": old, "after": after}
            if toasted:
                ev["meta"] = {"unchanged_toast": ",".join(toasted)}
            return ev
        # 'D' Delete — K (key only, identity default) or O (full old row,
        # identity full); old populated only for 'O' (parser.ts:194-213,
        # asserted decoder-pgoutput.spec.ts:146-159)
        sub = r.u8()
        tup, _ = _read_tuple(r, rel)
        if sub == 0x4B:
            return {"op": "delete", **base, "key": _key_projection(tup, rel), "before": None}
        if sub == 0x4F:
            return {"op": "delete", **base, "key": _key_projection(tup, rel), "before": tup}
        raise ValueError("pgoutput: delete without K/O tuple")

    if tag == 0x4D:  # 'M' logical message (pg_logical_emit_message)
        flags = r.u8()
        lsn = r.lsn()
        prefix = r.cstring()
        content = r.take(r.i32())
        return {
            "op": "message",
            "lsn": lsn,
            "meta": {
                "transactional": str(bool(flags & 1)).lower(),
                "prefix": prefix,
                "content": _bytea_hex(content),
            },
        }
    raise ValueError("unknown pgoutput message")  # ≙ pgoutput-parser.ts:50


# ----------------------------------------------------------------- encoder
def _cstr(s: str) -> bytes:
    return s.encode("utf-8") + b"\x00"


def _lsn_bytes(lsn: str) -> bytes:
    upper, lower = lsn.split("/")
    return struct.pack(">Q", (int(upper, 16) << 32) | int(lower, 16))


def _pg_time(us_unix: int) -> bytes:
    # signed, matching PG TimestampTz wire form (pre-2000 ⇒ negative)
    return struct.pack(">q", us_unix - PG_EPOCH_OFFSET_US)


def _tuple_bytes(values: list[tuple[str, str | bytes | None]]) -> bytes:
    """[(kind, value)] with kind in n/u/t/b → TupleData bytes."""
    out = [struct.pack(">h", len(values))]
    for kind, v in values:
        if kind == "n":
            out.append(b"n")
        elif kind == "u":
            out.append(b"u")
        elif kind == "t":
            enc = v.encode("utf-8") if isinstance(v, str) else v
            out.append(b"t" + struct.pack(">i", len(enc)) + enc)
        elif kind == "b":
            out.append(b"b" + struct.pack(">i", len(v)) + v)
        else:
            raise ValueError(f"bad tuple kind {kind}")
    return b"".join(out)


def encode_begin(commit_lsn: str, commit_ts_us: int, xid: int) -> bytes:
    return b"B" + _lsn_bytes(commit_lsn) + _pg_time(commit_ts_us) + struct.pack(">I", xid)


def encode_commit(commit_lsn: str, end_lsn: str, commit_ts_us: int, flags: int = 0) -> bytes:
    return (
        b"C"
        + struct.pack(">B", flags)
        + _lsn_bytes(commit_lsn)
        + _lsn_bytes(end_lsn)
        + _pg_time(commit_ts_us)
    )


def encode_origin(origin_lsn: str, name: str) -> bytes:
    return b"O" + _lsn_bytes(origin_lsn) + _cstr(name)


def encode_type(oid: int, schema: str, name: str) -> bytes:
    return b"Y" + struct.pack(">I", oid) + _cstr(schema) + _cstr(name)


def encode_relation(
    oid: int,
    schema: str,
    name: str,
    columns: list[tuple[str, int]],
    key_columns: list[str] | None = None,
    replica_identity: str = "default",
) -> bytes:
    """columns = [(name, type_oid)]; key flag bit 0 set for key_columns."""
    ident = {"default": b"d", "nothing": b"n", "full": b"f", "index": b"i"}[replica_identity]
    keys = set(key_columns or [])
    out = [b"R", struct.pack(">I", oid), _cstr(schema), _cstr(name), ident,
           struct.pack(">h", len(columns))]
    for cname, type_oid in columns:
        out.append(struct.pack(">B", 1 if cname in keys else 0))
        out.append(_cstr(cname))
        out.append(struct.pack(">Ii", type_oid, -1))
    return b"".join(out)


def encode_insert(relation_oid: int, new: list[tuple[str, str | bytes | None]]) -> bytes:
    return b"I" + struct.pack(">I", relation_oid) + b"N" + _tuple_bytes(new)


def encode_update(
    relation_oid: int,
    new: list[tuple[str, str | bytes | None]],
    old: list[tuple[str, str | bytes | None]] | None = None,
    old_kind: str = "O",
) -> bytes:
    out = [b"U", struct.pack(">I", relation_oid)]
    if old is not None:
        out.append(old_kind.encode())
        out.append(_tuple_bytes(old))
    out.append(b"N")
    out.append(_tuple_bytes(new))
    return b"".join(out)


def encode_delete(
    relation_oid: int, old: list[tuple[str, str | bytes | None]], kind: str = "K"
) -> bytes:
    return b"D" + struct.pack(">I", relation_oid) + kind.encode() + _tuple_bytes(old)


def encode_truncate(relation_oids: list[int], cascade=False, restart_identity=False) -> bytes:
    flags = (1 if cascade else 0) | (2 if restart_identity else 0)
    return (
        b"T"
        + struct.pack(">i", len(relation_oids))
        + struct.pack(">B", flags)
        + b"".join(struct.pack(">I", o) for o in relation_oids)
    )


def encode_stream_start(xid: int, first_segment: bool = True) -> bytes:
    return b"S" + struct.pack(">I", xid) + struct.pack(">B", 1 if first_segment else 0)


def encode_stream_stop() -> bytes:
    return b"E"


def encode_stream_commit(
    xid: int, commit_lsn: str, end_lsn: str, commit_ts_us: int, flags: int = 0
) -> bytes:
    return (
        b"c"
        + struct.pack(">I", xid)
        + struct.pack(">B", flags)
        + _lsn_bytes(commit_lsn)
        + _lsn_bytes(end_lsn)
        + _pg_time(commit_ts_us)
    )


def encode_stream_abort(xid: int, subxid: int | None = None) -> bytes:
    return b"A" + struct.pack(">II", xid, subxid if subxid is not None else xid)


def encode_begin_prepare(
    prepare_lsn: str, end_lsn: str, prepare_ts_us: int, xid: int, gid: str
) -> bytes:
    return (
        b"b"
        + _lsn_bytes(prepare_lsn)
        + _lsn_bytes(end_lsn)
        + _pg_time(prepare_ts_us)
        + struct.pack(">I", xid)
        + _cstr(gid)
    )


def _enc_prepared(tag: bytes, lsn1: str, end_lsn: str, ts_us: int, xid: int,
                  gid: str, flags: int) -> bytes:
    return (
        tag
        + struct.pack(">B", flags)
        + _lsn_bytes(lsn1)
        + _lsn_bytes(end_lsn)
        + _pg_time(ts_us)
        + struct.pack(">I", xid)
        + _cstr(gid)
    )


def encode_prepare(prepare_lsn: str, end_lsn: str, prepare_ts_us: int, xid: int,
                   gid: str, flags: int = 0) -> bytes:
    return _enc_prepared(b"P", prepare_lsn, end_lsn, prepare_ts_us, xid, gid, flags)


def encode_commit_prepared(commit_lsn: str, end_lsn: str, commit_ts_us: int,
                           xid: int, gid: str, flags: int = 0) -> bytes:
    return _enc_prepared(b"K", commit_lsn, end_lsn, commit_ts_us, xid, gid, flags)


def encode_stream_prepare(prepare_lsn: str, end_lsn: str, prepare_ts_us: int,
                          xid: int, gid: str, flags: int = 0) -> bytes:
    return _enc_prepared(b"p", prepare_lsn, end_lsn, prepare_ts_us, xid, gid, flags)


def encode_rollback_prepared(
    prepare_end_lsn: str, rollback_end_lsn: str, prepare_ts_us: int,
    rollback_ts_us: int, xid: int, gid: str, flags: int = 0,
) -> bytes:
    return (
        b"r"
        + struct.pack(">B", flags)
        + _lsn_bytes(prepare_end_lsn)
        + _lsn_bytes(rollback_end_lsn)
        + _pg_time(prepare_ts_us)
        + _pg_time(rollback_ts_us)
        + struct.pack(">I", xid)
        + _cstr(gid)
    )


def with_stream_xid(xid: int, message: bytes) -> bytes:
    """Wrap a v1-encoded R/Y/I/U/D/T/M message for a streamed segment:
    splice the Int32 xid the v2 protocol puts right after the tag byte."""
    return message[:1] + struct.pack(">I", xid) + message[1:]


def encode_logical_message(
    lsn: str, prefix: str, content: bytes, transactional: bool = True
) -> bytes:
    return (
        b"M"
        + struct.pack(">B", 1 if transactional else 0)
        + _lsn_bytes(lsn)
        + _cstr(prefix)
        + struct.pack(">i", len(content))
        + content
    )
