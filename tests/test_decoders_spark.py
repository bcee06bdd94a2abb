"""Decoder DataFrame transforms E2E — the scenario matrix of the
reference's decoder specs (insert / update / delete / cascade / rollback
invisibility / truncate) over engine-encoded fixtures, normalized to
CHANGE_EVENT_SCHEMA and applied to a snapshot."""

import pandas as pd

from pg_logical_replication_spark.operators import apply_changes
from pg_logical_replication_spark.sources import (
    decode,
    pgoutput_format as pg,
    decoderbufs_format as dbuf,
)


def _wal2json_lines():
    # 2 inserts, 1 update, 1 delete on users; one child-table insert.
    return [
        (
            '{"change":[{"kind":"insert","schema":"public","table":"users",'
            '"columnnames":["id","firstname","deleted"],"columntypes":["bigint","text","boolean"],'
            '"columnvalues":[1,"alice",false]},'
            '{"kind":"insert","schema":"public","table":"users",'
            '"columnnames":["id","firstname","deleted"],"columntypes":["bigint","text","boolean"],'
            '"columnvalues":[2,"bob",false]}],'
            '"xid":771,"nextlsn":"0/16B3D88","timestamp":"2026-08-13 00:00:00.000000+00"}'
        ),
        (
            '{"change":[{"kind":"update","schema":"public","table":"users",'
            '"columnnames":["id","firstname","deleted"],"columntypes":["bigint","text","boolean"],'
            '"columnvalues":[1,"alice2",false],'
            '"oldkeys":{"keynames":["id"],"keytypes":["bigint"],"keyvalues":[1]}}],'
            '"xid":772,"nextlsn":"0/16B3E00","timestamp":"2026-08-13 00:00:01.000000+00"}'
        ),
        (
            '{"change":[{"kind":"delete","schema":"public","table":"users",'
            '"oldkeys":{"keynames":["id"],"keytypes":["bigint"],"keyvalues":[2]}}],'
            '"xid":773,"nextlsn":"0/16B3F00","timestamp":"2026-08-13 00:00:02.000000+00"}'
        ),
        (
            '{"change":[{"kind":"insert","schema":"public","table":"user_contents",'
            '"columnnames":["id","user_id","title"],"columntypes":["bigint","bigint","text"],'
            '"columnvalues":[10,1,"hi"]}],'
            '"xid":774,"nextlsn":"0/16B4000","timestamp":"2026-08-13 00:00:03.000000+00"}'
        ),
    ]


def test_wal2json_decode_and_counts(spark):
    raw = spark.createDataFrame([(line,) for line in _wal2json_lines()], "value string")
    ev = decode(raw, "wal2json")
    # per-kind counts ≙ decoder-wal2json.spec.ts:40-42 filter(kind).length
    counts = {r["op"]: r["n"] for r in ev.groupBy("op").count().withColumnRenamed("count", "n").collect()}
    assert counts == {"insert": 3, "update": 1, "delete": 1}
    row = ev.filter("op = 'update'").first()
    assert row["after"]["firstname"] == "alice2"
    assert row["key"] == {"id": "1"}
    assert row["xid"] == 772
    assert row["lsn_long"] == 0x16B3E00
    assert row["meta"]["pos"] == "0"
    # JSON false/numbers stringified into the text-format value domain
    assert row["after"]["deleted"] == "false"


def test_wal2json_apply_changes_snapshot(spark):
    raw = spark.createDataFrame([(line,) for line in _wal2json_lines()], "value string")
    snap = apply_changes(
        decode(raw, "wal2json"),
        key_columns=["id"],
        table="users",
        columns={"id": "bigint", "firstname": "text", "deleted": "boolean"},
    )
    rows = {r["id"]: r for r in snap.collect()}
    assert set(rows) == {1}  # id=2 deleted
    assert rows[1]["firstname"] == "alice2"
    assert rows[1]["deleted"] is False


def test_wal2json_transaction_markers(spark):
    raw = spark.createDataFrame([(line,) for line in _wal2json_lines()], "value string")
    ev = decode(raw, "wal2json", include_transaction_markers=True)
    assert ev.filter("op = 'begin'").count() == 4
    assert ev.filter("op = 'commit'").count() == 4


def _wal2json_v2_lines():
    """The SAME logical stream as _wal2json_lines, in format-version 2
    (one JSON object per action; wal2json docs, reference option
    wal2json-plugin-options.type.ts:112-114)."""
    return [
        '{"action":"B","xid":771,"timestamp":"2026-08-13 00:00:00.000000+00","lsn":"0/16B3D88"}',
        '{"action":"I","schema":"public","table":"users","lsn":"0/16B3D88",'
        '"xid":771,"timestamp":"2026-08-13 00:00:00.000000+00",'
        '"columns":[{"name":"id","type":"bigint","value":1},'
        '{"name":"firstname","type":"text","value":"alice"},'
        '{"name":"deleted","type":"boolean","value":false}]}',
        '{"action":"I","schema":"public","table":"users","lsn":"0/16B3D88",'
        '"xid":771,"timestamp":"2026-08-13 00:00:00.000000+00",'
        '"columns":[{"name":"id","type":"bigint","value":2},'
        '{"name":"firstname","type":"text","value":"bob"},'
        '{"name":"deleted","type":"boolean","value":false}]}',
        '{"action":"C","xid":771,"timestamp":"2026-08-13 00:00:00.000000+00","lsn":"0/16B3D88"}',
        '{"action":"U","schema":"public","table":"users","lsn":"0/16B3E00",'
        '"xid":772,"timestamp":"2026-08-13 00:00:01.000000+00",'
        '"columns":[{"name":"id","type":"bigint","value":1},'
        '{"name":"firstname","type":"text","value":"alice2"},'
        '{"name":"deleted","type":"boolean","value":false}],'
        '"identity":[{"name":"id","type":"bigint","value":1}]}',
        '{"action":"D","schema":"public","table":"users","lsn":"0/16B3F00",'
        '"xid":773,"timestamp":"2026-08-13 00:00:02.000000+00",'
        '"identity":[{"name":"id","type":"bigint","value":2}]}',
        '{"action":"I","schema":"public","table":"user_contents","lsn":"0/16B4000",'
        '"xid":774,"timestamp":"2026-08-13 00:00:03.000000+00",'
        '"columns":[{"name":"id","type":"bigint","value":10},'
        '{"name":"user_id","type":"bigint","value":1},'
        '{"name":"title","type":"text","value":"hi"}]}',
    ]


def test_wal2json_v2_decode(spark):
    raw = spark.createDataFrame([(l,) for l in _wal2json_v2_lines()], "value string")
    ev = decode(raw, "wal2json", format_version=2)
    counts = {r["op"]: r["n"] for r in ev.groupBy("op").count().withColumnRenamed("count", "n").collect()}
    assert counts == {"insert": 3, "update": 1, "delete": 1}
    row = ev.filter("op = 'update'").first()
    assert row["after"] == {"id": "1", "firstname": "alice2", "deleted": "false"}
    assert row["key"] == {"id": "1"}
    assert row["xid"] == 772 and row["lsn_long"] == 0x16B3E00
    assert row["meta"]["coltypes"] == "bigint,text,boolean"
    # native B/C lines surface with the markers flag, drop without
    ev_m = decode(raw, "wal2json", format_version=2, include_transaction_markers=True)
    assert ev_m.filter("op = 'begin'").count() == 1


def test_wal2json_v2_matches_v1_snapshot(spark):
    """Both format versions of the same stream materialize identically."""
    v1 = decode(
        spark.createDataFrame([(l,) for l in _wal2json_lines()], "value string"),
        "wal2json",
    )
    v2 = decode(
        spark.createDataFrame([(l,) for l in _wal2json_v2_lines()], "value string"),
        "wal2json",
        format_version=2,
    )
    cols = {"id": "bigint", "firstname": "text", "deleted": "boolean"}
    s1 = apply_changes(v1, key_columns=["id"], table="users", columns=cols)
    s2 = apply_changes(v2, key_columns=["id"], table="users", columns=cols)
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))


def test_wal2json_v2_option_pushdown(spark):
    raw = spark.createDataFrame([(l,) for l in _wal2json_v2_lines()], "value string")
    ev = decode(
        raw, "wal2json", format_version=2,
        add_tables=["public.users"], actions=["insert"],
    )
    assert ev.count() == 2
    assert {r["table"] for r in ev.collect()} == {"users"}


TEST_DECODING_LINES = [
    "BEGIN 771",
    "table public.users: INSERT: id[bigint]:1 firstname[text]:'al ice' deleted[boolean]:false",
    "table public.users: INSERT: id[bigint]:2 firstname[text]:'o''brien' email[character varying(1000)]:null",
    "COMMIT 771 (at 2026-08-13 00:00:00.000000+00)",
    "BEGIN 772",
    "table public.users: UPDATE: id[bigint]:1 firstname[text]:'alice2' deleted[boolean]:false",
    "table public.users: DELETE: id[bigint]:2",
    "COMMIT 772 (at 2026-08-13 00:00:01.000000+00)",
]


def test_test_decoding_decode(spark):
    raw = spark.createDataFrame(
        [(i, l) for i, l in enumerate(TEST_DECODING_LINES)], "seq long, value string"
    )
    ev = decode(raw, "test_decoding", seq_col="seq")
    assert ev.filter("op = 'begin'").count() == 2
    ins = ev.filter("op = 'insert'").orderBy("after.id").collect()
    # quote-escaping: '' → ' (grammar single_quote_escaped_string)
    assert ins[0]["after"]["firstname"] == "al ice"
    assert ins[1]["after"]["firstname"] == "o'brien"
    assert ins[1]["after"]["email"] is None  # literal null
    assert ins[0]["xid"] == 771
    # commit_ts joined from COMMIT line via xid
    assert str(ins[0]["commit_ts"]).startswith("2026-08-13 00:00:00")
    dele = ev.filter("op = 'delete'").first()
    assert dele["key"] == {"id": "2"}
    assert dele["after"] is None


def test_test_decoding_quoted_identifiers_and_update_old_key(spark):
    lines = [
        'table "My Schema"."my""table": INSERT: "user id"[bigint]:7 v[text]:\'x\'',
        "table public.users: UPDATE: old-key: id[bigint]:1 new-tuple: id[bigint]:9 v[text]:'moved'",
    ]
    ev = decode(spark.createDataFrame([(l,) for l in lines], "value string"), "test_decoding")
    r = ev.filter("op = 'insert'").first()
    assert r["schema"] == "My Schema"
    assert r["table"] == 'my"table'
    assert r["after"]["user id"] == "7"
    u = ev.filter("op = 'update'").first()
    assert u["key"] == {"id": "1"}
    assert u["after"] == {"id": "9", "v": "moved"}


def _pgoutput_stream():
    """begin → relation → 2 inserts → update → delete → commit, second
    txn truncate + reinsert. Returns [(lsn, seq, bytes)]."""
    cols = [("id", 20), ("name", 25)]
    rel = pg.encode_relation(1001, "public", "users", cols, key_columns=["id"])
    ts = 1_755_000_000_000_000
    msgs = [
        pg.encode_begin("00000000/00001000", ts, 700),
        rel,
        pg.encode_insert(1001, [("t", "1"), ("t", "alice")]),
        pg.encode_insert(1001, [("t", "2"), ("t", "bob")]),
        pg.encode_update(1001, [("t", "1"), ("t", "alice2")]),
        pg.encode_delete(1001, [("t", "2"), ("n", None)], kind="K"),
        pg.encode_commit("00000000/00001100", "00000000/00001101", ts),
        pg.encode_begin("00000000/00002000", ts + 1_000_000, 701),
        pg.encode_insert(1001, [("t", "3"), ("t", "carol")]),
        pg.encode_commit("00000000/00002100", "00000000/00002101", ts + 1_000_000),
    ]
    return [(f"00000000/{0x1000 + i:08X}", i, m) for i, m in enumerate(msgs)]


def test_pgoutput_decode_spark(spark):
    raw = spark.createDataFrame(
        _pgoutput_stream(), "lsn string, seq long, data binary"
    )
    ev = decode(raw, "pgoutput")
    ops = {r["op"]: r["n"] for r in ev.groupBy("op").count().withColumnRenamed("count", "n").collect()}
    assert ops == {"begin": 2, "relation": 1, "insert": 3, "update": 1, "delete": 1, "commit": 2}
    up = ev.filter("op = 'update'").first()
    assert up["after"] == {"id": "1", "name": "alice2"}
    assert up["table"] == "users"
    snap = apply_changes(
        ev, key_columns=["id"], table="users", columns={"id": "bigint", "name": "text"}
    )
    rows = {r["id"]: r["name"] for r in snap.collect()}
    assert rows == {1: "alice2", 3: "carol"}


def test_pgoutput_mid_stream_schema_evolution(spark):
    """An updated relation message mid-stream (ALTER TABLE ADD COLUMN)
    re-schemas every LATER message while earlier ones keep the old shape
    — the versioned cache resolves each DML by wire seq, so the result
    is identical at any parallelism (pgoutput-parser.ts:86-110 cache
    semantics, upgraded from last-write-wins to per-seq versions)."""
    ts = 1_755_000_000_000_000
    rel_v1 = pg.encode_relation(1001, "public", "users", [("id", 20), ("name", 25)],
                                key_columns=["id"])
    rel_v2 = pg.encode_relation(1001, "public", "users",
                                [("id", 20), ("name", 25), ("email", 25)],
                                key_columns=["id"])
    msgs = [
        pg.encode_begin("00000000/00001000", ts, 700),
        rel_v1,
        pg.encode_insert(1001, [("t", "1"), ("t", "alice")]),
        pg.encode_commit("00000000/00001100", "00000000/00001101", ts),
        pg.encode_begin("00000000/00002000", ts, 701),
        rel_v2,  # ALTER TABLE users ADD COLUMN email
        pg.encode_insert(1001, [("t", "2"), ("t", "bob"), ("t", "b@x.io")]),
        pg.encode_commit("00000000/00002100", "00000000/00002101", ts),
    ]
    stream = [(f"00000000/{0x1000 + i:08X}", i, m) for i, m in enumerate(msgs)]
    # many partitions: resolution must come from seq, not arrival order
    raw = spark.createDataFrame(stream, "lsn string, seq long, data binary").repartition(8)
    ins = {r["after"]["id"]: r["after"] for r in
           decode(raw, "pgoutput").filter("op = 'insert'").collect()}
    assert ins["1"] == {"id": "1", "name": "alice"}
    assert ins["2"] == {"id": "2", "name": "bob", "email": "b@x.io"}


def test_pgoutput_transaction_assignment(spark):
    from pg_logical_replication_spark.sources.pgoutput import assign_transactions

    raw = spark.createDataFrame(_pgoutput_stream(), "lsn string, seq long, data binary")
    ev = assign_transactions(decode(raw, "pgoutput"))
    ins = ev.filter("op = 'insert'").orderBy("seq").collect()
    assert [r["xid"] for r in ins] == [700, 700, 701]
    assert ins[0]["commit_ts"] is not None


def test_pgoutput_truncate_apply(spark):
    cols = [("id", 20), ("name", 25)]
    rel = pg.encode_relation(1001, "public", "users", cols, key_columns=["id"])
    msgs = [
        rel,
        pg.encode_insert(1001, [("t", "1"), ("t", "a")]),
        pg.encode_insert(1001, [("t", "2"), ("t", "b")]),
        pg.encode_truncate([1001]),
        pg.encode_insert(1001, [("t", "5"), ("t", "after")]),
    ]
    raw = spark.createDataFrame(
        [(f"00000000/{i:08X}", i, m) for i, m in enumerate(msgs)],
        "lsn string, seq long, data binary",
    )
    snap = apply_changes(
        decode(raw, "pgoutput"), key_columns=["id"], table="users",
        columns={"id": "bigint", "name": "text"},
    )
    rows = {r["id"]: r["name"] for r in snap.collect()}
    assert rows == {5: "after"}


def test_decoderbufs_decode_spark(spark):
    msgs = [
        dbuf.encode_row_message("begin", xid=9),
        dbuf.encode_row_message(
            "insert",
            xid=9,
            commit_time_us=1_755_000_000_000_000,
            table="public.users",
            new_tuple=[dbuf.encode_datum("id", 20, int64=1), dbuf.encode_datum("n", 25, string="x")],
        ),
        dbuf.encode_row_message(
            "delete", xid=9, table="public.users",
            old_tuple=[dbuf.encode_datum("id", 20, int64=1)],
        ),
        dbuf.encode_row_message("commit", xid=9),
    ]
    raw = spark.createDataFrame(
        [(f"00000000/{i:08X}", bytearray(m)) for i, m in enumerate(msgs)],
        "lsn string, data binary",
    )
    ev = decode(raw, "decoderbufs")
    assert ev.filter("op = 'insert'").first()["after"] == {"id": "1", "n": "x"}
    assert ev.filter("op = 'delete'").first()["key"] == {"id": "1"}
    assert ev.count() == 4


def test_unknown_format_raises(spark):
    import pytest

    raw = spark.createDataFrame([("x",)], "value string")
    with pytest.raises(ValueError, match="unknown output plugin"):
        decode(raw, "nope")


def test_toast_fill_explicit_null_not_overwritten(spark):
    """A SQL NULL set by an update must survive; only 'u' unchanged-TOAST
    gaps are filled from the prior image (SURVEY #7 downstream coalesce)."""
    from pg_logical_replication_spark.operators.apply_changes import toast_fill

    def ev(lsn_long, after, toasted=False):
        return (
            "update", None, lsn_long, None, None, "public", "t",
            {"id": "1"}, None, after,
            {"unchanged_toast": "big"} if toasted else None,
        )

    rows = [
        ev(1, {"id": "1", "big": "hello"}),
        ev(2, {"id": "1"}, toasted=True),          # fill → hello
        ev(3, {"id": "1", "big": None}),           # explicit NULL
        ev(4, {"id": "1"}, toasted=True),          # fill → NULL, not hello
        ev(5, {"id": "1", "big": "world"}),
    ]
    from pg_logical_replication_spark.model import CHANGE_EVENT_SCHEMA

    df = spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)
    out = {
        r["lsn_long"]: r["after"].get("big")
        for r in toast_fill(df, key_columns=["id"]).collect()
    }
    assert out == {1: "hello", 2: "hello", 3: None, 4: None, 5: "world"}


def test_wal2json_option_pushdown_filters(spark):
    """#12: filter-tables / add-tables / actions as decode-plan filters
    (server-side options, reference wal2json-plugin.ts:18-29)."""
    raw = spark.createDataFrame([(line,) for line in _wal2json_lines()], "value string")

    only_users = decode(raw, "wal2json", add_tables=["public.users"])
    assert {r["table"] for r in only_users.collect()} == {"users"}

    excluded = decode(raw, "wal2json", filter_tables=["*.users"])
    assert {r["table"] for r in excluded.collect()} == {"user_contents"}

    upserts = decode(raw, "wal2json", actions=["insert", "update"])
    assert {r["op"] for r in upserts.collect()} == {"insert", "update"}

    wild = decode(raw, "wal2json", add_tables=["public.*"])
    assert wild.count() == decode(raw, "wal2json").count()


def test_wal2json_filter_origins(spark):
    """filter-origins excludes replicated-from origins; local (no-origin)
    changes always pass (options type :96-99)."""
    lines = _wal2json_lines() + [
        '{"change":[{"kind":"insert","schema":"public","table":"users",'
        '"columnnames":["id"],"columntypes":["bigint"],"columnvalues":[99],'
        '"origin":"upstream_a"}],'
        '"xid":900,"nextlsn":"0/16B5000","timestamp":"2026-08-13 00:00:09.000000+00"}'
    ]
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    assert decode(raw, "wal2json").count() == 6
    kept = decode(raw, "wal2json", filter_origins=["upstream_a"])
    assert kept.count() == 5
    assert not [r for r in kept.collect() if (r["meta"] or {}).get("origin")]


def test_test_decoding_option_pushdown_metadata(spark):
    """#14: include-xids / include-timestamp suppress metadata columns
    (test-decoding-plugin.ts:47-59)."""
    raw = spark.createDataFrame(
        [(i, l) for i, l in enumerate(TEST_DECODING_LINES)], "seq long, value string"
    )
    ev = decode(
        raw, "test_decoding", seq_col="seq", include_xids=False
    ).filter("op = 'insert'")
    rows = ev.collect()
    assert all(r["xid"] is None for r in rows)
    assert all(r["commit_ts"] is not None for r in rows)  # ts still framed

    ev2 = decode(
        raw, "test_decoding", seq_col="seq",
        include_xids=False, include_timestamp=False,
    ).filter("op = 'insert'")
    assert all(
        r["xid"] is None and r["commit_ts"] is None for r in ev2.collect()
    )


def test_pgoutput_publication_filter(spark):
    """#16: publication_tables drops non-published DML inside the decode
    loop, pre-Arrow (pgoutput-plugin.ts:24-34)."""
    from pg_logical_replication_spark.sources import pgoutput_format as fmt

    msgs = [
        fmt.encode_relation(1, "public", "users", [("id", 20)], key_columns=["id"]),
        fmt.encode_relation(2, "public", "audit", [("id", 20)], key_columns=["id"]),
        fmt.encode_insert(1, [("t", "1")]),
        fmt.encode_insert(2, [("t", "9")]),
        fmt.encode_insert(1, [("t", "2")]),
    ]
    raw = spark.createDataFrame(
        [(f"0/{16 + 8 * i:X}", i, m) for i, m in enumerate(msgs)],
        "lsn string, seq long, data binary",
    )
    ev = decode(raw, "pgoutput", publication_tables=["public.users"])
    dml = ev.filter("op = 'insert'").collect()
    assert {r["after"]["id"] for r in dml} == {"1", "2"}
    assert {r["table"] for r in dml} == {"users"}


def test_dead_letters_error_channel(spark):
    """#24: rejects surface as a DLQ DataFrame; happy path unaffected
    (per-message error events, logical-replication-service.ts:213-216)."""
    from pg_logical_replication_spark.sources.registry import dead_letters

    lines = _wal2json_lines() + ["NOT JSON", '{"unrelated": true}']
    raw = spark.createDataFrame([(line,) for line in lines], "value string")
    dlq = dead_letters(raw, "wal2json").collect()
    assert {r["value"] for r in dlq} == {"NOT JSON", '{"unrelated": true}'}
    assert decode(raw, "wal2json").count() == decode(
        spark.createDataFrame([(l,) for l in _wal2json_lines()], "value string"),
        "wal2json",
    ).count()

    td = TEST_DECODING_LINES + ["garbage line", "table broken"]
    raw2 = spark.createDataFrame([(line,) for line in td], "value string")
    dlq2 = {r["value"] for r in dead_letters(raw2, "test_decoding").collect()}
    assert dlq2 == {"garbage line", "table broken"}

    v2 = _wal2json_v2_lines() + ["NOT JSON", '{"unrelated": true}']
    raw3 = spark.createDataFrame([(line,) for line in v2], "value string")
    dlq3 = {r["value"] for r in dead_letters(raw3, "wal2json", format_version=2).collect()}
    assert dlq3 == {"NOT JSON", '{"unrelated": true}'}

    dz = ['{"before":null,"after":{"id":"1"},"source":{"schema":"s","table":"t","lsn":8,"txId":1},"op":"c","ts_ms":1}',
          "NOT JSON", '{"no": "op"}']
    raw4 = spark.createDataFrame([(line,) for line in dz], "value string")
    dlq4 = {r["value"] for r in dead_letters(raw4, "debezium").collect()}
    assert dlq4 == {"NOT JSON", '{"no": "op"}'}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        dead_letters(raw, "pgoutput")


def test_debezium_decode_and_roundtrip(spark):
    """Debezium envelope (bare or Connect-wrapped) decodes to normalized
    ChangeEvents; to_debezium(decode(x)) is identity on the envelope
    semantics (interop in both directions)."""
    import json as _json

    from pg_logical_replication_spark.sources.debezium import (
        decode_debezium,
        to_debezium,
    )

    def line(op, lsn, before, after, wrapped=False):
        payload = {
            "before": before, "after": after,
            "source": {"schema": "public", "table": "users", "lsn": lsn, "txId": 7},
            "op": op, "ts_ms": 1700000000000 + lsn,
        }
        return _json.dumps({"schema": "s", "payload": payload} if wrapped else payload)

    lines = [
        (line("c", 1000, None, {"id": "1", "name": "alice"}),),
        (line("u", 2000, {"id": "1", "name": "alice"}, {"id": "1", "name": "al2"},
              wrapped=True),),
        (line("d", 3000, {"id": "2"}, None),),
        (line("r", 4000, None, {"id": "3"}),),   # snapshot read
        ("not json",),                            # dropped
    ]
    raw = spark.createDataFrame(lines, "value string")
    ev = decode(raw, "debezium")
    rows = {r["lsn_long"]: r for r in ev.collect()}
    assert set(rows) == {1000, 2000, 3000, 4000}
    assert rows[1000]["op"] == "insert" and rows[1000]["after"]["name"] == "alice"
    assert rows[2000]["op"] == "update" and rows[2000]["before"]["name"] == "alice"
    assert rows[3000]["op"] == "delete" and rows[3000]["after"] is None
    assert rows[4000]["op"] == "insert" and rows[4000]["meta"]["snapshot"] == "true"
    assert rows[2000]["commit_ts"] is not None and rows[2000]["xid"] == 7

    # encode → decode identity (snapshot 'r' re-encodes as plain insert)
    rt = {r["lsn_long"]: r for r in decode_debezium(to_debezium(ev)).collect()}
    for lsn in (1000, 2000, 3000):
        for f in ("op", "lsn", "xid", "schema", "table", "before", "after", "commit_ts"):
            assert rt[lsn][f] == rows[lsn][f], (lsn, f)


def test_debezium_apply_changes(spark):
    """The decoded Debezium stream materializes through the same
    apply-changes as the native formats — format-agnostic snapshot."""
    import json as _json

    def line(op, lsn, after, before=None):
        return (_json.dumps({
            "before": before, "after": after,
            "source": {"schema": "public", "table": "users", "lsn": lsn, "txId": 1},
            "op": op, "ts_ms": 1700000000000,
        }),)

    raw = spark.createDataFrame(
        [
            line("c", 1, {"id": "1", "name": "alice"}),
            line("c", 2, {"id": "2", "name": "bob"}),
            line("u", 3, {"id": "1", "name": "al2"}),
            line("d", 4, None, before={"id": "2", "name": "bob"}),
        ],
        "value string",
    )
    snap = apply_changes(
        decode(raw, "debezium"), key_columns=["id"], table="users",
        columns={"id": "bigint", "name": "text"},
    )
    assert {(r["id"], r["name"]) for r in snap.collect()} == {(1, "al2")}


def test_test_decoding_stream_changes_blocks(spark):
    """stream-changes=1 block lines (PG contrib/test_decoding stream_*
    callbacks) decode to stream_* ops with their TXIDs; the reference
    pushes the option down (test-decoding-plugin.ts:47-59) but its
    grammar never parses the resulting lines."""
    from pg_logical_replication_spark.sources.test_decoding import (
        decode_test_decoding,
    )

    lines = [
        "opening a streamed block for transaction TXID 774",
        "streaming change for transaction TXID 774",
        "streaming change for transaction TXID 775",
        "closing a streamed block for transaction TXID 774",
        "committing streamed transaction TXID 774",
        "aborting streamed (sub)transaction TXID 775",
        # include-xids off → no TXID suffix; op still surfaces
        "opening a streamed block for transaction",
        "table public.users: INSERT: id[integer]:1",  # plain DML unaffected
    ]
    out = decode_test_decoding(
        spark.createDataFrame([(ln,) for ln in lines], "value string")
    ).collect()
    got = [(r["op"], r["xid"]) for r in out]
    assert ("stream_start", 774) in got
    assert got.count(("stream_change", 774)) == 1
    assert ("stream_change", 775) in got
    assert ("stream_stop", 774) in got
    assert ("stream_commit", 774) in got
    assert ("stream_abort", 775) in got
    assert ("stream_start", None) in got
    assert any(op == "insert" for op, _ in got)


def test_test_decoding_sequence_lines(spark):
    """include-sequences=1 lines (PG 16+ pg_decode_sequence) decode to
    op='sequence' with the sequence state in meta."""
    from pg_logical_replication_spark.sources.test_decoding import (
        decode_test_decoding,
    )

    lines = [
        "sequence public.users_id_seq: transactional:0 last_value: 133 log_cnt: 32 is_called:1",
        'sequence "My Schema"."my""seq": transactional:1 last_value: 1 log_cnt: 0 is_called:0',
        "table public.users: INSERT: id[integer]:1",
    ]
    out = decode_test_decoding(
        spark.createDataFrame([(ln,) for ln in lines], "value string")
    ).collect()
    seqs = [r for r in out if r["op"] == "sequence"]
    assert len(seqs) == 2
    s0 = next(r for r in seqs if r["table"] == "users_id_seq")
    assert s0["schema"] == "public"
    assert s0["meta"]["last_value"] == "133" and s0["meta"]["is_called"] == "1"
    s1 = next(r for r in seqs if r["schema"] == "My Schema")
    assert s1["table"] == 'my"seq' and s1["meta"]["transactional"] == "1"
    assert any(r["op"] == "insert" for r in out)


def test_pgoutput_column_list_projection(spark):
    """PG 15 publication column lists: only listed columns of the row
    images are published; replica-identity key tuples stay intact."""
    from pg_logical_replication_spark.sources import pgoutput_format as fmt
    from pg_logical_replication_spark.sources.pgoutput import decode_pgoutput

    cols = [("id", 20), ("name", 25), ("secret", 25)]
    msgs = [
        fmt.encode_relation(1, "public", "users", cols, key_columns=["id"]),
        fmt.encode_insert(1, [("t", "1"), ("t", "alice"), ("t", "s3cr3t")]),
        fmt.encode_update(1, [("t", "1"), ("t", "bob"), ("t", "hush")]),
        fmt.encode_delete(1, [("t", "1"), ("n", None), ("n", None)], kind="K"),
    ]
    raw = spark.createDataFrame(
        [(f"0/{16 + 8 * i:X}", i, m) for i, m in enumerate(msgs)],
        "lsn string, seq long, data binary",
    )
    ev = decode_pgoutput(raw, column_lists={"public.users": ["id", "name"]})
    ins = ev.filter("op = 'insert'").first()
    assert ins["after"] == {"id": "1", "name": "alice"}
    up = ev.filter("op = 'update'").first()
    assert up["after"] == {"id": "1", "name": "bob"}
    dele = ev.filter("op = 'delete'").first()
    assert dele["key"] == {"id": "1"}
    # unlisted table passes through untouched
    ev_all = decode_pgoutput(raw, column_lists={"public.other": ["id"]})
    assert ev_all.filter("op = 'insert'").first()["after"]["secret"] == "s3cr3t"


def test_pgoutput_truncate_respects_publication_subset(spark):
    """A multi-table TRUNCATE is filtered per relation: the published
    subset survives (with table/relation_oids rewritten), a truncate
    touching no published table drops entirely (review r2 — the
    comma-joined table name previously never matched any pub entry)."""
    from pg_logical_replication_spark.sources import pgoutput_format as fmt

    msgs = [
        fmt.encode_relation(1, "public", "users", [("id", 20)], key_columns=["id"]),
        fmt.encode_relation(2, "public", "audit", [("id", 20)], key_columns=["id"]),
        fmt.encode_truncate([1, 2]),
        fmt.encode_truncate([2]),
    ]
    raw = spark.createDataFrame(
        [(f"0/{16 + 8 * i:X}", i, m) for i, m in enumerate(msgs)],
        "lsn string, seq long, data binary",
    )
    ev = decode(raw, "pgoutput", publication_tables=["public.users"])
    tr = ev.filter("op = 'truncate'").collect()
    assert len(tr) == 1
    assert tr[0]["table"] == "users"
    assert tr[0]["meta"]["relation_oids"] == "1"


def test_pgoutput_supplied_cache_honors_inband_alter(spark):
    """With a supplied relation cache, an in-band 'R' (mid-stream ALTER)
    must re-schema later DML instead of being shadowed by the supplied
    entry (review r2: the stale version was pinned forever)."""
    from pg_logical_replication_spark.sources import pgoutput_format as fmt
    from pg_logical_replication_spark.sources.pgoutput import decode_pgoutput

    pre: dict = {}
    fmt.parse_message(
        fmt.encode_relation(1, "public", "users", [("id", 20)], key_columns=["id"]),
        pre,
    )
    msgs = [
        fmt.encode_insert(1, [("t", "1")]),
        # ALTER TABLE users ADD COLUMN name
        fmt.encode_relation(
            1, "public", "users", [("id", 20), ("name", 25)], key_columns=["id"]
        ),
        fmt.encode_insert(1, [("t", "2"), ("t", "bob")]),
    ]
    raw = spark.createDataFrame(
        [(f"0/{16 + 8 * i:X}", i, m) for i, m in enumerate(msgs)],
        "lsn string, seq long, data binary",
    ).coalesce(1)
    rows = {
        r["after"]["id"]: dict(r["after"])
        for r in decode_pgoutput(raw, relations=pre)
        .filter("op = 'insert'")
        .collect()
    }
    assert rows["1"] == {"id": "1"}
    assert rows["2"] == {"id": "2", "name": "bob"}


def test_filter_by_origin_keep_local_false_drops_local(spark):
    """keep_local=False with filter_origins: local (originless) txns
    drop too — only foreign-origin txns NOT in the drop list pass
    (previously the flag was silently ignored; review r2)."""
    from pg_logical_replication_spark.operators.transactions import (
        filter_by_origin,
    )

    rows = [
        # txn 1: local
        ("begin", 0, 1), ("insert", 1, None),
        # txn 2: origin nodeA (dropped by list)
        ("begin", 2, 2), ("origin", 3, None), ("insert", 4, None),
        # txn 3: origin nodeB (kept)
        ("begin", 5, 3), ("origin", 6, None), ("insert", 7, None),
    ]
    data = []
    for op, seq, xid in rows:
        meta = (
            {"origin": "nodeA" if seq == 3 else "nodeB"}
            if op == "origin"
            else None
        )
        data.append((op, f"0/{16 + 8 * seq:X}", seq, xid, meta))
    ev = spark.createDataFrame(
        data, "op string, lsn string, seq long, xid long, meta map<string,string>"
    )
    out = filter_by_origin(
        ev, filter_origins=["nodeA"], keep_local=False
    ).filter("op = 'insert'").collect()
    assert [r["seq"] for r in out] == [7]
    # sanity: default keep_local=True keeps the local txn as well
    out2 = filter_by_origin(ev, filter_origins=["nodeA"]).filter(
        "op = 'insert'"
    ).collect()
    assert sorted(r["seq"] for r in out2) == [1, 7]


def test_wal2json_v2_markers_survive_table_pushdown(spark):
    """v2 B/C rows carry null table; table/action filters must keep the
    transaction framing like v1 does (review r2: the null predicate
    silently dropped every marker)."""
    lines = [
        '{"action":"B","xid":5,"lsn":"0/100"}',
        '{"action":"I","xid":5,"lsn":"0/108","schema":"public","table":"users",'
        '"columns":[{"name":"id","type":"bigint","value":1}]}',
        '{"action":"I","xid":5,"lsn":"0/110","schema":"public","table":"other",'
        '"columns":[{"name":"id","type":"bigint","value":2}]}',
        '{"action":"C","xid":5,"lsn":"0/118"}',
    ]
    raw = spark.createDataFrame([(line,) for line in lines], "value string")
    from pg_logical_replication_spark.sources.wal2json import decode_wal2json_v2

    out = decode_wal2json_v2(
        raw, include_transaction_markers=True, add_tables=["public.users"]
    ).collect()
    ops = sorted(r["op"] for r in out)
    assert ops == ["begin", "commit", "insert"]
    assert [r["after"]["id"] for r in out if r["op"] == "insert"] == ["1"]


def test_wal2json_v1_no_phantom_markers_for_bad_lines(spark):
    """An unparseable log line must not synthesize an all-null
    begin/commit pair when markers are requested (review r2)."""
    lines = _wal2json_lines() + ["THIS IS NOT JSON"]
    raw = spark.createDataFrame([(line,) for line in lines], "value string")
    out = decode(raw, "wal2json", include_transaction_markers=True)
    markers = out.filter("op in ('begin','commit')").collect()
    assert markers, "markers expected for the valid changesets"
    assert all(r["lsn"] is not None for r in markers)


def test_test_decoding_value_containing_split_literals(spark):
    """A quoted VALUE containing 'old-key:'/'new-tuple:' must not
    mis-split the row — the splitter is token-aware (review r2)."""
    lines = [
        "table public.t: UPDATE: msg[text]:'see old-key: a new-tuple: b' "
        "id[integer]:7",
        "table public.t: UPDATE: old-key: id[integer]:7 "
        "msg[text]:'x new-tuple: y' new-tuple: id[integer]:7 "
        "msg[text]:'z2'",
    ]
    raw = spark.createDataFrame(
        [(f"0/{16 + 8 * i:X}", line) for i, line in enumerate(lines)],
        "lsn string, value string",
    )
    rows = {  # keyed by lsn
        r["lsn"]: r
        for r in decode(raw, "test_decoding", lsn_col="lsn").collect()
    }
    plain = rows["0/10"]
    assert plain["after"] == {
        "msg": "see old-key: a new-tuple: b", "id": "7"
    }
    assert plain["key"] is None
    full = rows["0/18"]
    assert full["after"] == {"id": "7", "msg": "z2"}
    assert full["key"] == {"id": "7", "msg": "x new-tuple: y"}


def test_debezium_unknown_op_rows_drop(spark):
    """An unknown envelope op code drops the row instead of emitting a
    NULL op discriminator (review r2)."""
    lines = [
        '{"before":null,"after":{"id":"1"},"source":{"schema":"public",'
        '"table":"t","lsn":16,"txId":5},"op":"c","ts_ms":1000}',
        '{"before":null,"after":{"id":"2"},"source":{"schema":"public",'
        '"table":"t","lsn":24,"txId":6},"op":"x","ts_ms":2000}',
    ]
    raw = spark.createDataFrame([(line,) for line in lines], "value string")
    rows = decode(raw, "debezium").collect()
    assert len(rows) == 1 and rows[0]["op"] == "insert"
    assert all(r["op"] is not None for r in rows)


def test_wal2json_enrichment_columns_surface_in_meta(spark):
    """include-column-positions / include-type-oids / include-not-null /
    include-default / include-pk payloads (options type :38-59) surface
    as meta keys whenever the plugin emitted them."""
    line = (
        '{"change":[{"kind":"insert","schema":"public","table":"t",'
        '"columnnames":["id","name"],"columntypes":["integer","character varying(30)"],'
        '"columnvalues":[1,"a"],'
        '"columnpositions":[1,2],"columntypeoids":[23,1043],'
        '"columnoptionals":[false,true],'
        '"columndefaults":["nextval(\'t_id_seq\')",""],'
        '"pk":{"pknames":["id"],"pktypes":["integer"]}}],'
        '"xid":900,"nextlsn":"0/2000"}'
    )
    raw = spark.createDataFrame([(line,)], "value string")
    row = decode(raw, "wal2json").first()
    m = row["meta"]
    assert m["colpositions"] == "1,2"
    assert m["coltypeoids"] == "23,1043"
    assert m["coloptionals"] == "false,true"
    assert "t_id_seq" in m["coldefaults"]
    assert m["pknames"] == "id"
    assert m["pktypes"] == "integer"
    assert m["coltypes"] == "integer,character varying(30)"


def test_wal2json_include_typmod_false_strips_modifiers(spark):
    from pg_logical_replication_spark.sources.wal2json import decode_wal2json

    line = (
        '{"change":[{"kind":"insert","schema":"public","table":"t",'
        '"columnnames":["a","b"],"columntypes":["character varying(30)","numeric(10,2)"],'
        '"columnvalues":["x","1.5"]}],"xid":1,"nextlsn":"0/10"}'
    )
    raw = spark.createDataFrame([(line,)], "value string")
    row = decode_wal2json(raw, include_typmod=False).first()
    assert row["meta"]["coltypes"] == "character varying,numeric"
    # v2 equivalent
    v2 = (
        '{"action":"I","schema":"public","table":"t","lsn":"0/10",'
        '"columns":[{"name":"a","type":"character varying(30)","value":"x"}]}'
    )
    raw2 = spark.createDataFrame([(v2,)], "value string")
    row2 = decode_wal2json(raw2, include_typmod=False, format_version=2).first()
    assert row2["meta"]["coltypes"] == "character varying"


def test_wal2json_v1_message_kind_and_prefix_filters(spark):
    """kind='message' entries decode to op='message' with prefix/content
    meta; they are exempt from table predicates, and the msg-prefix
    options apply filter-before-add (options type :100-109)."""
    from pg_logical_replication_spark.sources.wal2json import decode_wal2json

    def msg(prefix, content, lsn):
        return (
            '{"change":[{"kind":"message","transactional":true,'
            f'"prefix":"{prefix}","content":"{content}"}}],'
            f'"xid":5,"nextlsn":"{lsn}"}}'
        )

    lines = [
        msg("keep", "k1", "0/10"),
        msg("drop", "d1", "0/18"),
        msg("other", "o1", "0/20"),
        '{"change":[{"kind":"insert","schema":"public","table":"t",'
        '"columnnames":["id"],"columntypes":["int"],"columnvalues":[1]}],'
        '"xid":6,"nextlsn":"0/28"}',
    ]
    raw = spark.createDataFrame([(x,) for x in lines], "value string")
    out = decode_wal2json(
        raw,
        add_tables=["public.t"],
        filter_msg_prefixes=["drop"],
        add_msg_prefixes=["keep", "drop"],
    ).collect()
    ops = sorted((r["op"], (r["meta"] or {}).get("prefix")) for r in out)
    # 'drop' excluded by the filter list (even though the add list has it),
    # 'other' excluded by the add list, insert passes add_tables, 'keep'
    # survives both AND the table predicate despite having no table
    assert ops == [("insert", None), ("message", "keep")]
    kept = [r for r in out if r["op"] == "message"][0]
    assert kept["meta"]["content"] == "k1"
    assert kept["meta"]["transactional"] == "true"


def test_wal2json_emission_toggles_supported_by_construction(spark):
    """The remaining plugin options are EMISSION-side toggles the
    declarative decoder absorbs without code (options type :1-80):

    * numeric-data-types-as-string — every scalar JSON value is read as
      StringType already; NOTE the one real difference: Spark's JSON
      reader normalizes numeric tokens (12.50 → '12.5'), so consumers
      needing the exact decimal text should enable the option server-
      side — exactly the consumer the plugin added it for;
    * pretty-print — from_json is whitespace-agnostic;
    * write-in-chunks — each chunk is a self-contained object with one
      change; the decoder treats it as a one-change changeset;
    * include-xids/-timestamp/-lsn=false — absent fields surface as
      nulls (lsn falls back to the lsn_col wire position when given).
    """
    from pg_logical_replication_spark.sources.wal2json import decode_wal2json

    plain = (
        '{"change":[{"kind":"insert","schema":"public","table":"t",'
        '"columnnames":["id","price"],"columntypes":["integer","numeric(8,2)"],'
        '"columnvalues":[7,12.50]}],"xid":9,"nextlsn":"0/100"}'
    )
    as_string = (
        '{"change":[{"kind":"insert","schema":"public","table":"t",'
        '"columnnames":["id","price"],"columntypes":["integer","numeric(8,2)"],'
        '"columnvalues":[7,"12.50"]}],"xid":9,"nextlsn":"0/100"}'
    )
    pretty = """{
      "change": [ {
        "kind": "insert", "schema": "public", "table": "t",
        "columnnames": ["id", "price"],
        "columntypes": ["integer", "numeric(8,2)"],
        "columnvalues": [7, 12.50]
      } ],
      "xid": 9, "nextlsn": "0/100"
    }""".replace("\n", " ")
    rows = {}
    for name, line in (("plain", plain), ("str", as_string), ("pretty", pretty)):
        raw = spark.createDataFrame([(line,)], "value string")
        rows[name] = decode_wal2json(raw).first()
    # pretty-print: byte-identical decode
    assert rows["pretty"]["after"] == rows["plain"]["after"]
    # numeric-as-string: numerically equal; exact text only in str mode
    assert float(rows["str"]["after"]["price"]) == float(
        rows["plain"]["after"]["price"]
    )
    assert rows["str"]["after"]["price"] == "12.50"   # exact text kept
    assert rows["plain"]["after"]["price"] == "12.5"  # reader-normalized
    for name in ("str", "pretty"):
        assert rows[name]["lsn_long"] == 0x100

    # write-in-chunks: one change per JSON doc, no xid on chunks
    chunks = [
        '{"change":[{"kind":"insert","schema":"public","table":"t",'
        '"columnnames":["id"],"columntypes":["int"],"columnvalues":[%d]}]}' % i
        for i in range(3)
    ]
    raw = spark.createDataFrame(
        [(c, f"0/{16 + 8 * i:X}") for i, c in enumerate(chunks)],
        "value string, wire_lsn string",
    )
    out = decode_wal2json(raw, lsn_col="wire_lsn").orderBy("lsn_long").collect()
    assert [r["after"]["id"] for r in out] == ["0", "1", "2"]
    assert [r["xid"] for r in out] == [None, None, None]
    assert out[0]["lsn"] == "0/10"


def test_wal2json_arbitrary_lines_never_crash(spark):
    """Robustness pin: ANY text line (malformed JSON, wrong shapes, null
    bytes excluded by the text source contract) decodes to zero-or-more
    rows — never a query failure; the rejects surface via dead_letters."""
    import random

    rng = random.Random(7)
    frag = ['{', '}', '[', ']', '"change"', ':', ',', '"kind"', '"insert"',
            'null', '-3', '1e99', '"\\u00e9"', 'true', '{"change":[]}',
            '{"change":[{"kind":"insert"}]}', '\\', '"x"']
    lines = ["".join(rng.choice(frag) for _ in range(rng.randrange(1, 12)))
             for _ in range(300)]
    from pg_logical_replication_spark.sources.registry import dead_letters

    raw = spark.createDataFrame([(x,) for x in lines if x.strip()], "value string")
    out = decode(raw, "wal2json")
    assert out.count() >= 0  # decode executes without raising
    dl = dead_letters(raw, "wal2json")
    assert dl.count() >= 0
    # every input line is accounted for: decoded rows' inputs + dead
    # letters ⊇ lines that contain a change array with entries
    v2 = decode(raw, "wal2json", format_version=2)
    assert v2.count() >= 0


# ------------------------------------------ chunked/pretty wal2json (r4)
def test_reassemble_pretty_printed_and_chunked_documents(spark):
    """write-in-chunks / pretty-print tolerant decode (r3 advice #4):
    fragments stitch back into whole documents JVM-side; braces inside
    string values must not confuse the depth scan; an incomplete
    trailing document is held back, not emitted broken."""
    import json

    from pg_logical_replication_spark.sources.wal2json import (
        decode_wal2json,
        reassemble_json_documents,
    )

    def doc(i, v):
        return {
            "change": [{
                "kind": "insert", "schema": "public", "table": "t",
                "columnnames": ["id", "v"],
                "columntypes": ["bigint", "text"],
                "columnvalues": [i, v],
            }],
            "nextlsn": f"0/{0x100 + 8 * i:X}",
        }

    rows, seq = [], 0
    # doc 0 pretty-printed; value contains braces AND an escaped quote
    for ln in json.dumps(doc(0, 'x{}}{"\\" brace'), indent=2).splitlines():
        rows.append((seq, ln)); seq += 1
    # doc 1 chunked header/change/footer
    s = json.dumps(doc(1, "plain"))
    ch = json.dumps(doc(1, "plain")["change"][0])
    head, tail = s.split(ch)
    for frag in (head, ch, tail):
        rows.append((seq, frag)); seq += 1
    # doc 2 whole
    rows.append((seq, json.dumps(doc(2, "z")))); seq += 1
    # incomplete tail (live stream caught mid-changeset)
    rows.append((seq + 1, '{"change":[{"kind":"ins'))

    raw = spark.createDataFrame(rows, "seq long, value string")
    re = reassemble_json_documents(raw)
    assert re.count() == 3  # incomplete doc held back
    dec = decode_wal2json(raw, reassemble_chunks=True)
    got = {
        r["after"]["id"]: r["after"]["v"]
        for r in dec.filter("op = 'insert'").collect()
    }
    assert got == {"0": 'x{}}{"\\" brace', "1": "plain", "2": "z"}


def test_reassemble_v2_chunked_actions(spark):
    """v2: each action object is its own document; chunked v2 fragments
    reassemble per action and decode through decode_wal2json_v2."""
    import json

    from pg_logical_replication_spark.sources.wal2json import decode_wal2json

    actions = [
        {"action": "B", "xid": 9},
        {"action": "I", "schema": "public", "table": "t",
         "columns": [{"name": "id", "type": "bigint", "value": 7}]},
        {"action": "C", "xid": 9},
    ]
    rows, seq = [], 0
    for a in actions:
        s = json.dumps(a)
        mid = s.index(",") + 1 if "," in s else len(s) // 2
        for frag in (s[:mid], s[mid:]):
            rows.append((seq, frag)); seq += 1
    raw = spark.createDataFrame(rows, "seq long, value string")
    dec = decode_wal2json(raw, format_version=2, reassemble_chunks=True,
                          include_transaction_markers=True)
    ops = [r["op"] for r in dec.orderBy("lsn_long", "seq").collect()]
    assert "insert" in ops
    ins = dec.filter("op = 'insert'").first()
    assert ins["after"]["id"] == "7"


def test_reassemble_chunks_streaming_across_microbatches(spark, tmp_path):
    """The STREAMING reassembly twin (applyInPandasWithState): a
    partial document carried in keyed state completes when its closing
    fragments arrive in a LATER micro-batch."""
    import json
    import os
    import time

    from pg_logical_replication_spark.sources.datasource import register
    from pg_logical_replication_spark.sources.wal2json import decode_wal2json

    register(spark)
    d = str(tmp_path / "log")
    os.makedirs(d)
    seg = os.path.join(d, "000001.log")

    def doc(i):
        return {
            "change": [{
                "kind": "insert", "schema": "public", "table": "t",
                "columnnames": ["id"], "columntypes": ["bigint"],
                "columnvalues": [i],
            }],
            "nextlsn": f"0/{0x100 + 8 * i:X}",
        }

    # batch 1: doc0 pretty-printed whole + doc1 header ONLY
    with open(seg, "w") as f:
        for ln in json.dumps(doc(0), indent=1).splitlines():
            f.write(ln + "\n")
        f.write('{"change":[\n')

    raw = (
        spark.readStream.format("pg_cdc").option("path", d).load()
        .select("seq", "value")
    )
    dec = decode_wal2json(raw, reassemble_chunks=True)
    got = []
    q = (
        dec.writeStream.foreachBatch(lambda df, _b: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(processingTime="150 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while not [r for r in got if r["op"] == "insert"] and time.time() < deadline:
            time.sleep(0.1)
        ids = [r["after"]["id"] for r in got if r["op"] == "insert"]
        assert ids == ["0"]  # doc1 still open — withheld

        # batch 2 (a later segment): doc1's change + footer complete
        # the document pending in state
        with open(os.path.join(d, "000002.log"), "w") as f:
            f.write(json.dumps(doc(1)["change"][0]) + "\n")
            f.write('],"nextlsn":"0/108"}\n')
        while len([r for r in got if r["op"] == "insert"]) < 2 and time.time() < deadline:
            time.sleep(0.1)
        ids = [r["after"]["id"] for r in got if r["op"] == "insert"]
        assert ids == ["0", "1"]
    finally:
        q.stop()


def test_wal2json_cosmetic_option_variants_decode(spark):
    """The three remaining cosmetic wal2json options (r3 'what's
    missing' #2 tail): numeric-data-types-as-string, include-lsn,
    include-domain-data-type all decode through the same schema —
    numbers and strings both stringify, missing nextlsn falls back to
    the wire LSN column, domain type names pass through verbatim."""
    import json

    from pg_logical_replication_spark.sources.wal2json import decode_wal2json

    rows = [
        # numeric values as JSON numbers (default)
        (0, "0/10", json.dumps({"change": [{
            "kind": "insert", "schema": "public", "table": "t",
            "columnnames": ["id", "price"],
            "columntypes": ["bigint", "numeric(10,2)"],
            "columnvalues": [1, 4.5],
        }]})),
        # numeric-data-types-as-string=on: values arrive as strings
        (1, "0/18", json.dumps({"change": [{
            "kind": "insert", "schema": "public", "table": "t",
            "columnnames": ["id", "price"],
            "columntypes": ["bigint", "numeric(10,2)"],
            "columnvalues": ["2", "4.50"],
        }]})),
        # include-domain-data-type=on: underlying domain type name
        (2, "0/20", json.dumps({"change": [{
            "kind": "insert", "schema": "public", "table": "t",
            "columnnames": ["id", "price"],
            "columntypes": ["bigint", "my_money_domain"],
            "columnvalues": [3, "9.99"],
        }]})),
    ]
    # include-lsn=off: no nextlsn in the JSON → wire lsn column used
    raw = spark.createDataFrame(rows, "seq long, lsn string, value string")
    dec = decode_wal2json(raw, lsn_col="lsn").filter("op = 'insert'")
    got = {r["after"]["id"]: r for r in dec.collect()}
    assert got["1"]["after"]["price"] == "4.5"     # number → canonical str
    assert got["2"]["after"]["price"] == "4.50"    # string preserved
    assert got["3"]["after"]["price"] == "9.99"
    assert got["1"]["lsn"] == "0/10" and got["3"]["lsn"] == "0/20"
    # include-lsn=on (v1: nextlsn emitted) wins over nothing — decode
    # without lsn_col uses it
    with_lsn = spark.createDataFrame(
        [(json.dumps({"change": [{
            "kind": "insert", "schema": "public", "table": "t",
            "columnnames": ["id"], "columntypes": ["bigint"],
            "columnvalues": [7],
        }], "nextlsn": "0/77"}),)],
        "value string",
    )
    r7 = decode_wal2json(with_lsn).filter("op = 'insert'").first()
    assert r7["lsn"] == "0/77"


def test_wal2json_cosmetic_options_serialize_for_start_replication():
    from pg_logical_replication_spark.sources.plugin_options import (
        start_replication_sql,
    )

    sql = start_replication_sql(
        "wal2json", "s1", "0/0",
        {
            "include-lsn": True,
            "numeric-data-types-as-string": True,
            "include-domain-data-type": False,
            "write-in-chunks": True,
            "pretty-print": True,
        },
    )
    for frag in (
        "\"include-lsn\" 'on'",
        "\"numeric-data-types-as-string\" 'on'",
        "\"include-domain-data-type\" 'off'",
        "\"write-in-chunks\" 'on'",
        "\"pretty-print\" 'on'",
    ):
        assert frag in sql, (frag, sql)


def test_reassemble_partitioned_by_segment_matches_global(spark):
    """partition_col (the per-frame-log-segment scale path the chunked
    headline query uses) must stitch the same documents as the global
    serial window when chunk boundaries don't cross segments."""
    import json

    from pg_logical_replication_spark.sources.wal2json import (
        reassemble_json_documents,
    )

    rows, seq = [], 0
    for i in range(40):
        s = json.dumps({"change": [], "xid": i})
        head, tail = s[: len(s) // 2], s[len(s) // 2:]
        for frag in (head, tail):
            rows.append((seq, seq // 20, frag))  # 10 docs per segment
            seq += 1
    raw = spark.createDataFrame(rows, "seq long, seg long, value string")
    glob = {r["value"] for r in
            reassemble_json_documents(raw.drop("seg")).collect()}
    part = reassemble_json_documents(raw, partition_col="seg")
    assert {r["value"] for r in part.collect()} == glob
    assert part.count() == 40


def test_wal2json_numeric_values_as_numbers_or_strings_decode_identically(spark):
    """The numeric-data-types-as-string / include-domain-data-type /
    include-lsn cosmetic options (wal2json-plugin-options.type.ts:33,
    :65-74) only change the JSON SHAPE: numbers vs quoted numbers,
    domain vs underlying type names, an extra nextlsn key. The decoder
    must produce identical events for both value shapes."""
    import json

    from pg_logical_replication_spark.sources.wal2json import decode_wal2json

    def doc(table, vals, types):
        return json.dumps({
            "change": [{
                "kind": "insert", "schema": "public", "table": table,
                "columnnames": ["id", "price", "note"],
                "columntypes": types,
                "columnvalues": vals,
            }],
            "nextlsn": "0/1A0",
        })

    # numeric-data-types-as-string OFF: raw JSON numbers; domain type
    as_numbers = doc("t_num", [7, 19.25, "x"],
                     ["bigint", "money_domain", "text"])
    # ON: every numeric quoted; include-domain-data-type ON: base type
    as_strings = doc("t_str", ["7", "19.25", "x"],
                     ["bigint", "numeric(10,2)", "text"])
    raw = spark.createDataFrame(
        [(0, as_numbers), (1, as_strings)], "seq long, value string"
    )
    rows = {r["table"]: r for r in decode_wal2json(raw).collect()}
    a, b = rows["t_num"], rows["t_str"]
    assert a["after"] == b["after"] == {"id": "7", "price": "19.25", "note": "x"}
    assert a["op"] == b["op"] == "insert" and a["lsn"] == b["lsn"] == "0/1A0"


def test_reassemble_random_fragmentation_property(spark):
    """Property: ANY fragmentation of a JSON document stream at
    structural boundaries (the plugin's chunking contract — never
    inside a string literal) reassembles to exactly the original
    documents. Randomized: 30 documents with brace-y/quote-y values,
    each split at 1-4 random token-safe points, seeded RNG."""
    import json
    import random
    import re

    from pg_logical_replication_spark.sources.wal2json import (
        reassemble_json_documents,
    )

    rng = random.Random(7)
    docs, rows, seq = [], [], 0
    for i in range(30):
        val = rng.choice(
            ['plain', 'br{ace}', 'q"uo\\"te', '\\\\back', '{"nested": [1]}',
             'unié', '[{]}']
        )
        s = json.dumps(
            {"change": [{"kind": "insert", "v": val, "n": i}], "xid": i}
        )
        docs.append(s)
        # token-safe split points: outside string literals. Find
        # positions just after structural chars in the stripped view.
        stripped_spans = []
        in_str, esc = False, False
        for pos, ch in enumerate(s):
            if in_str:
                if esc:
                    esc = False
                elif ch == "\\":
                    esc = True
                elif ch == '"':
                    in_str = False
                continue
            if ch == '"':
                in_str = True
            elif ch in ",:{}[] ":
                stripped_spans.append(pos + 1)
        cuts = sorted(rng.sample(stripped_spans,
                                 min(rng.randint(1, 4),
                                     len(stripped_spans))))
        prev = 0
        for c in cuts + [len(s)]:
            frag = s[prev:c]
            prev = c
            if frag:
                rows.append((seq, frag))
                seq += 1
    raw = spark.createDataFrame(rows, "seq long, value string")
    out = reassemble_json_documents(raw)
    got = sorted(
        re.sub(r"\s", "", r["value"]) for r in out.collect()
    )
    want = sorted(re.sub(r"\s", "", d) for d in docs)
    assert got == want


def _two_version_wire(spark):
    """A users table whose relation is re-announced mid-stream (ALTER
    TABLE … ADD COLUMN email), spread over many partitions: a partition
    holding only the v2-era insert must resolve v2 from the SUPPLIED
    versions, not an in-band 'R' it never saw. Returns (raw, v1, v2)."""
    ts = 1_755_000_000_000_000
    rel_v1 = pg.encode_relation(
        1001, "public", "users", [("id", 20), ("name", 25)],
        key_columns=["id"])
    rel_v2 = pg.encode_relation(
        1001, "public", "users",
        [("id", 20), ("name", 25), ("email", 25)],
        key_columns=["id"])
    msgs = [
        pg.encode_begin("00000000/00001000", ts, 700),
        rel_v1,
        pg.encode_insert(1001, [("t", "1"), ("t", "alice")]),
        pg.encode_commit("00000000/00001100", "00000000/00001101", ts),
        pg.encode_begin("00000000/00002000", ts, 701),
        rel_v2,  # ALTER TABLE users ADD COLUMN email
        pg.encode_insert(1001, [("t", "2"), ("t", "bob"), ("t", "b@x.io")]),
        pg.encode_commit("00000000/00002100", "00000000/00002101", ts),
    ]
    stream = [(f"00000000/{0x1000 + i:08X}", i, m)
              for i, m in enumerate(msgs)]
    raw = spark.createDataFrame(
        stream, "lsn string, seq long, data binary").repartition(8)

    def info(buf):
        tmp = {}
        pg.parse_message(buf, tmp)
        return tmp[1001]

    return raw, info(rel_v1), info(rel_v2)


def test_pgoutput_versioned_supplied_registry_matches_prescan(spark):
    """optimization r11: `relations=` accepts the pre-scan's own
    versioned shape (oid -> [(valid_from_seq, RelationInfo), ...]) —
    rows decode under the newest supplied schema <= their seq, row-
    identical to the pre-scan path at any parallelism. This is what
    lets the evolution fixtures skip the pre-scan collect over a wire
    they synthesized themselves."""
    from pg_logical_replication_spark.sources.pgoutput import (
        decode_pgoutput,
    )

    raw, v1, v2 = _two_version_wire(spark)
    versioned = {1001: [(1, v1), (5, v2)]}
    key = lambda r: (r["seq"],)  # noqa: E731
    got = sorted(
        decode_pgoutput(raw, relations=versioned).collect(), key=key)
    want = sorted(decode_pgoutput(raw).collect(), key=key)
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
    ins = {r["after"]["id"]: r["after"] for r in got
           if r["op"] == "insert"}
    assert ins["1"] == {"id": "1", "name": "alice"}
    assert ins["2"] == {"id": "2", "name": "bob", "email": "b@x.io"}


def test_pgoutput_registry_takes_tuple_versions_and_rejects_other_shapes(
    spark,
):
    """ADVICE r11: a TUPLE of (valid_from_seq, RelationInfo) versions is
    the versioned shape too (it was wrapped as one RelationInfo and
    failed inside the worker); any other entry raises a TypeError naming
    the oid before any Spark job runs."""
    import pytest

    from pg_logical_replication_spark.sources.pgoutput import (
        decode_pgoutput,
    )

    raw, v1, v2 = _two_version_wire(spark)
    key = lambda r: (r["seq"],)  # noqa: E731
    as_tuple = decode_pgoutput(raw, relations={1001: ((1, v1), (5, v2))})
    as_list = decode_pgoutput(raw, relations={1001: [(1, v1), (5, v2)]})
    assert [r.asDict() for r in sorted(as_tuple.collect(), key=key)] == [
        r.asDict() for r in sorted(as_list.collect(), key=key)
    ]
    for bad in ("users", (1, v1), [(1, v1), "v2"], {1: v1}):
        with pytest.raises(TypeError, match=r"relations\[1001\]"):
            decode_pgoutput(raw, relations={1001: bad})
