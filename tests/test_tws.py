"""transformWithStateInPandas txn assembly (Spark 4 ListState path).

Same scenarios as test_stateful_streaming's assembly tests, plus an
agreement check against the applyInPandasWithState implementation.
"""

import json

import pytest  # noqa: F401

# no protobuf skip: pg_logical_replication_spark appends the vendored
# mini-protobuf runtime (_vendor/pbshim) when google.protobuf is absent,
# so the transformWithState path runs everywhere

EVENT_SCHEMA = (
    "op string, lsn string, lsn_long long, seq long, xid long, "
    "commit_ts string, schema string, table string, "
    "key map<string,string>, before map<string,string>, "
    "after map<string,string>"
)


def _ev(op, lsn_long, seq, xid, table=None, after=None, commit_ts=None):
    return {
        "op": op, "lsn": f"0/{lsn_long:X}", "lsn_long": lsn_long, "seq": seq,
        "xid": xid, "commit_ts": commit_ts, "schema": "public", "table": table,
        "key": None, "before": None, "after": after,
    }


@pytest.fixture()
def rocksdb(spark):
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    yield spark
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


def test_tws_cross_batch_assembly_and_rollback_invisibility(rocksdb, tmp_path):
    import pyspark.sql.functions as F

    from pg_logical_replication_spark.streaming.tws import (
        assemble_transactions_tws,
    )

    spark = rocksdb
    src = tmp_path / "src"; src.mkdir()
    batch1 = [
        _ev("begin", 0x100, 0, 1),
        _ev("insert", 0x101, 1, 1, "users", {"id": "1", "v": "a"}),
        _ev("insert", 0x102, 2, 1, "users", {"id": "2", "v": "b"}),
    ]
    batch2 = [
        _ev("insert", 0x103, 3, 1, "users", {"id": "3", "v": "c"}),
        _ev("commit", 0x104, 4, 1, commit_ts="2026-08-13 00:00:05.000000"),
        _ev("begin", 0x200, 5, 2),
        _ev("insert", 0x201, 6, 2, "users", {"id": "9", "v": "never"}),
    ]
    for i, batch in enumerate([batch1, batch2]):
        with open(src / f"{i:03d}.jsonl", "w") as f:
            for e in batch:
                f.write(json.dumps(e) + "\n")

    raw = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("commit_ts", F.to_timestamp("commit_ts"))
    )
    out = assemble_transactions_tws(raw)
    q = (
        out.writeStream.format("memory").queryName("tws_asm")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from tws_asm order by lsn_long").collect()
    # txn 1 committed: all three rows, wire order, stamped
    assert [r["after"]["v"] for r in rows] == ["a", "b", "c"]
    assert all(r["xid"] == 1 and r["commit_ts"] is not None for r in rows)
    # txn 2 never committed: invisible
    assert not any(r["after"]["v"] == "never" for r in rows)


def test_tws_agrees_with_apply_in_pandas_with_state(rocksdb, tmp_path):
    """Both stateful backends produce the identical committed stream."""
    import pyspark.sql.functions as F

    from pg_logical_replication_spark.streaming.stateful import (
        assemble_transactions_stream,
    )
    from pg_logical_replication_spark.streaming.tws import (
        assemble_transactions_tws,
    )

    spark = rocksdb
    src = tmp_path / "src"; src.mkdir()
    batches = [
        [
            _ev("begin", 0x100, 0, 1),
            _ev("insert", 0x101, 1, 1, "users", {"id": "1", "v": "a"}),
            _ev("begin", 0x300, 2, 3),
            _ev("update", 0x301, 3, 3, "users", {"id": "7", "v": "x"}),
        ],
        [
            _ev("commit", 0x310, 4, 3, commit_ts="2026-08-13 00:00:06.000000"),
            _ev("delete", 0x102, 5, 1, "users", {"id": "1"}),
            _ev("commit", 0x110, 6, 1, commit_ts="2026-08-13 00:00:07.000000"),
        ],
    ]
    for i, batch in enumerate(batches):
        with open(src / f"{i:03d}.jsonl", "w") as f:
            for e in batch:
                f.write(json.dumps(e) + "\n")

    def run(op, name, ckpt):
        raw = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .withColumn("commit_ts", F.to_timestamp("commit_ts"))
        )
        q = (
            op(raw).writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return [
            tuple(r)
            for r in spark.sql(
                f"select op, lsn_long, seq, xid, commit_ts, after from {name} "
                "order by xid, lsn_long"
            ).collect()
        ]

    a = run(assemble_transactions_tws, "tws_cmp_a", "ckpt_a")
    b = run(assemble_transactions_stream, "tws_cmp_b", "ckpt_b")
    assert a == b
    assert len(a) == 3


def test_assemble_backends_agree_without_seq_or_meta(rocksdb, tmp_path):
    """Input with neither ``seq`` nor ``meta`` (a bare ChangeEvent
    projection): both backends run the one input projection, ordering
    by lsn_long with seq 0, instead of the aip form failing analysis."""
    import pyspark.sql.functions as F

    from pg_logical_replication_spark.streaming.stateful import (
        assemble_transactions_stream,
    )
    from pg_logical_replication_spark.streaming.tws import (
        assemble_transactions_tws,
    )

    spark = rocksdb
    schema = EVENT_SCHEMA.replace("seq long, ", "")
    src = tmp_path / "src"; src.mkdir()
    batches = [
        [_ev("begin", 0x100, 0, 1),
         _ev("insert", 0x102, 0, 1, "users", {"id": "2", "v": "b"})],
        [_ev("insert", 0x101, 0, 1, "users", {"id": "1", "v": "a"}),
         _ev("commit", 0x103, 0, 1, commit_ts="2026-08-13 00:00:05.000000")],
    ]
    for i, batch in enumerate(batches):
        with open(src / f"{i:03d}.jsonl", "w") as f:
            for e in batch:
                e.pop("seq")
                f.write(json.dumps(e) + "\n")

    def run(op, name):
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .withColumn("commit_ts", F.to_timestamp("commit_ts"))
        )
        q = (
            op(raw).writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / name))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return [
            (r["lsn_long"], r["seq"], r["after"]["v"])
            for r in spark.sql(f"select * from {name}").collect()
        ]

    aip = run(assemble_transactions_stream, "noseq_aip")
    tws = run(assemble_transactions_tws, "noseq_tws")
    assert aip == tws == [(0x101, 0, "a"), (0x102, 0, "b")]


def test_toast_fill_tws_agrees_with_apply_in_pandas(rocksdb, tmp_path):
    """Both stateful backends fill identically: cross-batch TOAST fill,
    explicit NULL overwrite, NULL never resurrected."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    from pg_logical_replication_spark.streaming.stateful import (
        toast_fill_stream,
    )
    from pg_logical_replication_spark.streaming.tws import toast_fill_tws

    spark = rocksdb
    schema = EVENT_SCHEMA + ", meta map<string,string>"
    src = tmp_path / "src"; src.mkdir()
    batches = [
        [dict(_ev("insert", 0x100, 0, 1, "users",
                  {"id": "1", "doc": "BIGDOC", "v": "a"}), meta=None)],
        [dict(_ev("update", 0x200, 1, 1, "users",
                  {"id": "1", "doc": None, "v": "b"}),
              meta={"unchanged_toast": "doc"})],
        [dict(_ev("update", 0x300, 2, 1, "users",
                  {"id": "1", "doc": None, "v": "c"}), meta=None)],
        [dict(_ev("update", 0x400, 3, 1, "users",
                  {"id": "1", "doc": None, "v": "d"}),
              meta={"unchanged_toast": "doc"})],
    ]
    base = _time.time() - 10_000
    for i, batch in enumerate(batches):
        p = src / f"{i:03d}.jsonl"
        with open(p, "w") as f:
            for e in batch:
                f.write(json.dumps(e) + "\n")
        os.utime(p, (base + i * 10, base + i * 10))

    def run(op, name, ckpt):
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .withColumn("commit_ts", F.to_timestamp("commit_ts"))
        )
        q = (
            op(raw, key_columns=["id"]).writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return {
            r["seq"]: dict(r["after"])
            for r in spark.sql(f"select * from {name}").collect()
        }

    a = run(toast_fill_tws, "toast_tws", "ck_t1")
    b = run(toast_fill_stream, "toast_aip", "ck_t2")
    assert a == b
    assert a[1] == {"id": "1", "doc": "BIGDOC", "v": "b"}
    assert a[3]["doc"] is None


def test_reassemble_tws_agrees_with_apply_in_pandas(rocksdb, tmp_path):
    """Chunked-JSON reassembly: a document split across THREE
    micro-batches completes identically on both backends (the ListState
    path appends fragments; the value-state path rewrites the carry)."""
    import os
    import time as _time

    from pg_logical_replication_spark.streaming.stateful import (
        reassemble_json_documents_stream,
    )
    from pg_logical_replication_spark.streaming.tws import (
        reassemble_json_documents_tws,
    )

    spark = rocksdb
    src = tmp_path / "src"; src.mkdir()
    doc = '{"change":[{"kind":"insert","columnvalues":["a{b}c"]}],"x":1}'
    # structural cut points only (the plugin's chunking contract: never
    # inside a string literal): after '{"change":[' and before ',"x":1}'
    cut1, cut2 = 11, len(doc) - 7
    batches = [
        [(0, '{"small":true}'), (1, doc[:cut1])],
        [(2, doc[cut1:cut2])],
        [(3, doc[cut2:]), (4, '{"tail":2}')],
    ]
    base = _time.time() - 10_000
    for i, batch in enumerate(batches):
        p = src / f"{i:03d}.jsonl"
        with open(p, "w") as f:
            for seq, frag in batch:
                f.write(json.dumps({"seq": seq, "value": frag}) + "\n")
        os.utime(p, (base + i * 10, base + i * 10))

    def run(op, name, ckpt):
        raw = (
            spark.readStream.schema("seq long, value string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            op(raw).writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return sorted(
            (r["seq"], r["value"])
            for r in spark.sql(f"select * from {name}").collect()
        )

    a = run(reassemble_json_documents_tws, "re_tws", "ck_r1")
    b = run(reassemble_json_documents_stream, "re_aip", "ck_r2")
    assert a == b
    assert (1, doc) in a and (0, '{"small":true}') in a and len(a) == 3


def test_pack_tws_agrees_with_apply_in_pandas(rocksdb, tmp_path):
    """Open packing bins continue across micro-batches identically on
    both backends (and bit-identically to the batch packer when arrival
    order == doc_id order)."""
    import os
    import time as _time

    from pg_logical_replication_spark.streaming.packing import (
        pack_sequences_stream,
    )
    from pg_logical_replication_spark.streaming.tws import pack_sequences_tws

    spark = rocksdb
    src = tmp_path / "src"; src.mkdir()
    docs = [(i, "tok " * (3 + i % 5)) for i in range(40)]
    base = _time.time() - 10_000
    for b_i in range(4):
        p = src / f"{b_i:03d}.jsonl"
        with open(p, "w") as f:
            for i, text in docs[b_i * 10:(b_i + 1) * 10]:
                f.write(json.dumps({"doc_id": i, "text": text}) + "\n")
        os.utime(p, (base + b_i * 10, base + b_i * 10))

    def run(op, name, ckpt):
        raw = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            op(raw, budget=16, bucket_size=20)
            .writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return sorted(
            tuple(r)
            for r in spark.sql(
                f"select doc_id, bin_id, bin_seq from {name}"
            ).collect()
        )

    a = run(pack_sequences_tws, "pk_tws", "ck_p1")
    b = run(pack_sequences_stream, "pk_aip", "ck_p2")
    assert a == b and len(a) == 40


def _sev(op, lsn_long, seq, xid, top=None, sub=None, after=None,
         commit_ts=None):
    e = _ev(op, lsn_long, seq, xid, "users" if after else None, after,
            commit_ts)
    meta = {}
    if top is not None:
        meta["stream_top_xid"] = str(top)
    if sub is not None:
        meta["subxid"] = str(sub)
    e["meta"] = meta or None
    return e


def test_stream_gate_tws_agrees_with_apply_in_pandas(rocksdb, tmp_path):
    """The ListState streamed-txn gate == the applyInPandasWithState
    gate on the full scenario matrix: cross-batch buffering, subxact
    abort, top-level abort, streamed 2PC commit+rollback, plain v1
    passthrough, and fate re-emission for plain-2PC keys."""
    import os
    import time as _time

    import pyspark.sql.functions as F

    from pg_logical_replication_spark.streaming.stateful import (
        resolve_streamed_stream,
    )
    from pg_logical_replication_spark.streaming.tws import (
        resolve_streamed_tws,
    )

    spark = rocksdb
    schema = EVENT_SCHEMA + ", meta map<string,string>"
    batches = [
        [
            _sev("insert", 0x101, 1, 100, top=100, after={"id": "1", "v": "keep"}),
            _sev("insert", 0x102, 2, 101, top=100, after={"id": "2", "v": "subdrop"}),
            _sev("insert", 0x201, 3, 200, top=200, after={"id": "9", "v": "topdrop"}),
            _sev("insert", 0x301, 4, 300, after={"id": "5", "v": "plain"}),
            _sev("insert", 0x401, 5, 400, top=400, after={"id": "7", "v": "kept2pc"}),
            _sev("stream_prepare", 0x402, 6, 400),
        ],
        [
            # more rows for the still-open txn 100 (cross-batch append)
            _sev("insert", 0x103, 7, 100, top=100, after={"id": "3", "v": "keep2"}),
            _sev("stream_abort", 0x110, 8, 100, sub=101),
            _sev("insert", 0x501, 9, 500, top=500, after={"id": "8", "v": "rolled2pc"}),
            _sev("stream_prepare", 0x502, 10, 500),
        ],
        [
            _sev("stream_commit", 0x111, 11, 100,
                 commit_ts="2026-08-13 00:00:07.000000"),
            _sev("stream_abort", 0x210, 12, 200, sub=200),
            _sev("commit_prepared", 0x410, 13, 400,
                 commit_ts="2026-08-13 00:00:09.000000"),
            _sev("rollback_prepared", 0x510, 14, 500),
            # plain-2PC fate with no streamed state: re-emitted
            _sev("commit_prepared", 0x610, 15, 600,
                 commit_ts="2026-08-13 00:00:11.000000"),
        ],
    ]
    src = tmp_path / "src"; src.mkdir()
    base = _time.time() - 10_000
    for i, batch in enumerate(batches):
        p = src / f"{i:03d}.jsonl"
        with open(p, "w") as f:
            for e in batch:
                f.write(json.dumps(e) + "\n")
        os.utime(p, (base + i * 10, base + i * 10))

    def run(op, name, ckpt):
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .withColumn("commit_ts", F.to_timestamp("commit_ts"))
        )
        q = (
            op(raw).writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return sorted(
            (r["op"], r["lsn_long"], r["xid"],
             str(r["commit_ts"]), r["after"]["v"] if r["after"] else None)
            for r in spark.sql(f"select * from {name}").collect()
        )

    a = run(resolve_streamed_tws, "sg_tws", "ck_g1")
    b = run(resolve_streamed_stream, "sg_aip", "ck_g2")
    assert a == b
    vs = [x[4] for x in a]
    assert "keep" in vs and "keep2" in vs and "plain" in vs and "kept2pc" in vs
    assert "subdrop" not in vs and "topdrop" not in vs and "rolled2pc" not in vs
    # the unmatched plain-2PC fate re-emitted on both paths
    assert any(x[0] == "commit_prepared" and x[2] == 600 for x in a)


def test_stream_gate_tws_prepare_only_key_agrees(rocksdb, tmp_path):
    """Round-6 review #3: a key whose FIRST batch contains only
    stream_prepare (zero DML reached the gate) must behave identically
    on both backends when its commit_prepared arrives later — the aip
    twin arms state unconditionally and swallows the empty flush; the
    tws twin must not take the fate-only re-emit branch."""
    import os
    import time as _time

    import pyspark.sql.functions as F

    from pg_logical_replication_spark.streaming.stateful import (
        resolve_streamed_stream,
    )
    from pg_logical_replication_spark.streaming.tws import (
        resolve_streamed_tws,
    )

    spark = rocksdb
    schema = EVENT_SCHEMA + ", meta map<string,string>"
    batches = [
        [_sev("stream_prepare", 0x402, 1, 400)],
        [_sev("commit_prepared", 0x410, 2, 400,
              commit_ts="2026-08-13 00:00:09.000000")],
    ]
    src = tmp_path / "src"; src.mkdir()
    base = _time.time() - 10_000
    for i, batch in enumerate(batches):
        p = src / f"{i:03d}.jsonl"
        with open(p, "w") as f:
            for e in batch:
                f.write(json.dumps(e) + "\n")
        os.utime(p, (base + i * 10, base + i * 10))

    def run(op, name, ckpt):
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .withColumn("commit_ts", F.to_timestamp("commit_ts"))
        )
        q = (
            op(raw).writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return sorted(
            (r["op"], r["xid"]) for r in spark.sql(f"select * from {name}").collect()
        )

    a = run(resolve_streamed_tws, "po_tws", "ck_po1")
    b = run(resolve_streamed_stream, "po_aip", "ck_po2")
    assert a == b == []  # empty flush swallowed on BOTH paths


def test_resolve_gate_backend_auto_picks_by_expected_txn_rows(rocksdb, tmp_path):
    """VERDICT r6 #7: the measured aip-vs-ListState crossover as a flag.
    backend='auto' stays on applyInPandasWithState with no estimate or a
    small one, and switches to the transformWithStateInPandas ListState
    twin at/above TXN_GATE_LISTSTATE_CROSSOVER_ROWS; both backends agree
    on the scenario matrix (cross-batch buffer, subxact abort, plain
    passthrough)."""
    import os
    import time as _time

    import pyspark.sql.functions as F

    from pg_logical_replication_spark.streaming.stateful import (
        TXN_GATE_LISTSTATE_CROSSOVER_ROWS,
        resolve_streamed_gate,
        resolve_transactions_gate,
    )

    spark = rocksdb
    schema = EVENT_SCHEMA + ", meta map<string,string>"
    batches = [
        [
            _sev("insert", 0x101, 1, 100, top=100, after={"id": "1", "v": "keep"}),
            _sev("insert", 0x102, 2, 101, top=100, after={"id": "2", "v": "subdrop"}),
            _sev("insert", 0x301, 3, 300, after={"id": "5", "v": "plain"}),
        ],
        [
            _sev("stream_abort", 0x110, 4, 100, sub=101),
            _sev("stream_commit", 0x111, 5, 100,
                 commit_ts="2026-08-13 00:00:07.000000"),
        ],
    ]
    src = tmp_path / "src"; src.mkdir()
    base = _time.time() - 10_000
    for i, batch in enumerate(batches):
        p = src / f"{i:03d}.jsonl"
        with open(p, "w") as f:
            for e in batch:
                f.write(json.dumps(e) + "\n")
        os.utime(p, (base + i * 10, base + i * 10))

    def raw():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .withColumn("commit_ts", F.to_timestamp("commit_ts"))
        )

    def plan_of(df):
        return df._jdf.queryExecution().logical().toString()

    # backend pick is visible in the logical plan node
    for gate in (resolve_streamed_gate, resolve_transactions_gate):
        assert "FlatMapGroupsInPandasWithState" in plan_of(gate(raw()))
        assert "FlatMapGroupsInPandasWithState" in plan_of(
            gate(raw(), expected_txn_rows=TXN_GATE_LISTSTATE_CROSSOVER_ROWS - 1)
        )
        assert "TransformWithStateIn" in plan_of(
            gate(raw(), expected_txn_rows=TXN_GATE_LISTSTATE_CROSSOVER_ROWS)
        )
        # explicit backend overrides the estimate
        assert "TransformWithStateIn" in plan_of(gate(raw(), backend="tws"))
        assert "FlatMapGroupsInPandasWithState" in plan_of(
            gate(raw(), backend="aip", expected_txn_rows=10**9)
        )
        with pytest.raises(ValueError, match="backend"):
            gate(raw(), backend="rocksdb")

    # agreement: auto-small (aip) == auto-huge (tws) on the scenario
    def run(df, name, ckpt):
        q = (
            df.writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return sorted(
            (r["op"], r["lsn_long"], r["xid"],
             str(r["commit_ts"]), r["after"]["v"] if r["after"] else None)
            for r in spark.sql(f"select * from {name}").collect()
        )

    a = run(resolve_streamed_gate(raw()), "g_auto_aip", "ck_a1")
    b = run(
        resolve_streamed_gate(raw(), expected_txn_rows=10**6),
        "g_auto_tws", "ck_a2",
    )
    assert a == b
    vs = [x[4] for x in a]
    assert "keep" in vs and "plain" in vs and "subdrop" not in vs


def test_near_dup_gate_tws_agrees_with_builtin(rocksdb, tmp_path):
    """tws twin of the MinHash band gate: same claimed-band verdicts as
    the dropDuplicatesWithinWatermark form on a cross-batch scenario —
    original claims all bands, a later near-duplicate loses band(s),
    an unrelated doc is novel."""
    import os

    from pg_logical_replication_spark.streaming.dedup import (
        near_dup_gate_rollup,
        stream_near_dup_gate,
    )
    from pg_logical_replication_spark.streaming.tws import (
        stream_near_dup_gate_tws,
    )

    spark = rocksdb
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight")
    near = base.replace("dark", "cold")
    other = ("completely different text about spark structured "
             "streaming state stores and watermark eviction rules")

    schema = "doc_id long, text string, ts timestamp"

    def write_batches(d):
        os.makedirs(d)
        with open(os.path.join(d, "b0.jsonl"), "w") as f:
            f.write(json.dumps(
                {"doc_id": 1, "text": base, "ts": "2024-01-01 00:00:00"}
            ) + "\n")
        with open(os.path.join(d, "b1.jsonl"), "w") as f:
            for rid, text in [(2, near), (3, other)]:
                f.write(json.dumps(
                    {"doc_id": rid, "text": text,
                     "ts": "2024-01-01 00:10:00"}) + "\n")

    def run(gate_fn, d, ckpt, **kw):
        verdicts = {}

        def sink(df, _b):
            for r in near_dup_gate_rollup(df, n_bands=4).collect():
                verdicts[r["doc_id"]] = (r["n_claimed"], r["novel"])

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).json(d)
        )
        q = (
            gate_fn(stream, **kw)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()  # blocking: availableNow terminates on drain
        return verdicts

    d1 = str(tmp_path / "docs_builtin")
    d2 = str(tmp_path / "docs_tws")
    write_batches(d1)
    write_batches(d2)
    builtin = run(stream_near_dup_gate, d1, str(tmp_path / "cp1"),
                  watermark="1 hour")
    tws = run(stream_near_dup_gate_tws, d2, str(tmp_path / "cp2"))

    assert builtin == tws
    assert tws[1] == (4, True)          # first doc claims all 4 bands
    assert not tws[2][1] and tws[2][0] < 4   # near-dup lost band(s)
    assert tws[3] == (4, True)          # unrelated doc is novel


def test_near_dup_gate_tws_null_id_passes_through(rocksdb, tmp_path):
    """A malformed row with doc_id NULL must not kill the query: the
    claim emits with a null id (matching the built-in form) and later
    claims on the same bands are still suppressed."""
    import os

    from pg_logical_replication_spark.streaming.tws import (
        stream_near_dup_gate_tws,
    )

    spark = rocksdb
    d = str(tmp_path / "docs"); os.makedirs(d)
    text = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight")
    with open(os.path.join(d, "b0.jsonl"), "w") as f:
        f.write(json.dumps(
            {"doc_id": None, "text": text, "ts": "2024-01-01 00:00:00"}
        ) + "\n")
    with open(os.path.join(d, "b1.jsonl"), "w") as f:
        f.write(json.dumps(
            {"doc_id": 7, "text": text, "ts": "2024-01-01 00:10:00"}
        ) + "\n")

    claims = []

    def sink(df, _b):
        claims.extend(df.collect())

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1).json(d)
    )
    q = (
        stream_near_dup_gate_tws(stream)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the null-id doc claimed all 4 bands; the identical doc 7 claims none
    assert len(claims) == 4
    assert all(r["doc_id"] is None for r in claims)


def test_near_dup_gate_tws_string_ids(rocksdb, tmp_path):
    """The twin must keep stream_near_dup_gate's type-agnostic id
    contract: string (UUID-ish) doc ids flow through the stateful
    processor and the output schema unchanged."""
    import os

    from pg_logical_replication_spark.streaming.dedup import (
        near_dup_gate_rollup,
    )
    from pg_logical_replication_spark.streaming.tws import (
        stream_near_dup_gate_tws,
    )

    spark = rocksdb
    d = str(tmp_path / "docs"); os.makedirs(d)
    text = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight")
    with open(os.path.join(d, "b0.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": "uuid-aaa", "text": text,
                            "ts": "2024-01-01 00:00:00"}) + "\n")
    with open(os.path.join(d, "b1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": "uuid-bbb", "text": text,
                            "ts": "2024-01-01 00:10:00"}) + "\n")

    verdicts = {}

    def sink(df, _b):
        for r in near_dup_gate_rollup(df, n_bands=4).collect():
            verdicts[r["doc_id"]] = (r["n_claimed"], r["novel"])

    stream = (
        spark.readStream.schema("doc_id string, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1).json(d)
    )
    q = (
        stream_near_dup_gate_tws(stream)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert verdicts["uuid-aaa"] == (4, True)
    # the identical doc loses ALL its bands to uuid-aaa: no claimed rows
    # reach the rollup at all
    assert "uuid-bbb" not in verdicts


def test_conflict_monitor_tws_agrees_with_batch(rocksdb, tmp_path):
    """Streaming conflict monitor: last emission per (win,key) equals
    the batch per-key aggregate of q_cdc_update_conflicts' first stage,
    across a cross-batch scenario where the conflict only becomes
    visible in the second micro-batch."""
    import os

    from pyspark.sql import functions as F

    from pg_logical_replication_spark.streaming.tws import (
        conflict_monitor_tws,
    )

    spark = rocksdb
    # window 0: key 1 -> origins 0 (eid 30, batch 0) then 1 (eid 31,
    # batch 1): conflict appears in batch 1. key 2 -> origin 0 twice:
    # never a conflict. window 1: key 1 conflicted within one batch.
    b0 = [(30, 1), (33, 2), (130, 1)]
    b1 = [(31, 1), (36, 2), (131, 1), (134, 1)]
    d = str(tmp_path / "ev")
    os.makedirs(d)
    for i, batch in enumerate([b0, b1]):
        with open(os.path.join(d, f"b{i}.jsonl"), "w") as f:
            for eid, uid in batch:
                f.write(json.dumps({"event_id": eid, "user_id": uid}) + "\n")

    stream = (
        spark.readStream.schema("event_id long, user_id long")
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    emissions = []

    def sink(df, bid):
        emissions.extend((bid, r) for r in df.collect())

    q = (
        conflict_monitor_tws(stream)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    last = {}
    for _bid, r in emissions:
        last[(r.win, r.user_id)] = (r.n_writes, r.winner_origin)

    # batch reference: same fold over the full event set
    ev = spark.createDataFrame(b0 + b1, "event_id long, user_id long")
    batch_rows = (
        ev.select(
            F.expr("event_id div 100").alias("win"),
            (F.col("event_id") % 3).alias("origin"),
            "user_id",
            "event_id",
        )
        .groupBy("win", "user_id")
        .agg(
            F.min("origin").alias("o_min"),
            F.max("origin").alias("o_max"),
            F.count("*").alias("n_writes"),
            F.max_by("origin", "event_id").alias("winner_origin"),
        )
        .filter(F.col("o_min") != F.col("o_max"))
        .collect()
    )
    want = {
        (r.win, r.user_id): (r.n_writes, r.winner_origin)
        for r in batch_rows
    }
    assert last == want
    # the cross-batch conflict (win 0, key 1) was only emitted once the
    # second origin arrived — batch 0 must not contain it
    assert all(
        not (r.win == 0 and r.user_id == 1) for bid, r in emissions if bid == 0
    )
    # key 2 (single origin) never emits
    assert all(r.user_id != 2 for _bid, r in emissions)


def test_lateness_monitor_tws_agrees_with_batch_replay(rocksdb, tmp_path):
    """Per-type running watermark + lateness census across micro-
    batches: last emission per type equals a batch prefix-max replay in
    arrival order; the cross-batch case (late event arrives in batch 1
    against batch 0's watermark) is the interesting leg."""
    import os

    from pyspark.sql import functions as F

    from pg_logical_replication_spark.streaming.tws import (
        lateness_monitor_tws,
    )

    spark = rocksdb
    # arrival order = event_id; ts in us-scale ints rendered as ts
    # strings. type 'a': event 2 arrives LATE (older ts) in batch 1.
    b0 = [(1, "a", "2024-01-01 00:10:00"), (2, "b", "2024-01-01 00:05:00")]
    b1 = [(3, "a", "2024-01-01 00:01:00"),  # late vs a's watermark
          (4, "a", "2024-01-01 00:20:00"),
          (5, "b", "2024-01-01 00:06:00")]  # on time
    d = str(tmp_path / "ev")
    os.makedirs(d)
    for i, batch in enumerate([b0, b1]):
        with open(os.path.join(d, f"b{i}.jsonl"), "w") as f:
            for eid, et, ts in batch:
                f.write(json.dumps(
                    {"event_id": eid, "event_type": et, "ts": ts}) + "\n")

    stream = (
        spark.readStream.schema("event_id long, event_type string, ts string")
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    emissions = []
    q = (
        lateness_monitor_tws(stream)
        .writeStream.foreachBatch(
            lambda df, bid: emissions.extend(df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    last = {r.event_type: r for r in emissions}  # later emissions overwrite

    # batch replay: prefix max over arrival order per type
    rows = b0 + b1
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts string"
    )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    rep = (
        df.select(
            "event_type",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
        .withColumn("prev_wm", F.max("ts_us").over(w))
        .withColumn(
            "late_us",
            F.when(
                F.col("ts_us") < F.col("prev_wm"),
                F.col("prev_wm") - F.col("ts_us"),
            ).otherwise(F.lit(0)),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0)).alias(
                "n_late"
            ),
            F.max("late_us").alias("max_late_us"),
            F.max("ts_us").alias("watermark_us"),
        )
        .collect()
    )
    want = {r.event_type: r for r in rep}
    for et in want:
        g, e = last[et], want[et]
        assert (g.n_events, g.n_late, g.max_late_us, g.watermark_us) == (
            e.n_events, e.n_late, e.max_late_us, e.watermark_us
        ), et
    # the late event was only visible cross-batch
    assert last["a"].n_late == 1 and last["b"].n_late == 0


def test_schema_change_monitor_tws_agrees_with_batch_log(rocksdb, tmp_path):
    """NINTH tws twin (round 9): relation announcements spanning
    micro-batches emit one change record per VERSION — cross-batch diffs
    against state, cache-refresh re-announcements folded away — and the
    full emission set equals the batch schema_change_log fold on the
    same wire. DML rows never reach the stateful op (pre-filtered)."""
    import os

    from pg_logical_replication_spark.operators.schema_evolution import (
        schema_change_log,
    )
    from pg_logical_replication_spark.sources import pgoutput_format as pgf
    from pg_logical_replication_spark.sources.pgoutput import decode_pgoutput
    from pg_logical_replication_spark.streaming.tws import (
        schema_change_monitor_tws,
    )

    spark = rocksdb
    OID = 61002

    def rel(seq, cols):
        return (seq, pgf.encode_relation(
            OID, "public", "t", cols, key_columns=["id"]))

    v1 = [("id", 20)]
    v2 = [("id", 20), ("v", 23)]
    v3 = [("id", 20), ("v", 20)]   # widen integer -> bigint
    v4 = [("id", 20)]              # drop v
    b0 = [rel(0, v1),
          (1, pgf.encode_insert(OID, [("t", "1")])),
          rel(2, v1)]              # re-announce: cache refresh, no emit
    b1 = [rel(10, v2),
          (11, pgf.encode_insert(OID, [("t", "2"), ("t", "42")])),
          rel(12, v3),
          rel(13, v3),             # refresh again, cross-checked in-batch
          rel(14, v4)]

    def wire_df(rows):
        return spark.createDataFrame(
            [(f"0/{s * 8 + 16:X}", s, bytearray(d)) for s, d in rows],
            "lsn string, seq long, data binary",
        )

    d = str(tmp_path / "wire")
    os.makedirs(d)
    for i, batch in enumerate([b0, b1]):
        wire_df(batch).coalesce(1).write.parquet(f"{d}/f{i}")
    stream = (
        spark.readStream.schema("lsn string, seq long, data binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/f*")
    )
    emissions = []
    q = (
        schema_change_monitor_tws(decode_pgoutput(stream))
        .writeStream.foreachBatch(
            lambda df, bid: emissions.extend((bid, r) for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    key = lambda r: (  # noqa: E731
        r.version, r.lsn_long, r.n_columns, r.added, r.dropped, r.widened
    )
    got = sorted(key(r) for _bid, r in emissions)
    # exactly one record per version; refreshes emitted nothing
    assert [g[0] for g in got] == [1, 2, 3, 4]
    # the cross-batch property: v1 emitted from batch 0, the rest later
    assert {bid for bid, r in emissions if r.version == 1} == {0}
    assert {bid for bid, r in emissions if r.version > 1} == {1}
    # agreement with the batch fold on the identical wire
    batch_log = schema_change_log(
        decode_pgoutput(wire_df(b0 + b1)), table="t"
    ).collect()
    want = sorted(key(r) for r in batch_log)
    assert got == want
    v3_row = next(r for _b, r in emissions if r.version == 3)
    assert v3_row.widened == "v:integer->bigint"
    v4_row = next(r for _b, r in emissions if r.version == 4)
    assert v4_row.dropped == "v" and v4_row.n_columns == 1


def test_net_changes_tws_agrees_with_batch_squash(rocksdb, tmp_path):
    """TENTH tws twin: per-key net-effect records across micro-batches.
    The last emission per key must equal the batch net_changes squash
    over the drained stream — including a cross-batch insert..delete
    cancellation — and the fold must be batch-boundary-independent."""
    import os

    from pg_logical_replication_spark.operators.apply_changes import (
        net_changes,
    )
    from pg_logical_replication_spark.streaming.tws import net_changes_tws

    spark = rocksdb
    # (key, op, lsn) — key 1 nets insert, key 2 cancels ACROSS batches,
    # key 3 nets delete, key 4 nets update, key 5 single insert
    b0 = [(1, "insert", 10), (2, "insert", 20), (3, "update", 30)]
    b1 = [(1, "update", 40), (4, "update", 50), (3, "delete", 60)]
    b2 = [(2, "delete", 70), (4, "update", 80), (5, "insert", 90)]
    schema = "user_id long, op string, lsn_long long"

    d = str(tmp_path / "src")
    os.makedirs(d)
    for i, batch in enumerate([b0, b1, b2]):
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(
            f"{d}/f{i}"
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/f*")
    )
    emissions = []
    q = (
        net_changes_tws(stream, key_col="user_id")
        .writeStream.foreachBatch(
            lambda df, bid: emissions.extend((bid, r) for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    last = {}
    for bid, r in sorted(emissions, key=lambda e: e[0]):
        last[r.k] = (r.net_op, r.n_changes, r.first_lsn_long, r.last_lsn_long)

    # batch squash over the identical drained stream
    rows = [
        ("public", "t", op, lsn, {"user_id": str(k)},
         None if op == "delete" else {"user_id": str(k)})
        for batch in (b0, b1, b2) for (k, op, lsn) in batch
    ]
    ch = spark.createDataFrame(
        rows,
        "schema string, `table` string, op string, lsn_long long, "
        "key map<string,string>, after map<string,string>",
    )
    want = {
        r["_identity"][0]: (
            r.net_op, r.n_changes, r.first_lsn_long, r.last_lsn_long
        )
        for r in net_changes(ch, key_columns=["user_id"]).collect()
    }
    assert last == want
    # the cross-batch cancellation specifically: key 2 net 'none'
    assert last["2"][0] == "none"
    # and every key re-emitted monotone refinements, never regressions
    assert {r.k for _b, r in emissions} == set("12345")
