"""Property test: resolve_transactions over random interleavings of
atomic wire blocks (v1 txns, plain 2PC frames, streamed segments incl.
streamed 2PC, with commit/rollback fates and subxact aborts) must equal
the per-transaction ground truth.

Wire model (matches the walsender's): each transaction's body is one or
more ATOMIC blocks (b..P frame, S..E segment, begin..commit frame);
blocks of different txns interleave freely, but never nest; every fate
row comes after its transaction's last body block. A begin..commit
frame may carry an origin message right after its begin (a change
replicated from another node), which filter_by_origin attributes to
that frame.
"""

import random

import pytest

from pg_logical_replication_spark.operators.transactions import (
    filter_by_origin,
    resolve_transactions,
)
from pg_logical_replication_spark.sources import pgoutput_format as fmt
from pg_logical_replication_spark.sources.pgoutput import decode_pgoutput

OID = 77001
TS_US = 1_700_000_000_000_000


def _wire_and_truth(rng: random.Random):
    """Random transactions -> (wire messages, expected surviving ids)."""
    n_txn = rng.randint(2, 6)
    body_blocks = []  # list of (txn_order_key, [msgs])
    fates = []        # [(txn, [msgs])] appended after all bodies
    expected = set()
    rel = fmt.encode_relation(
        OID, "public", "docs", [("id", 20)], key_columns=["id"]
    )
    next_id = 0
    for t_i in range(n_txn):
        xid = 1000 + t_i
        shape = rng.choice(["v1", "2pc", "streamed", "streamed2pc"])
        commit = rng.random() < 0.6
        n_rows = rng.randint(0, 4)
        ids = [str(next_id + k) for k in range(n_rows)]
        next_id += n_rows
        gid = f"g{xid}"
        if shape == "v1":
            msgs = [fmt.encode_begin(f"0/{xid:X}", TS_US, xid)]
            if rng.random() < 0.5:
                msgs.append(fmt.encode_origin(
                    f"0/{xid:X}", rng.choice(["node_a", "node_b"])))
            msgs += [fmt.encode_insert(OID, [("t", i)]) for i in ids]
            msgs += [fmt.encode_commit(f"0/{xid:X}", f"0/{xid + 8:X}", TS_US)]
            body_blocks.append(msgs)
            # v1 rows pass resolve_transactions untouched regardless of
            # commit presence — assembly gating is a different operator
            expected.update(ids)
        elif shape == "2pc":
            msgs = [fmt.encode_begin_prepare(
                f"0/{xid:X}", f"0/{xid + 8:X}", TS_US, xid, gid)]
            msgs += [fmt.encode_insert(OID, [("t", i)]) for i in ids]
            msgs += [fmt.encode_prepare(
                f"0/{xid:X}", f"0/{xid + 8:X}", TS_US, xid, gid)]
            body_blocks.append(msgs)
            if commit:
                fates.append([fmt.encode_commit_prepared(
                    f"0/{xid:X}", f"0/{xid + 8:X}", TS_US + 1, xid, gid)])
                expected.update(ids)
            else:
                fates.append([fmt.encode_rollback_prepared(
                    f"0/{xid:X}", f"0/{xid + 8:X}", TS_US, TS_US + 2, xid, gid)])
        else:  # streamed / streamed2pc
            subabort = rng.random() < 0.4
            subxid = xid + 5000
            # split rows into 1-2 segments
            cut = rng.randint(0, n_rows)
            segs = [ids[:cut], ids[cut:]] if n_rows and rng.random() < 0.5 else [ids]
            for s_i, seg in enumerate(segs):
                msgs = [fmt.encode_stream_start(xid, first_segment=(s_i == 0))]
                for i in seg:
                    owner = subxid if (subabort and rng.random() < 0.5) else xid
                    msgs.append(fmt.with_stream_xid(
                        owner, fmt.encode_insert(OID, [("t", i)])))
                    if commit and owner == xid:
                        expected.add(i)
                msgs.append(fmt.encode_stream_stop())
                body_blocks.append(msgs)
            fate_msgs = []
            if subabort:
                fate_msgs.append(fmt.encode_stream_abort(xid, subxid))
            if shape == "streamed2pc":
                fate_msgs.append(fmt.encode_stream_prepare(
                    f"0/{xid:X}", f"0/{xid + 8:X}", TS_US, xid, gid))
                if commit:
                    fate_msgs.append(fmt.encode_commit_prepared(
                        f"0/{xid:X}", f"0/{xid + 8:X}", TS_US + 1, xid, gid))
                else:
                    fate_msgs.append(fmt.encode_rollback_prepared(
                        f"0/{xid:X}", f"0/{xid + 8:X}", TS_US, TS_US + 2,
                        xid, gid))
            else:
                if commit:
                    fate_msgs.append(fmt.encode_stream_commit(
                        xid, f"0/{xid:X}", f"0/{xid + 8:X}", TS_US))
                else:
                    fate_msgs.append(fmt.encode_stream_abort(xid))
            fates.append(fate_msgs)

    rng.shuffle(body_blocks)
    rng.shuffle(fates)
    msgs = [rel]
    for block in body_blocks:
        msgs.extend(block)
    for block in fates:
        msgs.extend(block)
    return msgs, expected


@pytest.mark.parametrize("seed", range(8))
def test_resolve_transactions_random_interleavings(spark, seed):
    rng = random.Random(seed)
    msgs, expected = _wire_and_truth(rng)
    raw = spark.createDataFrame(
        [(f"0/{16 + 8 * i:X}", i, bytearray(m)) for i, m in enumerate(msgs)],
        "lsn string, seq long, data binary",
    ).repartition(1)
    out = resolve_transactions(decode_pgoutput(raw))
    got = {r["after"]["id"] for r in out.filter("op = 'insert'").collect()}
    assert got == expected, f"seed {seed}: {sorted(got)} != {sorted(expected)}"


@pytest.mark.parametrize("seed", range(8))
def test_partitioned_framing_agrees_with_default(spark, seed):
    """VERDICT r5 #6: resolve_transactions(partition_col=) and
    filter_by_origin(partition_col=) must produce the SAME surviving rows
    as the broadcast/global-lead form on random interleavings, with
    segment cuts placed adversarially (transactions and even streamed
    segments may span partition boundaries)."""
    from pyspark.sql import functions as F

    rng = random.Random(1000 + seed)
    msgs, expected = _wire_and_truth(rng)
    # adversarial segmentation: a new frame-log segment every 3-7
    # messages, independent of transaction structure
    segs, s, left = [], 0, rng.randint(3, 7)
    for _ in msgs:
        segs.append(s)
        left -= 1
        if left == 0:
            s += 1
            left = rng.randint(3, 7)
    raw = spark.createDataFrame(
        [
            (f"0/{16 + 8 * i:X}", i, segs[i], bytearray(m))
            for i, m in enumerate(msgs)
        ],
        "lsn string, seq long, seg int, data binary",
    ).repartition(1)
    # decode needs stream context in wire order (the production decode
    # runs per relay chunk); the operator under test here is the
    # PARTITIONED FRAMING, which gets the decoded events scattered
    # across 4 partitions with the adversarial seg keys attached
    ev = (
        decode_pgoutput(raw)
        .join(raw.select("seq", "seg"), "seq")
        .repartition(4)
    )
    out = resolve_transactions(ev, partition_col="seg")
    got = {r["after"]["id"] for r in out.filter("op = 'insert'").collect()}
    assert got == expected, f"seed {seed}: {sorted(got)} != {sorted(expected)}"

    # filter_by_origin over the same cuts: both shapes keep exactly the
    # inserts a wire-order walk attributes to a kept transaction
    wire = ev.select("seq", "op", "meta", "after").collect()
    for opts in ({}, {"filter_origins": ["node_a"], "keep_local": False}):
        want = _origin_truth(wire, **opts)
        for part in (None, "seg"):
            out = filter_by_origin(ev, partition_col=part, **opts)
            got = {
                r["after"]["id"]
                for r in out.filter("op = 'insert'").collect()
            }
            assert got == want, (
                f"seed {seed} {opts} partition_col={part}: "
                f"{sorted(got)} != {sorted(want)}"
            )


def _origin_truth(rows, filter_origins=None, keep_local=True):
    """Reference model of filter_by_origin: walk the decoded rows in
    wire order; every insert belongs to the newest begin before it and
    carries that frame's origin (None = local)."""
    kept, origin = set(), None
    for r in sorted(rows, key=lambda r: r["seq"]):
        if r["op"] == "begin":
            origin = None
        elif r["op"] == "origin":
            origin = r["meta"]["origin"]
        elif r["op"] == "insert":
            if origin is None:
                keep = keep_local
            else:
                keep = (
                    filter_origins is not None
                    and origin not in filter_origins
                )
            if keep:
                kept.add(r["after"]["id"])
    return kept


def test_assign_transactions_partitioned_agrees(spark):
    """assign_transactions(partition_col=) == default on a stream whose
    transactions span segments and whose middle segment has no begin."""
    import datetime

    from pg_logical_replication_spark.operators.transactions import (
        assign_transactions,
    )

    TS = datetime.datetime(2026, 1, 1, 10, 0, 0)
    rows = [
        (0, 0, "begin", 10, None), (1, 0, "insert", None, None),
        (2, 0, "commit", 10, TS),
        (3, 0, "begin", 20, None), (4, 0, "insert", None, None),
        (5, 1, "insert", None, None), (6, 1, "update", None, None),
        (7, 2, "insert", None, None),
        (8, 2, "commit", 20, TS.replace(minute=5)),
        (9, 2, "begin", 30, None), (10, 2, "delete", None, None),
        (11, 2, "commit", 30, TS.replace(minute=7)),
    ]
    df = spark.createDataFrame(
        rows, "seq long, seg int, op string, xid long, commit_ts timestamp"
    )
    cols = ["seq", "op", "xid", "commit_ts"]
    base = sorted(map(tuple, assign_transactions(df, "seq").select(*cols).collect()))
    part = sorted(map(tuple, assign_transactions(
        df, "seq", partition_col="seg").select(*cols).collect()))
    assert base == part
    # and the partitioned plan has no single-partition window over the
    # stream: its only SinglePartition stage is the partition-count-
    # sized carry table
    plan = (
        assign_transactions(df, "seq", partition_col="seg")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
