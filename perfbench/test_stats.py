"""Unit tests for the benchmark's arithmetic (no PostgreSQL, no Spark).

    python3 -m pytest perfbench/test_stats.py -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
from gen import changes, plan  # noqa: E402

MS = 1_000_000


def test_percentile_is_nearest_rank():
    vals = list(range(1, 101))
    assert stats.percentile(vals, 0.5) == 50
    assert stats.percentile(vals, 0.99) == 99
    assert stats.percentile(vals, 1.0) == 100
    assert stats.percentile([7], 0.99) == 7
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


def test_tail_percentile_keeps_ten_samples_beyond():
    # 1000 samples: p99 is the 990th value and leaves exactly ten above
    vals = list(range(1, 1001))
    q, v = stats.tail_percentile(vals, 0.99)
    assert (q, v) == (0.99, 990)
    assert sum(x > v for x in vals) == 10
    # 200 samples cannot support p99 with ten beyond: lowered to p95
    vals = list(range(1, 201))
    q, v = stats.tail_percentile(vals, 0.99)
    assert q == pytest.approx(0.95)
    assert sum(x > v for x in vals) == 10
    # too few samples for any tail: the median
    assert stats.tail_percentile(list(range(1, 16)), 0.99) == (0.5, 8)
    # a smaller requirement lowers less
    q, v = stats.tail_percentile(list(range(1, 21)), 0.9, beyond=1)
    assert (q, v) == (0.9, 18)


def _tx(due_ms, *chs):
    return {"due_ns": due_ms * MS, "changes": [list(c) for c in chs]}


def test_visibility_times_each_change_from_its_due_time():
    txs = [_tx(0, ("insert", 1)), _tx(10, ("update", 1)), _tx(20, ("insert", 2))]
    images = [(0, "insert", 1, 0), (1, "update", 1, 10 * MS), (1, "insert", 2, 20 * MS)]
    lat, missing, last = stats.attribute_visibility(txs, images, {0: 5 * MS, 1: 50 * MS})
    assert missing == 0
    assert lat == [5.0, 40.0, 30.0]
    assert last == 50 * MS


def test_stalled_consumer_raises_later_changes_latency():
    """Open loop: one change every 10 ms. Batches apply each 10 ms
    window 5 ms after it closes, except that the consumer stalls for a
    second before batch 3. Every change due during the stall is timed
    from its due time, so it carries the stall."""
    txs = [_tx(10 * i, ("insert", i)) for i in range(100)]
    images = [(i // 10, "insert", i, 10 * i * MS) for i in range(100)]
    ends = {b: (10 * (b * 10 + 9) + 5) * MS for b in range(10)}
    fast, _, _ = stats.attribute_visibility(txs, images, ends)
    stalled_ends = {b: e + (1000 * MS if b >= 3 else 0) for b, e in ends.items()}
    slow, _, _ = stats.attribute_visibility(txs, images, stalled_ends)
    assert fast[:30] == slow[:30]
    assert all(s - f == 1000.0 for f, s in zip(fast[30:], slow[30:]))
    assert stats.percentile(slow, 0.5) > stats.percentile(fast, 0.5) + 900


def test_folded_and_deleted_changes():
    # key 1 updated twice inside batch 0: the first image was folded away
    # and is visible with the second; key 2 inserted then deleted in
    # batch 1 leaves only the tombstone; key 3's delete is never applied
    txs = [
        _tx(0, ("update", 1)),
        _tx(1, ("update", 1), ("insert", 2)),
        _tx(2, ("delete", 2)),
        _tx(3, ("delete", 3)),
    ]
    images = [(-1, "insert", 3, 0), (0, "update", 1, 1 * MS), (1, "delete", 2, None)]
    lat, missing, last = stats.attribute_visibility(txs, images, {0: 10 * MS, 1: 20 * MS})
    assert lat == [10.0, 9.0, 19.0, 18.0]
    assert missing == 1  # the bootstrap image does not make key 3's delete visible
    assert last == 20 * MS


def test_range_changes_expand_and_missing_rows_count():
    txs = [_tx(0, ("insert", 1, 4))]
    images = [(0, "insert", k, 0) for k in (1, 2, 4)]
    lat, missing, _ = stats.attribute_visibility(txs, images, {0: 7 * MS})
    assert lat == [7.0, 7.0, 7.0]
    assert missing == 1


def test_batch_without_an_end_stamp_counts_as_missing():
    lat, missing, last = stats.attribute_visibility(
        [_tx(0, ("insert", 1))], [(4, "insert", 1, 0)], {}
    )
    assert (lat, missing, last) == ([], 1, None)


def test_error_count_sums_every_failure_kind():
    mism = {"missing_keys": 2, "extra_keys": 1, "different_keys": 3}
    assert stats.error_count(0, {"missing_keys": 0}, 0) == 0
    assert stats.error_count(4, mism, 5) == 15
    # error_rate is failures over attempted changes
    assert stats.error_count(4, mism, 5) / 150 == 0.1


def test_rate_needs_a_positive_interval():
    assert stats.rate(100, 0, 2_000_000_000) == 50.0
    with pytest.raises(ValueError):
        stats.rate(1, 5, 5)


def test_plan_is_a_pure_function_of_the_seed():
    a = plan("oltp_trickle", 3, 10)
    assert a == plan("oltp_trickle", 3, 10)
    assert a != plan("oltp_trickle", 4, 10)
    small = [t for t in a if t["kind"] == "small"]
    assert len(small) == 500
    (burst,) = [t for t in a if t["kind"] == "burst"]
    assert (burst["at"], burst["hi"] - burst["lo"] + 1) == (10 * 2 / 3, round(20_000 * 10 / 30))
    # deletes only hit keys the run inserted earlier, each at most once
    deleted = [t["del"] for t in small if "del" in t]
    inserted_before = set()
    for t in small:
        if "del" in t:
            assert t["del"] in inserted_before
        inserted_before.add(t["ins"])
    assert len(deleted) == len(set(deleted))
    assert 20 < len(deleted) < 80
    assert [t["at"] for t in a] == sorted(t["at"] for t in a)


def test_huge_plan_scales_with_run_length():
    (tx,) = plan("huge_txn", 1, 10)
    assert changes(tx) == [["insert", 1, 100_000]]


def test_benchmark_json_names_what_run_prints():
    """BENCHMARK.json names the metrics a benchmark run reports; run.py must
    print exactly those, with the same units."""
    import json

    import run

    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
