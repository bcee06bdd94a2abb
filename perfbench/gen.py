"""Open-loop load generator: one process, one PostgreSQL connection.

The plan is a pure function of (workload, seed, seconds): every
transaction has a due offset from the run's start. The generator
sleeps until each transaction is due, or runs it at once if it is
already late, and stamps every changed row's ``ts_ns`` column with the
transaction's DUE time, so a stall anywhere in the system (or in the
generator itself) shows up as latency on every later change.

Usage (the benchmark starts it; shown for reference)::

    python3 perfbench/gen.py --port 5432 --workload oltp_trickle \\
        --seed 1 --seconds 10 --t0-ns <epoch ns> --out gen.json
"""

from __future__ import annotations

import argparse
import bisect
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from workloads import WORKLOADS  # noqa: E402

BIG_COLUMNS = [f"c{i:02d}" for i in range(1, 21)]


def big_insert_sql(lo: int, hi: int, ts_ns: int, seed: int) -> str:
    """``INSERT … SELECT`` of rows lo..hi of the 20-text-column table;
    each value is a cheap server-side function of (row, column, seed),
    about 19 characters long."""
    cols = ", ".join(
        f"(g * {2654435761 + 97 * i} + {seed})::text || '-c{i:02d}'"
        for i in range(len(BIG_COLUMNS))
    )
    return (
        f"INSERT INTO big (id, ts_ns, {', '.join(BIG_COLUMNS)}) "
        f"SELECT g, {ts_ns}, {cols} FROM generate_series({lo}::bigint, {hi}) g;"
    )


def _zipf_cdf(n: int, s: float) -> list[float]:
    acc, out = 0.0, []
    for k in range(1, n + 1):
        acc += 1.0 / k**s
        out.append(acc)
    return [v / acc for v in out]


def plan(workload: str, seed: int, seconds: float) -> list[dict]:
    """Transactions in due order: ``{"at": offset_s, "kind": …, …}``.

    Kinds: ``huge`` (one INSERT of rows lo..hi), ``small`` (update one
    Zipf-skewed base key, insert one new key, maybe delete an earlier
    inserted key) and ``burst`` (update a contiguous range of base
    keys in one statement)."""
    w = WORKLOADS[workload]
    rng = random.Random(seed)
    if w["kind"] == "huge":
        return [{"at": 0.2, "kind": "huge", "lo": 1, "hi": w["rows_per_second"] * int(seconds)}]
    n_base = w["base_rows"]
    cdf = _zipf_cdf(n_base, w["zipf_s"])
    # a seeded permutation spreads the hot keys over the key space
    hot = list(range(1, n_base + 1))
    rng.shuffle(hot)
    txs: list[dict] = []
    live: list[int] = []  # keys inserted by this run and not yet deleted
    n_small = int(w["rate"] * seconds)
    for i in range(n_small):
        upd = hot[min(bisect.bisect_left(cdf, rng.random()), n_base - 1)]
        new = n_base + 1 + i
        tx = {"at": i / w["rate"], "kind": "small", "i": i, "upd": upd, "ins": new}
        if live and rng.random() < w["delete_share"]:
            tx["del"] = live.pop(rng.randrange(len(live)))
        live.append(new)
        txs.append(tx)
    # the burst keeps the offered rate of burst rows (burst_rows every
    # burst_every_s) in runs shorter than its period, and comes two
    # thirds into the run: as with a burst every period, most small
    # changes run clear of it and the tail waits behind it
    every = w.get("burst_every_s", 1.0)
    burst = round(w.get("burst_rows", 0) * min(seconds, every) / every)
    t = seconds * 2 / 3
    while burst and t < seconds:
        lo = rng.randrange(1, n_base - burst + 2)
        txs.append({"at": t, "kind": "burst", "lo": lo, "hi": lo + burst - 1})
        t += w["burst_every_s"]
    txs.sort(key=lambda tx: (tx["at"], tx["kind"] != "burst"))
    return txs


def statements(tx: dict, due_ns: int, seed: int) -> tuple[str, int]:
    """The transaction's SQL and the row count each of its DML
    statements must report."""
    if tx["kind"] == "huge":
        return big_insert_sql(tx["lo"], tx["hi"], due_ns, seed), tx["hi"] - tx["lo"] + 1
    if tx["kind"] == "burst":
        return (
            f"UPDATE kv SET val = 'b{seed}-' || id, ts_ns = {due_ns} "
            f"WHERE id BETWEEN {tx['lo']} AND {tx['hi']};",
            tx["hi"] - tx["lo"] + 1,
        )
    i = tx["i"]
    sql = (
        f"UPDATE kv SET val = 'u{seed}-{i}', ts_ns = {due_ns} WHERE id = {tx['upd']};"
        f"INSERT INTO kv VALUES ({tx['ins']}, {i % 100}, 'i{seed}-{i}', {due_ns});"
    )
    if "del" in tx:
        sql += f"DELETE FROM kv WHERE id = {tx['del']};"
    return sql, 1


def changes(tx: dict) -> list[list]:
    """``[kind, key]`` per source row change, or one ``[kind, lo, hi]``
    range for the multi-row statements."""
    if tx["kind"] == "huge":
        return [["insert", tx["lo"], tx["hi"]]]
    if tx["kind"] == "burst":
        return [["update", tx["lo"], tx["hi"]]]
    out = [["update", tx["upd"]], ["insert", tx["ins"]]]
    if "del" in tx:
        out.append(["delete", tx["del"]])
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--t0-ns", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from pg import PgConn

    conn = PgConn(args.port)
    done = []
    try:
        txs = plan(args.workload, args.seed, args.seconds)
        for n, tx in enumerate(txs):
            due_ns = args.t0_ns + int(tx["at"] * 1e9)
            wait = (due_ns - time.time_ns()) / 1e9
            if wait > 0:
                time.sleep(wait)
            start_ns = time.time_ns()
            sql, want = statements(tx, due_ns, args.seed)
            _, tags = conn.query(f"BEGIN;{sql}COMMIT;")
            commit_ns = time.time_ns()
            for tag in tags:
                verb = tag.split()[0]
                if verb in ("INSERT", "UPDATE", "DELETE") and int(tag.split()[-1]) != want:
                    raise RuntimeError(f"{tag!r}: transaction {n} changed an unplanned row count")
            done.append({
                "due_ns": due_ns,
                "start_ns": start_ns,
                "commit_ns": commit_ns,
                "kind": tx["kind"],
                "changes": changes(tx),
            })
    finally:
        conn.close()
    with open(args.out + ".tmp", "w") as f:
        json.dump({"txs": done}, f)
    os.replace(args.out + ".tmp", args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
