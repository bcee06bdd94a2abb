"""Workload definitions shared by run.py and the load generator (gen.py).

* ``huge_txn`` — one transaction inserts ``rows_per_second × seconds``
  rows of 20 text columns (the reference's huge-transaction shape,
  scaled to the run length), over pgoutput protocol 1 and plain
  ``subscribe()``. It commits while the warm consumer is stopped; the
  restarted consumer then drains it. Decode and apply do nearly all
  the work: a throughput workload.
* ``oltp_trickle`` — a fixed-rate open loop of small transactions over
  a table bootstrapped with ``base_rows`` keys, plus one bulk update
  every ``burst_every_s``, the first two thirds into the run, sized to
  offer ``burst_rows`` per ``burst_every_s`` (a 10 s run gets one of
  6,667 rows). PostgreSQL streams it while in progress
  (``logical_decoding_work_mem=64kB``, protocol 2, ``streaming``), so the
  pipeline runs the commit gate. Each small change waits on the
  micro-batch cycle: a freshness workload, and the burst is the gate's
  only state load.
"""

WORKLOADS = {
    "huge_txn": {
        "kind": "huge",
        "rows_per_second": 10_000,
        "base_rows": 0,
        "table": "big",
        "proto": 1,
        "pg_settings": {},
    },
    "oltp_trickle": {
        "kind": "small",
        "rate": 50,  # transactions per second
        "base_rows": 100_000,
        "zipf_s": 1.1,
        "delete_share": 0.1,
        "burst_rows": 20_000,
        "burst_every_s": 30.0,
        "table": "kv",
        "proto": 2,
        "pg_settings": {"logical_decoding_work_mem": "'64kB'"},
    },
}
