"""The benchmark's own arithmetic, free of PostgreSQL and Spark so it can
be unit-tested on small synthetic inputs (see test_stats.py).

* :func:`percentile` / :func:`tail_percentile` — nearest-rank
  percentiles; a tail percentile is lowered until at least ``beyond``
  samples lie above it, instead of resting on a handful of samples.
* :func:`attribute_visibility` — open-loop freshness: each source
  change is timed from its transaction's DUE time to the end of the
  ``apply_batch`` call that wrote its image (or the image that
  superseded it inside the same micro-batch).
* :func:`error_count` — the failures ``error_rate`` counts.
"""

from __future__ import annotations

import math


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``0 < q <= 1``."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[_rank(q, len(s))]


def _rank(q: float, n: int) -> int:
    # the epsilon keeps q·n = 190.00000000000003 on rank 190
    return max(math.ceil(q * n - 1e-9) - 1, 0)


def tail_percentile(values: list[float], q: float, beyond: int = 10) -> tuple[float, float]:
    """``(q_used, value)``: the q-th percentile, or the highest lower one
    that still leaves ``beyond`` samples strictly above it. With too
    few samples for any tail (``n < 2 * beyond``) the median is used."""
    n = len(values)
    if n < 2 * beyond:
        return 0.5, percentile(values, 0.5)
    idx = min(_rank(q, n), n - beyond - 1)
    return (idx + 1) / n, sorted(values)[idx]


def expand(change: list) -> list[tuple[str, int]]:
    """``[kind, key]`` or ``[kind, lo, hi]`` → ``[(kind, key), …]``."""
    if len(change) == 3:
        return [(change[0], k) for k in range(change[1], change[2] + 1)]
    return [(change[0], change[1])]


def visible_batches(
    txs: list[dict], images: list[tuple[int, str, int, int | None]]
) -> tuple[list[tuple[int, int]], int]:
    """The micro-batch that made each source change visible.

    ``txs``: generator records (``due_ns`` and ``changes``).
    ``images``: the table log's rows written by the stream as
    ``(batch_id, op, key, ts_ns)`` — ``ts_ns`` is the image's stamp,
    ``None`` for a delete tombstone; negative batch ids (the bootstrap)
    predate every timed change and are ignored.

    An insert/update is visible in the batch holding its own image
    ``(key, due_ns)``; if a later change of the same key in the same
    micro-batch folded it away, in the batch of the first later image
    of that key. A delete is visible with its tombstone. Returns
    ``([(due_ns, batch_id), …], missing)``.
    """
    by_key: dict[int, list[tuple[int, int | None]]] = {}
    for batch, op, key, ts in images:
        if batch >= 0:
            by_key.setdefault(key, []).append((batch, None if op == "delete" else ts))
    for lst in by_key.values():
        lst.sort(key=lambda bt: bt[0])
    found: list[tuple[int, int]] = []
    missing = 0
    for tx in txs:
        due = tx["due_ns"]
        for ch in tx["changes"]:
            for kind, key in expand(ch):
                batch = _visible_batch(by_key.get(key, ()), kind, due)
                if batch is None:
                    missing += 1
                else:
                    found.append((due, batch))
    return found, missing


def attribute_visibility(
    txs: list[dict],
    images: list[tuple[int, str, int, int | None]],
    batch_end_ns: dict[int, int],
) -> tuple[list[float], int, int | None]:
    """Per-change visibility latency in ms: from the transaction's DUE
    time to the end of the ``apply_batch`` call of the batch that made
    the change visible (:func:`visible_batches`; ``batch_end_ns`` maps
    batch id → when its ``apply_batch`` returned). A change whose batch
    has no end stamp counts as missing. Returns ``(latencies_ms,
    missing, last_visible_ns)``."""
    found, missing = visible_batches(txs, images)
    lat: list[float] = []
    last: int | None = None
    for due, batch in found:
        end = batch_end_ns.get(batch)
        if end is None:
            missing += 1
            continue
        lat.append((end - due) / 1e6)
        last = end if last is None else max(last, end)
    return lat, missing, last


def _visible_batch(imgs, kind: str, due: int) -> int | None:
    if kind == "delete":
        return next((b for b, ts in imgs if ts is None), None)
    for b, ts in imgs:
        if ts == due:
            return b
    # folded away: the first later image of the key (a newer stamp or
    # a tombstone) sits in the same micro-batch that applied this one
    return next((b for b, ts in imgs if ts is None or ts > due), None)


def error_count(missing_changes: int, key_mismatches: dict[str, int], decode_error_rows: int) -> int:
    """Failures counted by ``error_rate``: changes never made visible,
    keys whose snapshot row differs from PostgreSQL's (missing, extra or
    different), and decode error rows."""
    return missing_changes + sum(key_mismatches.values()) + decode_error_rows


def rate(count: int, start_ns: int, end_ns: int) -> float:
    """``count`` per second over ``[start_ns, end_ns]``."""
    if end_ns <= start_ns:
        raise ValueError("rate over an empty interval")
    return count / ((end_ns - start_ns) / 1e9)

