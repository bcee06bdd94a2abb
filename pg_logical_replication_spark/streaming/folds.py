"""One fold per stateful streaming operator — the semantics both state
backends run.

The Structured Streaming paper defines an arbitrary stateful operator
as a user function over (key, rows, state). Each fold here is that
function with the state I/O taken out: it receives one key's rows of
one micro-batch, already in the operator's order (``records``), plus
the key's state, and returns the rows to emit and the state change.
The backends are adapters that only read and write state:

* ``applyInPandasWithState`` (``streaming/stateful.py``,
  ``streaming/packing.py``) keeps one opaque value per key and rewrites
  it every micro-batch;
* ``transformWithStateInPandas`` (``streaming/tws.py``) keeps a
  buffering fold's buffer in a ListState that each micro-batch appends
  to, and reads it once, when the fold consumes it.

Two fold shapes cover every operator:

* a **value fold** ``fold(key, rows, value) -> (out, value')`` — the
  state is one small tuple (``None`` when the key has none);
* a **buffering fold** ``fold(key, rows, meta, buffered) -> (out, step)``
  — ``meta`` is the key's small state (``None`` when the key has none),
  ``buffered()`` returns the buffer and is called only when the fold
  consumes it, and the :class:`Step` says what to append or drop.

Everything here is plain Python over dicts, so the folds are tested
without Spark by cutting random streams at random micro-batch
boundaries (``tests/test_fold_kernels.py``).
"""

from __future__ import annotations

import json
import re
from typing import Any, Callable, NamedTuple

from pg_logical_replication_spark.functions.pg_values import OID_TO_PG_TYPE

# ChangeEvent fields a fold buffers (state is JSON: state schemas cannot
# hold maps); xid and commit_ts are stamped at emission
EVENT_FIELDS = (
    "op", "lsn", "lsn_long", "seq", "schema", "table", "key", "before", "after",
)
OUT_COLUMNS = [
    "op", "lsn", "lsn_long", "seq", "xid", "commit_ts", "schema", "table",
    "key", "before", "after",
]
DML_OPS = ("insert", "update", "delete", "truncate")
FATE_OPS = (
    "stream_commit", "stream_abort", "stream_prepare",
    "commit_prepared", "rollback_prepared",
)
# packing output (batch and streaming); bin_id = bucket * BIN_STRIDE + local bin
BIN_STRIDE = 1_000_000
PACK_COLUMNS = ["doc_id", "n_tokens", "bucket", "bin_id", "bin_seq"]
PACK_SCHEMA = "doc_id long, n_tokens int, bucket long, bin_id long, bin_seq int"


# ------------------------------------------------------------- row helpers
def is_null(v: Any) -> bool:
    """None, NaN, NaT or pd.NA — the forms a null scalar takes after the
    Arrow → pandas hop."""
    try:
        return v is None or bool(v != v)
    except TypeError:  # pd.NA refuses bool()
        return True


def as_int(v: Any) -> int | None:
    return None if is_null(v) else int(v)


def as_dict(v: Any) -> dict | None:
    if v is None or isinstance(v, dict):
        return v
    try:  # Arrow map columns can surface in pandas as (k, v) pair lists
        return dict(v)
    except (TypeError, ValueError):
        return None


def event(row: dict, **stamps: Any) -> dict:
    """One ChangeEvent row normalized for JSON state and Arrow output:
    positions as int or None, maps as dicts, plus ``stamps``."""
    ev = {f: row.get(f) for f in EVENT_FIELDS}
    ev["lsn_long"], ev["seq"] = as_int(ev["lsn_long"]), as_int(ev["seq"])
    for f in ("key", "before", "after"):
        ev[f] = as_dict(ev[f])
    ev.update(stamps)
    return ev


def wire_order(row: dict) -> tuple[int, int]:
    """Wire order: (lsn_long, seq), a null position counting as 0."""
    return (as_int(row.get("lsn_long")) or 0, as_int(row.get("seq")) or 0)


def records(frames, order: Callable[[dict], Any] | None = None) -> list[dict]:
    """One key's rows of a micro-batch, from the pandas chunks either
    backend hands over, as dicts sorted by ``order`` (arrival order when
    None)."""
    rows = [r for pdf in frames for r in pdf.to_dict("records")]
    if order is not None:
        rows.sort(key=order)
    return rows


def _commit_ts(row: dict) -> Any:
    ts = row.get("commit_ts")
    return None if is_null(ts) else ts


def _flush(buffered: list[str], xid: int, fate: dict, aborted=()) -> list[dict]:
    """A transaction's buffered events, minus aborted subtransactions,
    stamped with the top xid and the fate's commit_ts, in wire order."""
    ts = _commit_ts(fate)
    out = []
    for s in buffered:
        ev = json.loads(s)
        if ev.pop("_rowxid", None) in aborted:
            continue
        ev["xid"], ev["commit_ts"] = xid, ts
        out.append(ev)
    out.sort(key=wire_order)
    return out


class Step(NamedTuple):
    """State change of a buffering fold after one micro-batch.

    ``meta`` is the key's small state afterwards; ``None`` drops the
    key's whole state, buffer included. Otherwise the buffer is emptied
    when ``clear`` (the fold consumed it), then ``append`` goes to its
    end."""

    meta: tuple | None
    append: tuple | list = ()
    clear: bool = False


# ------------------------------------------------------- buffering folds
def assemble_fold(key, rows, meta, buffered):
    """Begin/commit-framed (v1) transaction assembly, keyed by xid: DML
    buffers; the ``commit`` row flushes the buffer stamped with xid and
    commit_ts, in wire order, and drops the key. ``meta`` is unused."""
    (xid,) = key
    fresh, commit = [], None
    for row in rows:
        if row["op"] == "commit":
            commit = row
        elif row["op"] in DML_OPS:
            fresh.append(json.dumps(event(row)))
        # 'begin' rows only open the frame; nothing to buffer
    if commit is None:
        return [], Step((), fresh)
    return _flush(buffered() + fresh, xid, commit), Step(None)


def gate_fold(key, rows, meta, buffered, reemit_unmatched_fates=True):
    """Commit gate for protocol-v2 streamed and two-phase transactions,
    keyed by the top-level xid (``g_top``). ``meta`` = (aborted subxids,).

    * ``stream_commit`` / ``commit_prepared`` flush the buffer minus the
      aborted subtransactions' rows, stamped with the top xid and
      commit_ts, in wire order;
    * ``stream_abort`` of the top xid (or without a subxid) and
      ``rollback_prepared`` drop everything; a subtransaction abort
      drops that subxid's rows, past and future;
    * ``stream_prepare`` is informational — the fate is the later
      commit/rollback_prepared.
    """
    (top_xid,) = key
    # A key whose ONLY traffic ever is commit_prepared/rollback_prepared
    # has no buffered state to gate. When this is the streamed-only gate
    # (reemit_unmatched_fates=True), that means a PLAIN 2PC transaction
    # whose b..P changes took the passthrough branch — emit the fate
    # rows unchanged so a downstream prepared-frame gate (e.g. batch
    # resolve_prepared in a foreachBatch sink) can consume them. When it
    # is the COMBINED gate (False), nothing downstream wants fates: a
    # state-less fate is a zero-DML prepared txn or a timeout-GC'd
    # streamed txn's late fate — swallow it, matching the batch
    # resolvers. Any earlier row (even a lone stream_prepare) creates
    # state, so its later fate takes the flush path instead.
    if meta is None and rows and all(
        r["op"] in ("commit_prepared", "rollback_prepared") for r in rows
    ):
        if not reemit_unmatched_fates:
            return [], Step(None)
        return [
            event(r, xid=top_xid, commit_ts=_commit_ts(r)) for r in rows
        ], Step(None)

    aborted = set(meta[0]) if meta else set()
    fresh, commit = [], None
    for row in rows:
        op = row["op"]
        if op in ("stream_commit", "commit_prepared"):
            commit = row
        elif op == "rollback_prepared":
            return [], Step(None)
        elif op == "stream_abort":
            sub = as_int(row.get("g_subxid"))
            if sub is None or sub == top_xid:  # top-level abort
                return [], Step(None)
            aborted.add(sub)
        elif op in DML_OPS:
            fresh.append(
                json.dumps(event(row, _rowxid=as_int(row.get("xid"))))
            )
    if commit is None:
        return [], Step((sorted(aborted),), fresh)
    return _flush(buffered() + fresh, top_xid, commit, aborted), Step(None)


_STRING_LITERAL = re.compile(r'"[^"\\]*(?:\\.[^"\\]*)*"')


def brace_delta(fragment: str) -> int:
    """Net ``{`` minus ``}`` outside JSON string literals."""
    s = _STRING_LITERAL.sub("", fragment)
    return s.count("{") - s.count("}")


def reassemble_fold(key, rows, meta, buffered):
    """Chunked wal2json documents (``write-in-chunks``/``pretty-print``):
    fragments buffer until the brace depth returns to zero, then the
    whole document is emitted with its first fragment's seq. ``meta`` =
    (depth, start_seq); a document is open exactly when depth != 0."""
    depth, start_seq = meta or (0, 0)
    open_before = depth != 0  # the buffer holds an open document's head
    out, tail, consumed = [], [], False
    for row in rows:
        val = row.get("value")
        if is_null(val) or not str(val).strip():
            continue
        val = str(val)
        if not (open_before or tail):
            start_seq = as_int(row["seq"])
        tail.append(val)
        depth += brace_delta(val)
        if depth == 0:
            head = buffered() if open_before else []
            out.append({"seq": start_seq, "value": "".join(head + tail)})
            consumed = consumed or open_before
            open_before, tail = False, []
    return out, Step((depth, start_seq), tail, clear=consumed)


# ------------------------------------------------------------ value folds
def toast_fold(key, rows, value):
    """Unchanged-TOAST completion per (schema, table, identity): the
    columns named in a row's ``t_toast`` marker take the key's prior
    image where the row has NULL; the post-fill image becomes the next
    row's prior image, and explicit SQL NULLs (outside the marker)
    overwrite it. ``value`` = (image JSON,)."""
    img = json.loads(value[0]) if value else {}
    out = []
    for row in rows:
        ev = event(row, xid=as_int(row.get("xid")), commit_ts=row.get("commit_ts"))
        after = ev["after"]
        if after is not None:
            marker = row.get("t_toast")
            toasted = set(("" if is_null(marker) else marker).split(",")) - {""}
            for c in toasted:
                if after.get(c) is None and c in img:
                    after[c] = img[c]
            img.update(after)
        out.append(ev)
    return out, (json.dumps(img),)


def doc_order(row: dict):
    return row["doc_id"]


def pack_fold(key, rows, value, budget):
    """Greedy sequence packing of one doc_id bucket, rows in doc_id
    order: a doc starts a new bin when the running total would exceed
    ``budget`` (an oversized doc gets its own bin). ``value`` = the
    bucket's open bin (local bin, tokens in it, position in it)."""
    (bucket,) = key
    nbin, acc, seq = value or (-1, budget + 1, 0)
    out = []
    for row in rows:
        n = int(row["n_tokens"])
        if acc + n > budget:
            nbin, acc, seq = nbin + 1, n, 0
        else:
            acc, seq = acc + n, seq + 1
        out.append(dict(row, bin_id=int(bucket) * BIN_STRIDE + nbin, bin_seq=seq))
    if nbin >= BIN_STRIDE:
        # a bucket_size > BIN_STRIDE of tiny docs would wrap local bin
        # ids into the next bucket's band — refuse loudly
        raise ValueError(
            f"sequence packing: bucket {bucket} produced {nbin + 1} bins, "
            f"exceeding the {BIN_STRIDE} per-bucket id band; lower "
            "bucket_size"
        )
    return out, (int(nbin), int(acc), int(seq))


def _doc_id(row: dict):
    d = row.get("doc_id")
    return None if is_null(d) else d


def claim_order(row: dict):
    """Band-claim tie-break: earliest event time, then smallest id —
    deterministic where the built-in gate keeps an arbitrary first. NULL
    ids sort last and pass through as NULL (the built-in form emits them
    too; crashing the query on one malformed upstream row would be the
    wrong failure mode). Ids keep their native type (long, string, …):
    only same-typed values are ever compared, the is-null element
    shields the placeholder."""
    d = _doc_id(row)
    return (row["ts"], d is None, 0 if d is None else d)


def band_claim_fold(key, rows, value):
    """First claim wins per (band_idx, band_key); a band claimed in an
    earlier micro-batch suppresses every later row. ``value`` = (True,)."""
    if value or not rows:
        return [], value
    w = rows[0]
    return [{
        "doc_id": _doc_id(w), "ts": w["ts"],
        "band_idx": int(key[0]), "band_key": key[1],
    }], (True,)


def conflict_fold(key, rows, value):
    """Per (window, key): fold (min origin, max origin, writes, last
    writer's origin, its event id); emit the current record while the
    key is in conflict (min origin != max origin)."""
    win, user_id = key
    o_min, o_max, n, w_origin, w_eid = value or (None, None, 0, None, -1)
    for r in rows:
        origin, eid = int(r["origin"]), int(r["event_id"])
        o_min = origin if o_min is None else min(o_min, origin)
        o_max = origin if o_max is None else max(o_max, origin)
        n += 1
        if eid > w_eid:
            w_eid, w_origin = eid, origin
    out = []
    if rows and o_min != o_max:
        out.append({
            "win": int(win), "user_id": int(user_id),
            "n_writes": n, "winner_origin": w_origin,
        })
    return out, (o_min, o_max, n, w_origin, w_eid)


def arrival_order(row: dict):
    return row["arr"]


def lateness_fold(key, rows, value):
    """Per event_type, rows in arrival order: the running max event time
    is the watermark; a row behind it is late by the gap. Emits the
    type's cumulative census."""
    (event_type,) = key
    if not rows:
        return [], value
    wm, n_events, n_late, max_late = value or (None, 0, 0, 0)
    for r in rows:
        ts = int(r["ts_us"])
        n_events += 1
        if wm is not None and ts < wm:
            n_late += 1
            max_late = max(max_late, wm - ts)
        wm = ts if wm is None else max(wm, ts)
    return [{
        "event_type": event_type, "n_events": n_events, "n_late": n_late,
        "max_late_us": max_late, "watermark_us": wm,
    }], (wm, n_events, n_late, max_late)


def _csv(s) -> list[str]:
    return [x for x in (s or "").split(",") if x]


def schema_change_fold(key, rows, value):
    """Per table, relation rows in wire order: each declaration (column
    names + type oids) that differs from the last one emits a version
    record with the added / dropped / widened columns; a re-announcement
    of the same declaration is a cache refresh and emits nothing.
    ``value`` = (columns csv, oids csv, version)."""
    def tname(oid):
        return OID_TO_PG_TYPE.get(int(oid), "text")

    (table,) = key
    pcols, poids, version = value or (None, None, 0)
    out = []
    for r in rows:
        cols_csv, oids_csv = r["cols"], r["oids"]
        if cols_csv == pcols and oids_csv == poids:
            continue  # cache refresh, not a change
        cur, prev = _csv(cols_csv), _csv(pcols)
        cm, pm = dict(zip(cur, _csv(oids_csv))), dict(zip(prev, _csv(poids)))
        version += 1
        out.append({
            "table": table, "version": version,
            "lsn_long": int(r["lsn_long"]), "n_columns": len(cur),
            "added": ",".join(c for c in cur if c not in pm),
            "dropped": ",".join(c for c in prev if c not in cm),
            "widened": ",".join(
                f"{c}:{tname(pm[c])}->{tname(cm[c])}"
                for c in cur if c in pm and pm[c] != cm[c]
            ),
        })
        pcols, poids = cols_csv, oids_csv
    return out, (pcols, poids, version)


def net_change_fold(key, rows, value):
    """Per key: the first and last op by stream position (arg-min /
    arg-max, so batch boundaries cannot change it) and the change count;
    emits the key's current net op — first insert … last delete cancel
    to 'none', else a leading insert nets 'insert', a trailing delete
    'delete', anything else 'update'."""
    (k,) = key
    if not rows:
        return [], value
    first_op, first_lsn, last_op, last_lsn, n = value or (None, None, None, None, 0)
    for r in rows:
        op, lsn = str(r["op"]), int(r["lsn_long"])
        if first_lsn is None or lsn < first_lsn:
            first_op, first_lsn = op, lsn
        if last_lsn is None or lsn > last_lsn:
            last_op, last_lsn = op, lsn
        n += 1
    if first_op == "insert":
        net = "none" if last_op == "delete" else "insert"
    else:
        net = "delete" if last_op == "delete" else "update"
    return [{
        "k": k, "net_op": net, "n_changes": n,
        "first_lsn_long": first_lsn, "last_lsn_long": last_lsn,
    }], (first_op, first_lsn, last_op, last_lsn, n)
