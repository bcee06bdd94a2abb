"""The stateful operators' folds (streaming/folds.py), without Spark.

Each property cuts a random wire-ordered stream at random micro-batch
boundaries and folds the pieces with the state carried between them,
the way both backends do; the output must equal folding the whole
stream as one batch. The carrier below applies a buffering fold's Step
exactly like the adapters: drop the key on ``meta=None``, else empty the
buffer on ``clear`` and append.

    python -m pytest tests/test_fold_kernels.py -q
"""

import copy
import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pg_logical_replication_spark.streaming import folds

SETTINGS = settings(max_examples=150, deadline=None)


def _batches(rows, cuts):
    bounds = [0, *sorted(set(cuts)), len(rows)]
    return [rows[a:b] for a, b in zip(bounds, bounds[1:])]


def _groups(batch, keyof):
    out = {}
    for r in batch:
        out.setdefault(keyof(r), []).append(r)
    return out


def run_buffered(fold, keyof, rows, cuts):
    """Fold micro-batch by micro-batch, carrying (buffer, meta) per key."""
    state, out = {}, []
    for batch in _batches(rows, cuts):
        for key, group in _groups(batch, keyof).items():
            buf, meta = state.get(key, ([], None))
            group.sort(key=folds.wire_order)
            emitted, step = fold(key, group, meta, lambda buf=buf: list(buf))
            out.extend(emitted)
            if step.meta is None:
                state.pop(key, None)
            else:
                kept = [] if step.clear else buf
                state[key] = (kept + list(step.append), step.meta)
    return out, state


def run_value(fold, keyof, rows, cuts, order=None):
    """Fold micro-batch by micro-batch, carrying one value per key."""
    state, out = {}, []
    for batch in _batches(rows, cuts):
        for key, group in _groups(batch, keyof).items():
            if order is not None:
                group.sort(key=order)
            emitted, state[key] = fold(key, group, state.get(key))
            out.extend(emitted)
    return out, state


def _canon(rows):
    return sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)


def _interleave(draw, txns):
    """Merge per-transaction row lists in a random order that keeps each
    transaction's own order, then stamp wire positions."""
    pick = draw(st.permutations([t for t, rows in enumerate(txns) for _ in rows]))
    cursors = [iter(rows) for rows in txns]
    out = [next(cursors[t]) for t in pick]
    for i, r in enumerate(out):
        r.update(lsn=f"0/{0x100 + i:X}", lsn_long=0x100 + i, seq=i)
    return out


def _dml(draw, xid):
    rid = draw(st.integers(0, 5))
    return {
        "op": draw(st.sampled_from(folds.DML_OPS)), "xid": xid,
        "schema": "public", "table": "users", "key": {"id": str(rid)},
        "before": None,
        "after": draw(st.one_of(st.none(), st.just([("id", str(rid))]))),
        "commit_ts": None,
    }


cuts = st.lists(st.integers(0, 60), max_size=6)


# ------------------------------------------------------------ assembly
@st.composite
def v1_streams(draw):
    txns = []
    for t in range(draw(st.integers(1, 4))):
        xid = 10 + t
        rows = [{"op": "begin", "xid": xid}]
        rows += [_dml(draw, xid) for _ in range(draw(st.integers(0, 5)))]
        if draw(st.booleans()):  # committed; otherwise in flight forever
            rows.append({"op": "commit", "xid": xid, "commit_ts": f"ts{xid}"})
        txns.append(rows)
    return _interleave(draw, txns)


@SETTINGS
@given(v1_streams(), cuts)
def test_assemble_fold_is_batch_boundary_invariant(rows, cut):
    whole, _ = run_buffered(folds.assemble_fold, lambda r: (r["xid"],), rows, [])
    pieces, _ = run_buffered(folds.assemble_fold, lambda r: (r["xid"],), rows, cut)
    assert _canon(pieces) == _canon(whole)
    committed = {r["xid"] for r in rows if r["op"] == "commit"}
    assert {r["xid"] for r in whole} <= committed
    assert len(whole) == sum(
        1 for r in rows if r["op"] in folds.DML_OPS and r["xid"] in committed
    )


# ------------------------------------------------------ streamed/2PC gate
@st.composite
def v2_streams(draw):
    txns = []
    for t in range(draw(st.integers(1, 4))):
        top = 100 + 10 * t
        fate = draw(st.sampled_from([
            "stream_commit", "stream_abort", "commit_prepared",
            "rollback_prepared", "plain_2pc", "open",
        ]))
        rows = []
        if fate != "plain_2pc":
            for _ in range(draw(st.integers(0, 6))):
                rows.append(_dml(draw, draw(st.sampled_from([top, top + 1, top + 2]))))
            for sub in draw(st.lists(st.sampled_from([top + 1, top + 2]), max_size=2, unique=True)):
                at = draw(st.integers(0, len(rows)))
                rows.insert(at, {"op": "stream_abort", "g_subxid": sub})
        if fate in ("commit_prepared", "rollback_prepared") and draw(st.booleans()):
            rows.append({"op": "stream_prepare"})
        if fate == "plain_2pc":
            rows.append({"op": draw(st.sampled_from(["commit_prepared", "rollback_prepared"])),
                         "commit_ts": f"ts{top}"})
        elif fate == "stream_abort":
            rows.append({"op": "stream_abort", "g_subxid": draw(st.sampled_from([top, None]))})
        elif fate != "open":
            rows.append({"op": fate, "commit_ts": f"ts{top}"})
        for r in rows:
            r["g_top"] = top
            r.setdefault("xid", top)
        txns.append(rows)
    return _interleave(draw, txns)


@SETTINGS
@given(v2_streams(), cuts, st.booleans())
def test_gate_fold_is_batch_boundary_invariant(rows, cut, reemit):
    def fold(key, group, meta, buffered):
        return folds.gate_fold(key, group, meta, buffered, reemit)

    whole, _ = run_buffered(fold, lambda r: (r["g_top"],), rows, [])
    pieces, _ = run_buffered(fold, lambda r: (r["g_top"],), rows, cut)
    assert _canon(pieces) == _canon(whole)
    # reference model: a committed transaction emits its DML minus the
    # aborted subtransactions' rows, stamped with the top xid
    expected = []
    for top in {r["g_top"] for r in rows}:
        txn = [r for r in rows if r["g_top"] == top]
        aborted = {r["g_subxid"] for r in txn if r["op"] == "stream_abort"}
        if txn[-1]["op"] in ("stream_commit", "commit_prepared"):
            expected += [(top, r["lsn_long"]) for r in txn
                         if r["op"] in folds.DML_OPS and r["xid"] not in aborted]
    got = [(r["xid"], r["lsn_long"]) for r in whole if r["op"] in folds.DML_OPS]
    assert sorted(got) == sorted(expected)


def test_gate_fold_drops_aborted_subtransactions_and_rolled_back_txns():
    def row(op, i, **kw):
        return {"op": op, "lsn_long": i, "seq": i, "g_top": 1, "xid": 1, **kw}

    rows = [
        row("insert", 1, after={"v": "keep"}),
        row("insert", 2, xid=2, after={"v": "sub"}),
        row("stream_abort", 3, g_subxid=2),
        row("stream_commit", 4, commit_ts="t"),
    ]
    out, state = run_buffered(folds.gate_fold, lambda r: (r["g_top"],), rows, [1, 3])
    assert [r["after"]["v"] for r in out] == ["keep"]
    assert out[0]["xid"] == 1 and out[0]["commit_ts"] == "t" and not state
    rolled = [row("insert", 1), row("rollback_prepared", 2)]
    assert run_buffered(folds.gate_fold, lambda r: (r["g_top"],), rolled, [1]) == ([], {})


# ------------------------------------------------------- chunked JSON
_text = st.text(alphabet='{}[]"\\: ab', max_size=6)
_docs = st.lists(
    st.recursive(
        st.one_of(st.integers(), _text),
        lambda kids: st.one_of(st.lists(kids, max_size=3),
                               st.dictionaries(_text, kids, max_size=3)),
        max_leaves=6,
    ).map(lambda v: json.dumps({"change": v}, separators=(",", ":"))),
    min_size=1, max_size=4,
)


def _structural_cuts(doc):
    """Offsets outside string literals — the plugin's chunking contract."""
    cuts, in_str, esc = [], False, False
    for i, ch in enumerate(doc[:-1], start=1):  # ch = doc[i - 1]
        if esc:
            esc = False
        elif in_str and ch == "\\":
            esc = True
        elif ch == '"':
            in_str = not in_str
        if not in_str:
            cuts.append(i)
    return cuts


@st.composite
def chunked_docs(draw):
    docs = draw(_docs)
    frags = []
    for doc in docs:
        offs = sorted(set(draw(st.lists(st.sampled_from(_structural_cuts(doc)), max_size=4))))
        bounds = [0, *offs, len(doc)]
        frags += [doc[a:b] for a, b in zip(bounds, bounds[1:])]
        if draw(st.booleans()):
            frags.append("  ")  # whitespace-only fragment: skipped
    rows = [{"slot": 0, "seq": i, "value": v} for i, v in enumerate(frags)]
    return docs, rows


@SETTINGS
@given(chunked_docs(), cuts)
def test_reassemble_fold_is_batch_boundary_invariant(case, cut):
    docs, rows = case
    whole, _ = run_buffered(folds.reassemble_fold, lambda r: (r["slot"],), rows, [])
    pieces, state = run_buffered(folds.reassemble_fold, lambda r: (r["slot"],), rows, cut)
    assert pieces == whole
    assert [d["value"] for d in whole] == docs
    assert all(not buf for buf, _ in state.values())


def test_brace_delta_ignores_braces_in_string_literals():
    assert folds.brace_delta('{"a":"}{\\"}"') == 1
    assert folds.brace_delta('"{"}') == -1


# ----------------------------------------------------------- TOAST fill
@st.composite
def toast_streams(draw):
    rows = []
    for i in range(draw(st.integers(1, 20))):
        rid = draw(st.integers(0, 2))
        after = None
        marker = None
        if draw(st.integers(0, 4)):
            after = {"id": str(rid)}
            for c in ("a", "b"):
                after[c] = draw(st.one_of(st.none(), st.sampled_from(["x", "y", "z"])))
            # the decoder marks only NULL columns; a marked non-NULL value
            # must still win over the stored image
            toasted = [c for c in ("a", "b") if draw(st.booleans())]
            marker = ",".join(toasted) or None
        rows.append({
            "op": "update" if after else "delete", "lsn_long": 0x10 + i,
            "seq": i, "xid": 7, "schema": "public", "table": "users",
            "key": {"id": str(rid)}, "after": after, "t_toast": marker,
            "t_identity": str(rid),
        })
    return rows


@SETTINGS
@given(toast_streams(), cuts)
def test_toast_fold_is_batch_boundary_invariant(rows, cut):
    def keyof(r):
        return (r["schema"], r["table"], r["t_identity"])

    # the fold fills the row's own after-dict, so each run gets a copy
    whole, img = run_value(folds.toast_fold, keyof, copy.deepcopy(rows), [], folds.wire_order)
    pieces, img2 = run_value(folds.toast_fold, keyof, copy.deepcopy(rows), cut, folds.wire_order)
    assert _canon(pieces) == _canon(whole) and img == img2
    # a marked column is filled from the latest prior image of its key
    last: dict = {}
    for src, got in zip(rows, sorted(whole, key=lambda r: r["seq"])):
        if src["after"] is None:
            continue
        for c in (src["t_toast"] or "").split(","):
            if c and src["after"][c] is not None:
                assert got["after"][c] == src["after"][c]
            elif c and c in last.get(src["t_identity"], {}):
                assert got["after"][c] == last[src["t_identity"]][c]
        last.setdefault(src["t_identity"], {}).update(got["after"])


# -------------------------------------------------------------- packing
@st.composite
def doc_streams(draw):
    ids = sorted(draw(st.sets(st.integers(0, 200), min_size=1, max_size=40)))
    return [
        {"doc_id": d, "n_tokens": draw(st.integers(1, 30)), "bucket": d // 50}
        for d in ids
    ]


@SETTINGS
@given(doc_streams(), cuts, st.integers(4, 40))
def test_pack_fold_is_batch_boundary_invariant(rows, cut, budget):
    def fold(key, group, value):
        return folds.pack_fold(key, group, value, budget)

    whole, _ = run_value(fold, lambda r: (r["bucket"],), rows, [], folds.doc_order)
    pieces, _ = run_value(fold, lambda r: (r["bucket"],), rows, cut, folds.doc_order)
    assert _canon(pieces) == _canon(whole)
    bins: dict = {}
    for r in whole:
        bins.setdefault(r["bin_id"], []).append(r["n_tokens"])
    # only an oversized doc, alone in its bin, may exceed the budget
    assert all(sum(ns) <= budget or len(ns) == 1 for ns in bins.values())


def test_pack_fold_refuses_a_wrapped_bin_band():
    with pytest.raises(ValueError, match="per-bucket id band"):
        folds.pack_fold((0,), [{"n_tokens": 5, "bucket": 0}], (folds.BIN_STRIDE, 0, 0), 1)


# ------------------------------------------------------------- monitors
def _last(rows, *cols):
    return {tuple(r[c] for c in cols): r for r in rows}


@SETTINGS
@given(st.lists(st.tuples(st.sampled_from("ab"), st.sampled_from(folds.DML_OPS[:3]),
                          st.integers(0, 3)), min_size=1, max_size=25),
       cuts)
def test_monitor_folds_last_emission_is_batch_boundary_invariant(events, cut):
    """The monitors re-emit a key's running record each batch; the last
    emission per key must not depend on where the batches were cut."""
    net = [{"k": k, "op": op, "lsn_long": i} for i, (k, op, _) in enumerate(events)]
    late = [{"t": k, "ts_us": (i * 7) % 11, "arr": i} for i, (k, _, _) in enumerate(events)]
    conflict = [{"u": "ab".index(k), "origin": o, "event_id": i}
                for i, (k, _, o) in enumerate(events)]
    cases = [
        (folds.net_change_fold, net, lambda r: (r["k"],), None, ("k",)),
        (folds.lateness_fold, late, lambda r: (r["t"],), folds.arrival_order, ("event_type",)),
        (folds.conflict_fold, conflict, lambda r: (0, r["u"]), None, ("user_id",)),
    ]
    for fold, rows, keyof, order, out_key in cases:
        whole, end = run_value(fold, keyof, rows, [], order)
        pieces, end2 = run_value(fold, keyof, rows, cut, order)
        assert _last(pieces, *out_key) == _last(whole, *out_key) and end == end2


@SETTINGS
@given(st.lists(st.tuples(st.sampled_from(["id", "id,v", "id,v,w"]),
                          st.sampled_from(["20", "23"])), min_size=1, max_size=12),
       cuts)
def test_schema_change_fold_is_batch_boundary_invariant(decls, cut):
    rows = [
        {"table": "t", "lsn_long": i, "seq": 0, "cols": cols,
         "oids": ",".join(oid for _ in cols.split(","))}
        for i, (cols, oid) in enumerate(decls)
    ]
    whole, _ = run_value(folds.schema_change_fold, lambda r: (r["table"],), rows, [], folds.wire_order)
    pieces, _ = run_value(folds.schema_change_fold, lambda r: (r["table"],), rows, cut, folds.wire_order)
    assert pieces == whole
    assert [r["version"] for r in whole] == list(range(1, len(whole) + 1))
