"""SCD2 history and incremental aggregate maintenance — operator-level
semantics on hand-built change streams (the oracle queries cover the
fixture-scale end-to-end paths)."""

from pyspark.sql import functions as F

from pg_logical_replication_spark.operators.apply_changes import (
    incremental_agg,
    scd2_history,
)

CH_SCHEMA = (
    "op string, lsn_long long, `table` string, key map<string,string>, "
    "before map<string,string>, after map<string,string>"
)


def _changes(spark, rows):
    return spark.createDataFrame(rows, CH_SCHEMA)


def test_scd2_versions_close_on_update_and_delete(spark):
    rows = [
        ("insert", 10, "t", None, None, {"id": "1", "v": "a"}),
        ("update", 20, "t", None, None, {"id": "1", "v": "b"}),
        ("delete", 30, "t", {"id": "1"}, None, None),
        ("insert", 40, "t", None, None, {"id": "2", "v": "x"}),
    ]
    hist = scd2_history(_changes(spark, rows), key_columns=["id"])
    got = {
        (r["after"]["id"], r["after"]["v"]): (
            r["valid_from_lsn"],
            r["valid_to_lsn"],
            r["is_current"],
        )
        for r in hist.collect()
    }
    assert got == {
        ("1", "a"): (10, 20, False),
        ("1", "b"): (20, 30, False),  # closed by the delete, no row emitted for it
        ("2", "x"): (40, None, True),
    }


def test_scd2_reinsert_after_delete_opens_new_current_version(spark):
    rows = [
        ("insert", 10, "t", None, None, {"id": "1", "v": "a"}),
        ("delete", 20, "t", {"id": "1"}, None, None),
        ("insert", 30, "t", None, None, {"id": "1", "v": "a2"}),
    ]
    hist = scd2_history(_changes(spark, rows), key_columns=["id"])
    got = sorted(
        (r["valid_from_lsn"], r["valid_to_lsn"], r["is_current"])
        for r in hist.collect()
    )
    assert got == [(10, 20, False), (30, None, True)]


def _agg(df):
    return incremental_agg(
        df,
        group_fn=lambda im: im.getItem("g"),
        value_fn=lambda im: im.getItem("v").cast("decimal(38,6)"),
    )


def test_incremental_agg_matches_recompute(spark):
    rows = [
        ("insert", 1, "t", None, None, {"g": "a", "v": "10"}),
        ("insert", 2, "t", None, None, {"g": "a", "v": "5"}),
        ("insert", 3, "t", None, None, {"g": "b", "v": "7"}),
        # in-place update within group a: 10 -> 12
        ("update", 4, "t", None, {"g": "a", "v": "10"}, {"g": "a", "v": "12"}),
        # delete the 5 row
        ("delete", 5, "t", None, {"g": "a", "v": "5"}, None),
    ]
    out = {
        r["grp"]: (r["n_delta"], float(r["sum_delta"]))
        for r in _agg(_changes(spark, rows)).collect()
    }
    assert out == {"a": (1, 12.0), "b": (1, 7.0)}


def test_incremental_agg_group_changing_update_moves_row(spark):
    rows = [
        ("insert", 1, "t", None, None, {"g": "a", "v": "10"}),
        ("insert", 2, "t", None, None, {"g": "b", "v": "1"}),
        # the row MOVES from group a to group b (value also changes)
        ("update", 3, "t", None, {"g": "a", "v": "10"}, {"g": "b", "v": "11"}),
    ]
    out = {
        r["grp"]: (r["n_delta"], float(r["sum_delta"]))
        for r in _agg(_changes(spark, rows)).collect()
    }
    assert out == {"a": (0, 0.0), "b": (2, 12.0)}


def test_incremental_agg_is_mergeable_across_batches(spark):
    """Deltas from two micro-batches merged by addition equal the deltas
    of the concatenated stream — the foreachBatch MERGE invariant."""
    batch1 = [
        ("insert", 1, "t", None, None, {"g": "a", "v": "10"}),
        ("insert", 2, "t", None, None, {"g": "a", "v": "3"}),
    ]
    batch2 = [
        ("delete", 3, "t", None, {"g": "a", "v": "10"}, None),
        ("insert", 4, "t", None, None, {"g": "b", "v": "2"}),
    ]
    merged = (
        _agg(_changes(spark, batch1))
        .unionByName(_agg(_changes(spark, batch2)))
        .groupBy("grp")
        .agg(F.sum("n_delta").alias("n"), F.sum("sum_delta").alias("s"))
    )
    got = {r["grp"]: (r["n"], float(r["s"])) for r in merged.collect()}
    whole = {
        r["grp"]: (r["n_delta"], float(r["sum_delta"]))
        for r in _agg(_changes(spark, batch1 + batch2)).collect()
    }
    assert got == whole == {"a": (1, 3.0), "b": (1, 2.0)}


def test_bootstrap_events_union_applies_stream_on_top(spark):
    from pg_logical_replication_spark.operators.apply_changes import (
        apply_changes,
        bootstrap_events,
    )

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id int, name string"
    )
    boot = bootstrap_events(snap, key_columns=["id"], table="users")
    assert boot.filter(F.col("lsn_long") != 0).count() == 0
    assert boot.filter(F.col("op") != "insert").count() == 0

    stream = spark.createDataFrame(
        [
            # update existing key 2, delete key 3, upsert unseen key 9
            ("update", 100, "users", {"id": "2"}, None, {"id": "2", "name": "B"}),
            ("delete", 200, "users", {"id": "3"}, None, None),
            ("update", 300, "users", {"id": "9"}, None, {"id": "9", "name": "z"}),
        ],
        CH_SCHEMA,
    )
    out = apply_changes(
        boot.select(*stream.columns).unionByName(stream),
        key_columns=["id"],
        table="users",
        columns={"id": "integer", "name": "text"},
    )
    got = {r["id"]: r["name"] for r in out.collect()}
    assert got == {1: "a", 2: "B", 9: "z"}


def test_apply_changes_separates_same_named_tables_across_schemas(spark):
    """public.users(id=1) and audit.users(id=1) are distinct rows — the
    identity window includes schema (review r2: they previously
    collapsed onto one key, last-writer-wins across schemas)."""
    from pg_logical_replication_spark.operators.apply_changes import (
        apply_changes,
    )

    data = [
        ("insert", "0/10", 16, 1, "public", "users", None, None,
         {"id": "1", "v": "pub"}),
        ("insert", "0/18", 24, 2, "audit", "users", None, None,
         {"id": "1", "v": "aud"}),
    ]
    ev = spark.createDataFrame(
        data,
        "op string, lsn string, lsn_long long, seq long, schema string, "
        "table string, key map<string,string>, before map<string,string>, "
        "after map<string,string>",
    )
    snap = apply_changes(
        ev, key_columns=["id"], table="users",
        columns={"id": "bigint", "v": "text"},
    )
    # two live rows — before the fix the later write clobbered the
    # earlier one across schemas and only 'aud' survived
    rows = sorted((r["id"], r["v"]) for r in snap.collect())
    assert rows == [(1, "aud"), (1, "pub")]


def test_truncate_barrier_is_per_table(spark):
    """TRUNCATE public.b must not erase public.a's earlier history
    (review r2: the barrier was a global max over all tables). A
    pgoutput-style multi-table truncate ('a,b') barriers both named
    tables."""
    from pg_logical_replication_spark.operators.apply_changes import (
        latest_image,
    )

    data = [
        ("insert", "0/10", 16, 1, "public", "a", None, None, {"id": "1"}),
        ("insert", "0/11", 17, 2, "public", "b", None, None, {"id": "2"}),
        ("insert", "0/12", 18, 3, "public", "c", None, None, {"id": "3"}),
        # multi-table truncate hits b and c, NOT a
        ("truncate", "0/20", 32, 4, "public", "b,c", None, None, None),
        ("insert", "0/28", 40, 5, "public", "c", None, None, {"id": "9"}),
    ]
    ev = spark.createDataFrame(
        data,
        "op string, lsn string, lsn_long long, seq long, schema string, "
        "table string, key map<string,string>, before map<string,string>, "
        "after map<string,string>",
    )
    snap = latest_image(ev, key_columns=["id"])
    rows = sorted((r["table"], r["after"]["id"]) for r in snap.collect())
    # a survives untouched, b is emptied, c keeps only the post-truncate row
    assert rows == [("a", "1"), ("c", "9")]


def test_compact_keeps_tombstones_against_replay(spark, tmp_path):
    """compact() must retain delete tombstones: an at-least-once replay
    of a pre-delete batch otherwise resurrects the deleted key
    (review r2)."""
    from pg_logical_replication_spark.streaming.apply import MergeOnReadTable

    tbl = MergeOnReadTable(
        spark, str(tmp_path / "mor"), key_columns=["id"], table="t"
    )

    def ev(op, lsn_long, rid):
        return (
            op, f"0/{lsn_long:X}", lsn_long, lsn_long, "public", "t",
            {"id": str(rid)},
            None,
            {"id": str(rid)} if op != "delete" else None,
        )

    schema = (
        "op string, lsn string, lsn_long long, seq long, schema string, "
        "table string, key map<string,string>, before map<string,string>, "
        "after map<string,string>"
    )
    tbl.apply_batch(spark.createDataFrame([ev("insert", 20, 1)], schema), 2)
    tbl.apply_batch(spark.createDataFrame([ev("delete", 30, 1)], schema), 3)
    tbl.compact()
    # replay of batch 2 (crash before its offsets committed)
    tbl.apply_batch(spark.createDataFrame([ev("insert", 20, 1)], schema), 2)
    snap = tbl.snapshot()
    assert snap.count() == 0  # the tombstone still wins
    # vacuum drops tombstones once replay is impossible (an all-
    # tombstone table vacuums to nothing — snapshot None or empty)
    tbl.compact(drop_tombstones=True)
    snap2 = tbl.snapshot()
    assert snap2 is None or snap2.count() == 0


# ------------------------------------------------------- net_changes


def test_net_changes_squashes_per_key(spark):
    from pg_logical_replication_spark.operators.apply_changes import (
        net_changes,
    )

    rows = [
        # key 1: insert -> update -> update => net insert of last image
        ("insert", 10, "t", None, None, {"id": "1", "v": "a"}),
        ("update", 20, "t", None, None, {"id": "1", "v": "b"}),
        ("update", 30, "t", None, None, {"id": "1", "v": "c"}),
        # key 2: insert -> delete => cancels to none
        ("insert", 40, "t", None, None, {"id": "2", "v": "x"}),
        ("delete", 50, "t", {"id": "2"}, None, None),
        # key 3: update on pre-existing -> delete => net delete
        ("update", 60, "t", None, None, {"id": "3", "v": "y"}),
        ("delete", 70, "t", {"id": "3"}, None, None),
        # key 4: update -> update on pre-existing => net update
        ("update", 80, "t", None, None, {"id": "4", "v": "p"}),
        ("update", 90, "t", None, None, {"id": "4", "v": "q"}),
        # key 5: bare delete on pre-existing => net delete
        ("delete", 95, "t", {"id": "5"}, None, None),
    ]
    net = net_changes(_changes(spark, rows), key_columns=["id"])
    got = {
        tuple(r["_identity"]): (
            r["net_op"],
            (r["after"] or {}).get("v"),
            r["n_changes"],
            r["first_lsn_long"],
            r["last_lsn_long"],
        )
        for r in net.collect()
    }
    assert got == {
        ("1",): ("insert", "c", 3, 10, 30),
        ("2",): ("none", None, 2, 40, 50),
        ("3",): ("delete", None, 2, 60, 70),
        ("4",): ("update", "q", 2, 80, 90),
        ("5",): ("delete", None, 1, 95, 95),
    }
    kept = net_changes(
        _changes(spark, rows), key_columns=["id"], keep_cancelled=False
    )
    assert kept.filter(F.col("net_op") == "none").count() == 0
    assert kept.count() == 4


def test_net_changes_splits_key_change_update(spark):
    from pg_logical_replication_spark.operators.apply_changes import (
        net_changes,
    )

    rows = [
        ("insert", 10, "t", None, None, {"id": "1", "v": "a"}),
        # key migrates 1 -> 9: old identity nets none (insert..delete
        # inside the batch), new identity nets an insert
        ("update", 20, "t", {"id": "1"}, None, {"id": "9", "v": "a"}),
    ]
    net = net_changes(_changes(spark, rows), key_columns=["id"])
    got = {
        tuple(r["_identity"]): r["net_op"] for r in net.collect()
    }
    assert got == {("1",): "none", ("9",): "insert"}


def test_net_changes_refuses_truncate(spark):
    import pytest

    from pg_logical_replication_spark.operators.apply_changes import (
        net_changes,
    )

    rows = [
        ("insert", 10, "t", None, None, {"id": "1", "v": "a"}),
        ("truncate", 20, "t", None, None, None),
    ]
    with pytest.raises(ValueError, match="truncate"):
        net_changes(_changes(spark, rows), key_columns=["id"])


def test_apply_changes_projection_preserves_semantics_and_prunes(spark):
    """The r10 pre-projection in apply_changes (shuffle ships only the
    columns the snapshot pipeline reads) must not change results on a
    stream exercising every branch — tombstones, key-change updates,
    truncate barrier, out-of-order arrival — and the executed windowed
    pipeline must NOT carry the unread columns (before/xid/commit_ts)
    through the key shuffle (r11: rank-1 window with a map-side partial
    WindowGroupLimit)."""
    from pg_logical_replication_spark.operators.apply_changes import (
        apply_changes,
        latest_image,
    )

    schema = (
        "op string, lsn_long long, xid long, commit_ts timestamp, "
        "`schema` string, `table` string, key map<string,string>, "
        "before map<string,string>, after map<string,string>, "
        "meta map<string,string>"
    )
    rows = [
        # key 1: insert then update (newest wins)
        ("insert", 10, 7, None, "public", "t", None,
         None, {"id": "1", "v": "a"}, {"pos": "0"}),
        ("update", 30, 7, None, "public", "t", None,
         {"id": "1", "v": "a"}, {"id": "1", "v": "b"}, {"pos": "0"}),
        # key 2: delete tombstone wins
        ("insert", 15, 7, None, "public", "t", None,
         None, {"id": "2", "v": "x"}, {"pos": "0"}),
        ("delete", 40, 8, None, "public", "t", {"id": "2"},
         None, None, {"pos": "0"}),
        # key 3 -> 4: key-change update splits
        ("insert", 20, 7, None, "public", "t", None,
         None, {"id": "3", "v": "y"}, {"pos": "0"}),
        ("update", 50, 9, None, "public", "t", {"id": "3"},
         None, {"id": "4", "v": "y2"}, {"pos": "0"}),
        # second table truncated mid-stream: only the later row lives
        ("insert", 5, 6, None, "public", "u", None,
         None, {"id": "9", "v": "old"}, {"pos": "0"}),
        ("truncate", 25, 6, None, "public", "u", None,
         None, None, {"pos": "0"}),
        ("insert", 35, 6, None, "public", "u", None,
         None, {"id": "9", "v": "new"}, {"pos": "0"}),
    ]
    ev = spark.createDataFrame(rows, schema)

    def rows_of(df):
        return sorted(
            tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
        )

    for table, expected in (
        ("t", [("1", "b"), ("4", "y2")]),
        ("u", [("9", "new")]),
    ):
        snap = apply_changes(
            ev, key_columns=["id"], table=table,
            columns={"id": "text", "v": "text"},
        )
        # reference: the unprojected pipeline apply_changes wraps
        ref = (
            latest_image(ev, ["id"], table=table)
            .filter(F.col("op") != "delete")
            .select(
                F.col("after").getItem("id").alias("id"),
                F.col("after").getItem("v").alias("v"),
            )
        )
        assert rows_of(snap) == rows_of(ref) == sorted(expected)

    plan = apply_changes(
        ev, key_columns=["id"], table="t", columns={"id": "text"}
    )._jdf.queryExecution().executedPlan().toString()
    # r11: newest-per-key is a rank-1 window whose rn=1 filter must
    # plan as a map-side partial WindowGroupLimit (the shuffle
    # reduction the r10 max_by form bought, without its SortAggregate)
    assert "WindowGroupLimit" in plan
    # ...and the r10 pre-projection must keep the unread columns out of
    # the windowed pipeline entirely
    for node in ("Window", "Sort", "Exchange"):
        for line in plan.splitlines():
            if line.strip().startswith(("+- " + node, ":- " + node,
                                        node)):
                for dropped in ("before#", "xid#", "commit_ts#"):
                    assert dropped not in line, line


def test_latest_image_skip_flags_are_exact_noops_on_clean_batches(spark):
    """r11: the caller-verified no_truncates/no_key_splits flags must
    be row-identical to the full path on a batch that has no truncates
    and no key-change updates (the profiled steady state), and the
    profile predicates must match the branches' own (a batch WITH
    those ops keeps the full path through apply_batch's gating)."""
    from pg_logical_replication_spark.operators.apply_changes import (
        key_change_predicate,
        latest_image,
    )

    schema = (
        "op string, lsn_long long, `schema` string, `table` string, "
        "key map<string,string>, after map<string,string>, "
        "meta map<string,string>"
    )
    clean = spark.createDataFrame(
        [
            ("insert", 10, "public", "t", None, {"id": "1", "v": "a"},
             {"pos": "0"}),
            ("update", 20, "public", "t", {"id": "1"},
             {"id": "1", "v": "b"}, {"pos": "0"}),
            ("delete", 30, "public", "t", {"id": "2"}, None, {"pos": "0"}),
        ],
        schema,
    )

    def rows_of(df):
        return sorted(
            (r["op"], r["lsn_long"], r["table"], r["after"])
            for r in df.collect()
        )

    full = latest_image(clean, ["id"])
    lean = latest_image(clean, ["id"], no_truncates=True,
                        no_key_splits=True)
    assert rows_of(full) == rows_of(lean)
    # the lean plan must have dropped the broadcast barrier join
    lean_plan = lean._jdf.queryExecution().executedPlan().toString()
    full_plan = full._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in lean_plan
    assert "BroadcastHashJoin" in full_plan

    # the exported predicate counts exactly the rows the split takes:
    # an in-place update (key image == new key) is NOT a key change
    from pyspark.sql import functions as F

    dirty = spark.createDataFrame(
        [
            ("update", 40, "public", "t", {"id": "1"},
             {"id": "9", "v": "moved"}, {"pos": "0"}),
            ("update", 50, "public", "t", {"id": "3"},
             {"id": "3", "v": "same"}, {"pos": "0"}),
        ],
        schema,
    )
    n = dirty.agg(
        F.count_if(key_change_predicate(["id"])).alias("k")
    ).first()["k"]
    assert n == 1


def test_latest_image_no_truncates_still_drops_truncate_rows(spark):
    """ADVICE r11: no_truncates=True skips only the broadcast barrier.
    A mis-asserted flag must not leak op='truncate' rows into the
    image as data rows; the barrier's effect on earlier rows is what
    the caller gave up."""
    from pg_logical_replication_spark.operators.apply_changes import (
        latest_image,
    )

    schema = (
        "op string, lsn_long long, `schema` string, `table` string, "
        "key map<string,string>, after map<string,string>, "
        "meta map<string,string>"
    )
    batch = spark.createDataFrame(
        [
            ("insert", 10, "public", "t", None, {"id": "1", "v": "a"},
             {"pos": "0"}),
            ("truncate", 20, "public", "t", None, None, {"pos": "0"}),
            ("insert", 30, "public", "t", None, {"id": "2", "v": "b"},
             {"pos": "0"}),
        ],
        schema,
    )
    lean = latest_image(batch, ["id"], no_truncates=True)
    assert sorted(r["op"] for r in lean.collect()) == ["insert", "insert"]
    plan = lean._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    full = latest_image(batch, ["id"])
    assert [r["after"]["id"] for r in full.collect()] == ["2"]


def test_apply_changes_passes_skip_flags_through(spark):
    """r11: apply_changes forwards no_truncates/no_key_splits to
    latest_image — snapshot identical on a clean batch, and the lean
    plan consumes the input exactly once (no barrier join, no
    tombstone union re-reading the source)."""
    from pg_logical_replication_spark.operators.apply_changes import (
        apply_changes,
    )

    schema = (
        "op string, lsn_long long, `schema` string, `table` string, "
        "key map<string,string>, after map<string,string>, "
        "meta map<string,string>"
    )
    clean = spark.createDataFrame(
        [
            ("insert", 10, "public", "t", None, {"id": "1", "v": "a"},
             {"pos": "0"}),
            ("update", 20, "public", "t", {"id": "1"},
             {"id": "1", "v": "b"}, {"pos": "0"}),
            ("insert", 30, "public", "t", None, {"id": "2", "v": "c"},
             {"pos": "0"}),
        ],
        schema,
    )
    cols = {"id": "text", "v": "text"}
    full = apply_changes(clean, ["id"], table="t", columns=cols)
    lean = apply_changes(
        clean, ["id"], table="t", columns=cols,
        no_truncates=True, no_key_splits=True,
    )

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows_of(full) == rows_of(lean) == [("1", "b"), ("2", "c")]
    lean_plan = lean._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in lean_plan
    assert "Union" not in lean_plan
    # the full path keeps both (the flags are opt-in facts, not defaults)
    full_plan = full._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in full_plan and "Union" in full_plan
