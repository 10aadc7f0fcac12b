"""Incremental view maintenance (lake/ivm.py + LakeTable.merge_additive).

The invariant under test everywhere: after any sequence of CDC merges
and refreshes, the maintained rollup equals a from-scratch groupBy of
the CURRENT source state — bit-exact on long columns — including group
births (insert), deaths (all rows retracted -> row physically gone),
key-moving updates, NULL group keys, and at-least-once changelog
redelivery (crash between rollup commit and cursor commit)."""


import pytest
from pyspark.sql import functions as F

from dbt_customer360_spark.lake.ivm import AggSpec, IncrementalRollup
from dbt_customer360_spark.lake.table import LakeTable


def _mk(spark, tmp_path, aggs=None):
    src = LakeTable(spark, str(tmp_path / "src"), buckets=4)
    roll = LakeTable(spark, str(tmp_path / "roll"), buckets=4)
    aggs = aggs or [
        AggSpec("n_rows", "count"),
        AggSpec("n_vals", "count_col", "v"),
        AggSpec("sum_v", "sum", "v"),
    ]
    ivm = IncrementalRollup(
        src, roll, ["g"], aggs, cursor_path=str(tmp_path / "cursor.json")
    )
    return src, roll, ivm


def _recompute(src):
    return (
        src.read()
        .groupBy("g")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.count("v").cast("long").alias("n_vals"),
            F.sum("v").alias("sum_v"),
        )
    )


def _assert_synced(ivm, src):
    key = lambda t: (t[0] is not None, t[0] or "", t[1:])
    got = sorted(
        ((r.g, r.n_rows, r.n_vals, r.sum_v) for r in ivm.read().collect()), key=key
    )
    exp = sorted(
        ((r.g, r.n_rows, r.n_vals, r.sum_v) for r in _recompute(src).collect()), key=key
    )
    assert got == exp and got


def test_rollup_tracks_source_through_cdc_batches(spark, tmp_path):
    src, _, ivm = _mk(spark, tmp_path)
    rows = [(i, f"g{i % 5}" if i % 11 else None, i * 10 if i % 7 else None) for i in range(60)]
    src.merge(
        spark.createDataFrame(rows, "id long, g string, v long"), ["id"], batch_id="b0"
    )
    assert ivm.refresh() is not None
    _assert_synced(ivm, src)

    # batch 2: updates (some moving rows BETWEEN groups), deletes, inserts
    b2 = [(i, f"g{(i + 1) % 5}", i * 3, False) for i in range(0, 30, 3)]
    b2 += [(i, None, None, True) for i in range(1, 20, 4)]
    b2 += [(100 + i, "g9", 7, False) for i in range(5)]
    src.merge(
        spark.createDataFrame(b2, "id long, g string, v long, is_del boolean"),
        ["id"],
        batch_id="b1",
        delete_col="is_del",
    )
    assert ivm.refresh() is not None
    _assert_synced(ivm, src)
    assert ivm.refresh() is None  # caught up -> no-op


def test_fully_retracted_group_physically_deleted(spark, tmp_path):
    src, roll, ivm = _mk(spark, tmp_path)
    src.merge(
        spark.createDataFrame(
            [(1, "a", 5), (2, "a", 6), (3, "b", 7)], "id long, g string, v long"
        ),
        ["id"],
        batch_id="b0",
    )
    ivm.refresh()
    src.merge(
        spark.createDataFrame(
            [(1, "a", 5, True), (2, "a", 6, True)], "id long, g string, v long, is_del boolean"
        ),
        ["id"],
        batch_id="b1",
        delete_col="is_del",
    )
    ivm.refresh()
    assert [r.g for r in roll.read().collect()] == ["b"]  # no zero-count ghost row
    _assert_synced(ivm, src)


def test_redelivery_after_cursor_crash_is_noop(spark, tmp_path):
    src, roll, ivm = _mk(spark, tmp_path)
    src.merge(
        spark.createDataFrame([(1, "a", 5)], "id long, g string, v long"),
        ["id"],
        batch_id="b0",
    )
    ivm.refresh()
    src.merge(
        spark.createDataFrame([(2, "a", 7)], "id long, g string, v long"),
        ["id"],
        batch_id="b1",
    )
    # simulate: rollup commit lands, cursor write crashes
    frm, to = ivm.reader.position(), src.current_snapshot_id()
    old, new = src.changelog_sides(frm, to)
    sid = roll.merge_additive(
        ivm._delta(old, new), ["g"], liveness_col="__live_rows", batch_id=f"ivm:{frm}-{to}"
    )
    # crash here: cursor NOT committed; a later refresh redelivers the span
    assert ivm.refresh() == sid  # ledger no-op, same snapshot
    assert roll.current_snapshot_id() == sid
    _assert_synced(ivm, src)


def test_avg_derived_at_read_time(spark, tmp_path):
    src, _, ivm = _mk(spark, tmp_path)
    src.merge(
        spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", None)], "id long, g string, v long"
        ),
        ["id"],
        batch_id="b0",
    )
    ivm.refresh()
    got = {r.g: r.avg_v for r in ivm.read(avg={"avg_v": ("sum_v", "n_vals")}).collect()}
    assert got["a"] == 15.0
    assert got["b"] is None  # 0 non-null values -> NULL, not 0/0


def test_min_max_refused(spark, tmp_path):
    with pytest.raises(ValueError, match="min/max"):
        _mk(spark, tmp_path, aggs=[AggSpec("m", "min", "v")])


def test_merge_additive_null_group_keys_fold_together(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
    d1 = spark.createDataFrame([(None, 2, 10), ("a", 1, 5)], "g string, __live_rows long, s long")
    t.merge_additive(d1, ["g"], liveness_col="__live_rows", batch_id="d1")
    d2 = spark.createDataFrame([(None, 1, 4), ("a", -1, -5)], "g string, __live_rows long, s long")
    t.merge_additive(d2, ["g"], liveness_col="__live_rows", batch_id="d2")
    rows = {r.g: (r["__live_rows"], r.s) for r in t.read().collect()}
    assert rows == {None: (3, 14)}  # NULL keys merged; 'a' retracted to 0 -> gone


def test_refresh_from_empty_cursor_is_initial_sync(spark, tmp_path):
    src, _, ivm = _mk(spark, tmp_path)
    for b in range(3):  # several commits BEFORE the first refresh
        src.merge(
            spark.createDataFrame(
                [(b * 10 + i, f"g{i}", i) for i in range(4)], "id long, g string, v long"
            ),
            ["id"],
            batch_id=f"b{b}",
        )
    ivm.refresh()  # one refresh folds the whole history
    _assert_synced(ivm, src)


def test_row_filter_maintains_selected_view_only(spark, tmp_path):
    """row_filter = the view's WHERE clause: rows crossing the
    predicate boundary (merge-on-read tombstone flips) retract from /
    re-enter the rollup, while matching-state updates stay additive."""
    src = LakeTable(spark, str(tmp_path / "src"), buckets=4)
    roll = LakeTable(spark, str(tmp_path / "roll"), buckets=4)
    ivm = IncrementalRollup(
        src,
        roll,
        ["g"],
        [AggSpec("n", "count"), AggSpec("s", "sum", "v")],
        cursor_path=str(tmp_path / "cur.json"),
        row_filter="not coalesce(dead, false)",
    )
    src.merge(
        spark.createDataFrame(
            [(1, "a", 10, False), (2, "a", 20, False), (3, "b", 5, False)],
            "id long, g string, v long, dead boolean",
        ),
        ["id"],
        batch_id="b0",
    )
    ivm.refresh()
    assert {r.g: (r.n, r.s) for r in ivm.read().collect()} == {"a": (2, 30), "b": (1, 5)}
    # tombstone-flip id=2 (leaves view), real update id=1, resurrect nothing
    src.merge(
        spark.createDataFrame(
            [(1, "a", 11, False), (2, "a", 20, True)],
            "id long, g string, v long, dead boolean",
        ),
        ["id"],
        batch_id="b1",
    )
    ivm.refresh()
    assert {r.g: (r.n, r.s) for r in ivm.read().collect()} == {"a": (1, 11), "b": (1, 5)}
    # flip back: re-enters the view
    src.merge(
        spark.createDataFrame(
            [(2, "a", 99, False)], "id long, g string, v long, dead boolean"
        ),
        ["id"],
        batch_id="b2",
    )
    ivm.refresh()
    assert {r.g: (r.n, r.s) for r in ivm.read().collect()} == {"a": (2, 110), "b": (1, 5)}


def test_applier_refreshes_rollup_per_epoch(spark, tmp_path):
    """CDCApplier(rollup=...): the downstream rollup is refreshed after
    every applied micro-batch (before the maintenance tick), so each
    epoch leaves it consistent with the live table state — streaming
    IVM, not an end-of-run recompute."""
    from dbt_customer360_spark.sources.cdc import generate_change_events
    from dbt_customer360_spark.streaming.apply import CDCApplier, replay_batch

    applier = CDCApplier(spark, str(tmp_path / "repos"), buckets=4,
                         assume_dense_batches=True)
    roll = LakeTable(spark, str(tmp_path / "roll"), buckets=4)
    applier.rollup = IncrementalRollup(
        applier.table,
        roll,
        ["repo"],
        [AggSpec("n_paths", "count")],
        cursor_path=str(tmp_path / "cur.json"),
        row_filter="not coalesce(__deleted, false)",
    )
    events = generate_change_events(spark, n_events=4000, n_repos=6,
                                    paths_per_repo=20)
    replay_batch(applier, events, n_batches=3)
    # one rollup commit per epoch (3), cursor caught up
    assert roll.current_snapshot_id() == 3
    assert applier.rollup.refresh() is None
    exp = {
        (r.repo, r.n) for r in applier.state().groupBy("repo")
        .agg(F.count("*").cast("long").alias("n")).collect()
    }
    assert {(r.repo, r.n_paths) for r in applier.rollup.read().collect()} == exp


def test_float_sums_are_refused(spark, tmp_path):
    """Float/double sums cannot cancel exactly under retraction, so
    they are refused: at construction when the source schema is known,
    else at the first refresh. Integer and decimal sums are accepted."""
    ddl = "id long, g string, v long, f double"
    src = LakeTable(spark, str(tmp_path / "src"), buckets=4)

    def rollup(name, aggs):
        roll = LakeTable(spark, str(tmp_path / name), buckets=4)
        return IncrementalRollup(
            src, roll, ["g"], aggs, cursor_path=str(tmp_path / f"{name}.json")
        )

    late = rollup("late", [AggSpec("s", "sum", "f")])  # schema unknown yet
    src.merge(spark.createDataFrame([(1, "a", 2, 0.1)], ddl), ["id"], batch_id="b0")
    with pytest.raises(ValueError, match="floating"):
        late.refresh()
    with pytest.raises(ValueError, match="floating"):
        rollup("f", [AggSpec("n", "count"), AggSpec("s", "sum", "f")])
    with pytest.raises(ValueError, match="floating"):
        rollup("expr", [AggSpec("s", "sum", "v * 0.5d")])
    ok = rollup(
        "ok", [AggSpec("s", "sum", "v"), AggSpec("d", "sum", "cast(f as decimal(10,2))")]
    )
    ok.refresh()
    assert [(r.g, r.s, float(r.d)) for r in ok.read().collect()] == [("a", 2, 0.1)]
