"""Merge-on-read (merge_lsn(mor=True)): delta-file commits, read-time
LWW resolution, CoW/MoR interleave, compaction fold, maintenance debt,
pruning semantics, changelog across MoR snapshots, and the CDCApplier
write_mode='mor' end-to-end equivalence with 'cow'."""

import tempfile

import pytest
from pyspark.sql import functions as F

from dbt_customer360_spark.lake.table import LakeTable

SCHEMA = "repo string, path string, v int, __max_lsn bigint"


def _table(spark, buckets=4):
    return LakeTable(spark, tempfile.mkdtemp(prefix="mortest_"), buckets=buckets)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _state(t):
    return {(r.repo, r.path): (r.v, r["__max_lsn"]) for r in t.read().collect()}


KEYS = ["repo", "path"]


def test_mor_equals_cow_final_state(spark):
    """The same batches through MoR and CoW produce identical state —
    within-batch dups, stale replays, and upserts all land the same."""
    batches = [
        [("r1", "a", 1, 10), ("r1", "b", 2, 11), ("r2", "a", 3, 12)],
        # within-batch duplicate key (lsn 21 wins) + new key
        [("r1", "a", 4, 20), ("r1", "a", 5, 21), ("r3", "z", 6, 22)],
        # stale replay (lsn 5 < stored 21) must lose at read time
        [("r1", "a", 99, 5), ("r2", "a", 7, 30)],
    ]
    cow, mor = _table(spark), _table(spark)
    for i, rows in enumerate(batches):
        cow.merge_lsn(_df(spark, rows), KEYS, batch_id=f"b{i}")
        mor.merge_lsn(_df(spark, rows), KEYS, batch_id=f"b{i}", mor=True)
    assert _state(cow) == _state(mor)
    assert _state(mor)[("r1", "a")] == (5, 21)
    # MoR never rewrote the base: all files are pending deltas
    m = mor._read_manifest()
    assert m["files"] == {}
    assert sum(len(v) for v in m["delta_files"].values()) > 0


def test_mor_exactly_once_replay(spark):
    t = _table(spark)
    rows = [("r", "p", 1, 1)]
    s1 = t.merge_lsn(_df(spark, rows), KEYS, batch_id="e0", mor=True)
    s2 = t.merge_lsn(_df(spark, rows), KEYS, batch_id="e0", mor=True)
    assert s1 == s2
    assert t.read().count() == 1


def test_compact_folds_deltas_and_state_is_stable(spark):
    t = _table(spark)
    t.merge_lsn(_df(spark, [("r", "p", 1, 1), ("r", "q", 2, 2)]), KEYS,
                batch_id="e0", mor=True)
    t.merge_lsn(_df(spark, [("r", "p", 3, 5)]), KEYS, batch_id="e1", mor=True)
    before = _state(t)
    t.compact(KEYS)
    m = t._read_manifest()
    assert m["delta_files"] == {}
    assert m["lsn_col"] is None
    assert _state(t) == before
    assert m["files"]  # deltas folded INTO base files


def test_cow_mor_interleave_and_stale_delta_vs_newer_base(spark):
    """A CoW commit after a pending delta leaves base NEWER than the
    delta for a key; resolution must pick the base row."""
    t = _table(spark)
    t.merge_lsn(_df(spark, [("r", "p", 1, 1)]), KEYS, batch_id="e0")  # CoW base
    t.merge_lsn(_df(spark, [("r", "p", 2, 5)]), KEYS, batch_id="e1", mor=True)
    t.merge_lsn(_df(spark, [("r", "p", 3, 9)]), KEYS, batch_id="e2")  # CoW again
    assert _state(t)[("r", "p")] == (3, 9)
    # and a delta newer than the later base still wins
    t.merge_lsn(_df(spark, [("r", "p", 4, 12)]), KEYS, batch_id="e3", mor=True)
    assert _state(t)[("r", "p")] == (4, 12)


def test_read_where_exact_with_pending_deltas(spark):
    """Manifest pruning is suspended while deltas are pending: an
    update that moves a value out of the requested range must hide the
    stale base value, and a stale delta must not resurrect under a
    newer base row in a file pruning would have skipped."""
    t = _table(spark, buckets=2)
    t.merge_lsn(_df(spark, [("r", "p", 10, 1), ("r", "q", 50, 2)]), KEYS,
                batch_id="e0")
    # update moves p's value out of [0, 20]
    t.merge_lsn(_df(spark, [("r", "p", 100, 5)]), KEYS, batch_id="e1", mor=True)
    got = {(r.repo, r.path): r.v for r in t.read_where({"v": (0, 20)}).collect()}
    assert got == {}
    got = {(r.repo, r.path): r.v
           for r in t.read_where({"v": (40, 200)}).collect()}
    assert got == {("r", "p"): 100, ("r", "q"): 50}
    # stale delta (lsn 3 < base 5 after compact+cow) never resurrects
    t.compact(KEYS)
    t.merge_lsn(_df(spark, [("r", "p", 7, 3)]), KEYS, batch_id="e2", mor=True)
    got = {(r.repo, r.path): r.v for r in t.read_where({"v": (0, 20)}).collect()}
    assert got == {}  # p's live value is still 100 (lsn 5)


def test_read_where_prunes_again_after_compact(spark):
    t = _table(spark, buckets=2)
    t.merge_lsn(_df(spark, [("r", "p", 10, 1)]), KEYS, batch_id="e0", mor=True)
    t.compact(KEYS)
    t2 = LakeTable(spark, t.root, buckets=2, stats_cols=["v"])
    t2.compact(KEYS)  # record stats under the manifest prune columns
    assert t2.read_where({"v": (100, None)}).count() == 0


def test_maybe_compact_counts_delta_debt(spark):
    t = _table(spark, buckets=1)
    for i in range(4):
        t.merge_lsn(_df(spark, [("r", "p", i, i)]), KEYS,
                    batch_id=f"e{i}", mor=True)
    assert sum(len(v) for v in t._read_manifest()["delta_files"].values()) == 4
    assert t.maybe_compact(max_files_per_bucket=8) is None
    sid = t.maybe_compact(max_files_per_bucket=2)
    assert sid is not None
    assert t._read_manifest()["delta_files"] == {}
    assert _state(t)[("r", "p")] == (3, 3)


def test_expire_keeps_referenced_delta_files(spark):
    t = _table(spark, buckets=1)
    t.merge_lsn(_df(spark, [("r", "p", 1, 1)]), KEYS, batch_id="e0", mor=True)
    t.merge_lsn(_df(spark, [("r", "q", 2, 2)]), KEYS, batch_id="e1", mor=True)
    t.expire_snapshots(keep_last=1)
    assert _state(t) == {("r", "p"): (1, 1), ("r", "q"): (2, 2)}


def test_rollback_across_mor_snapshots(spark):
    t = _table(spark, buckets=1)
    s1 = t.merge_lsn(_df(spark, [("r", "p", 1, 1)]), KEYS, batch_id="e0", mor=True)
    t.merge_lsn(_df(spark, [("r", "p", 2, 5)]), KEYS, batch_id="e1", mor=True)
    t.rollback_to(s1)
    assert _state(t)[("r", "p")] == (1, 1)


def test_changelog_spans_mor_commits(spark):
    t = _table(spark, buckets=2)
    s0 = t.merge_lsn(
        _df(spark, [("r", "p", 1, 1), ("r", "q", 2, 2)]), KEYS, batch_id="e0"
    )
    t.merge_lsn(_df(spark, [("r", "p", 9, 5), ("r", "n", 7, 6)]), KEYS,
                batch_id="e1", mor=True)
    log = t.changelog(s0, include_preimage=False)
    got = {(r._change_type, r.repo, r.path): r.v for r in log.collect()}
    assert got == {
        ("update_postimage", "r", "p"): 9,
        ("insert", "r", "n"): 7,
    }


def test_mor_lsn_col_mismatch_refused(spark):
    t = _table(spark)
    t.merge_lsn(_df(spark, [("r", "p", 1, 1)]), KEYS, batch_id="e0", mor=True)
    other = spark.createDataFrame(
        [("r", "p", 2, 9)], "repo string, path string, v int, other_lsn bigint"
    )
    with pytest.raises(ValueError, match="lsn_col"):
        t.merge_lsn(other, KEYS, lsn_col="other_lsn", batch_id="e1", mor=True)


def test_applier_mor_equals_cow(spark):
    """CDCApplier(write_mode='mor') replays to the same live state as
    'cow', including tombstoned deletes, with zero base rewrites until
    maintenance compacts."""
    from dbt_customer360_spark.streaming.apply import CDCApplier

    rows = [
        (1, "update", "r1", "a", "c0", "py", "v1"),
        (2, "update", "r1", "b", "c0", "py", "v2"),
        (3, "update", "r1", "a", "c0", "py", "v3"),
        (4, "delete", "r1", "b", "c0", None, None),
        (5, "update", "r2", "z", "c0", "go", "v4"),
        (6, "update", "r1", "a", "c0", "py", "v5"),
    ]
    ddl = ("lsn bigint, op string, repo string, path string, commit string, "
           "lang string, content string")

    def run(mode):
        app = CDCApplier(
            spark, tempfile.mkdtemp(prefix=f"mor_{mode}_") + "/t",
            buckets=4, write_mode=mode,
        )
        for i, chunk in enumerate([rows[:3], rows[3:]]):
            app.apply_batch(spark.createDataFrame(chunk, ddl), i)
        return app

    cow, mor = run("cow"), run("mor")
    key = ["repo", "path", "lang", "content", "__max_lsn", "__deleted"]
    a = sorted(tuple(r[c] for c in key) for r in cow.table.read().collect())
    b = sorted(tuple(r[c] for c in key) for r in mor.table.read().collect())
    assert a == b
    assert mor.table._read_manifest()["files"] == {}
    # maintenance folds the deltas and preserves state
    mor.maybe_maintain()
    mor.table.compact(["repo", "path"])
    c = sorted(tuple(r[c] for c in key) for r in mor.table.read().collect())
    assert a == c


def test_non_lsn_writes_refuse_pending_deltas(spark):
    """Plain merge()/merge_additive() have 'batch wins' semantics the
    read-time LWW resolution would silently override — they must refuse
    until the deltas are folded."""
    t = _table(spark)
    t.merge_lsn(_df(spark, [("r", "p", 1, 1)]), KEYS, batch_id="e0", mor=True)
    plain = spark.createDataFrame([("r", "p", 2)], "repo string, path string, v int")
    with pytest.raises(ValueError, match="pending merge-on-read"):
        t.merge(plain, KEYS, batch_id="e1")
    t.compact(KEYS)
    t.merge(plain, KEYS, batch_id="e1")  # folds cleanly afterwards
    got = {(r.repo, r.path): r.v for r in t.read().collect()}
    assert got == {("r", "p"): 2}


def test_read_point_single_bucket_get(spark):
    """read_point: the serving GET — scans only the key's bucket (base
    + that bucket's deltas), resolves LWW, returns tombstones so the
    caller can tell deleted from never-existed."""
    t = _table(spark)
    rows = [(f"r{i}", f"p{i}", i, i) for i in range(32)]
    t.merge_lsn(_df(spark, rows), KEYS, batch_id="b0")
    # MoR update to one key, not yet compacted
    t.merge_lsn(_df(spark, [("r3", "p3", 99, 100)]), KEYS, batch_id="b1", mor=True)
    got = t.read_point({"repo": "r3", "path": "p3"}).collect()
    assert len(got) == 1 and got[0].v == 99 and got[0]["__max_lsn"] == 100
    # unaffected key still served correctly through the delta-pending table
    got7 = t.read_point({"repo": "r7", "path": "p7"}).collect()
    assert len(got7) == 1 and got7[0].v == 7
    # never-existed key: empty
    assert t.read_point({"repo": "rX", "path": "pX"}).count() == 0
    # the scan touches ONE bucket's files, not the table's
    m = t._read_manifest()
    point_files = set(t.read_point({"repo": "r7", "path": "p7"}).inputFiles())
    all_files = set(t.read().inputFiles())
    assert point_files and point_files < all_files
    assert len(m["files"]) > 1  # the prune had something to prune


def test_read_point_requires_full_key_and_tombstones(spark):
    t = _table(spark)
    t.merge_lsn(_df(spark, [("r", "p", 1, 1)]), KEYS, batch_id="b0")
    with pytest.raises(ValueError, match="FULL merge key"):
        t.read_point({"repo": "r"})
    # delete tombstone (a __deleted data column, the CDCApplier
    # convention) stays visible through read_point
    d = _df(spark, [("r", "p", 0, 2)]).withColumn("__deleted", F.lit(True))
    t.merge_lsn(d, KEYS, batch_id="b1")
    got = t.read_point({"repo": "r", "path": "p"}).collect()
    assert len(got) == 1 and bool(got[0]["__deleted"])


def test_mor_first_write_sizes_a_default_table(spark):
    """A merge-on-read epoch can be the first write into a table created
    with buckets=None: it sizes the layout from the batch's estimate,
    and its deltas, GETs and a later copy-on-write merge all use it."""
    from dbt_customer360_spark.session import local_df

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    try:
        rows = [(f"r{i % 5}", f"p{i}", i, i) for i in range(200)]
        df = local_df(spark, rows, SCHEMA)
        est = df._jdf.queryExecution().analyzed().stats().sizeInBytes()
        spark.conf.set(key, f"{est // 3}b")  # 4 buckets hold it, 2 do not
        t = LakeTable(spark, tempfile.mkdtemp(prefix="mortest_"))
        t.merge_lsn(df, KEYS, batch_id="e0", mor=True)
        assert t.bucket_count() == 4
        assert set(t._read_manifest()["delta_files"]) <= {"0", "1", "2", "3"}
        t.merge_lsn(_df(spark, [("r1", "p1", 100, 500)]), KEYS, batch_id="e1")
        want = {(r, p): (v, lsn) for r, p, v, lsn in rows}
        want[("r1", "p1")] = (100, 500)
        assert _state(t) == want
        got = t.read_point({"repo": "r2", "path": "p7"}).collect()
        assert [(r.v, r["__max_lsn"]) for r in got] == [(7, 7)]
    finally:
        spark.conf.set(key, old)
