import pytest
import tempfile

from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from dbt_customer360_spark.lake.table import LakeTable


def _table(spark, buckets=4):
    return LakeTable(spark, tempfile.mkdtemp(prefix="laketest_"), buckets=buckets)


def test_merge_upsert_and_delete(spark):
    t = _table(spark)
    base = spark.createDataFrame(
        [("r1", "a", 1), ("r1", "b", 2), ("r2", "a", 3)], "repo string, path string, v int"
    )
    t.merge(base, ["repo", "path"], batch_id="b0")
    batch = spark.createDataFrame(
        [("r1", "a", 10, False), ("r2", "a", 0, True), ("r3", "z", 7, False)],
        "repo string, path string, v int, is_del boolean",
    )
    t.merge(batch, ["repo", "path"], batch_id="b1", delete_col="is_del")
    got = {(r.repo, r.path): r.v for r in t.read().collect()}
    assert got == {("r1", "a"): 10, ("r1", "b"): 2, ("r3", "z"): 7}


def test_merge_stores_one_row_per_key(spark):
    """merge groups keys null-safely, like merge_lsn: re-merging
    (r1, NULL) replaces its row and a delete row for it removes it. Two
    upserts of one key in one batch fail before commit (SQL MERGE's
    cardinality rule)."""
    t = _table(spark)
    keys = ["repo", "path"]

    def batch(*rows):
        return spark.createDataFrame(
            list(rows), "repo string, path string, v int, is_del boolean"
        )

    t.merge(batch(("r1", None, 1, False)), keys, batch_id="b0", delete_col="is_del")
    t.merge(batch(("r1", None, 2, False)), keys, batch_id="b1", delete_col="is_del")
    assert [(r.repo, r.path, r.v) for r in t.read().collect()] == [("r1", None, 2)]
    t.merge(batch(("r1", None, None, True)), keys, batch_id="b2", delete_col="is_del")
    assert t.read().count() == 0

    sid = t.current_snapshot_id()
    with pytest.raises(SparkRuntimeException, match="more than once"):
        t.merge(
            batch(("r1", "a", 1, False), ("r1", "a", 2, False)),
            keys,
            batch_id="b3",
            delete_col="is_del",
        )
    assert t.current_snapshot_id() == sid and t.read().count() == 0


def test_rollback_to_restores_state_and_replay_ledger(spark):
    """Iceberg-style rollback: a new forward snapshot carries the old
    manifest, so table state AND the batch_id ledger revert together —
    a stream replayed from the rollback point re-applies the rolled-back
    batch instead of being skipped as a duplicate."""
    import pytest

    t = _table(spark)
    df1 = spark.createDataFrame([("r", "p", 1)], "repo string, path string, v int")
    df2 = spark.createDataFrame([("r", "p", 2), ("r", "q", 9)], "repo string, path string, v int")
    s1 = t.merge(df1, ["repo", "path"], batch_id="b1")
    s2 = t.merge(df2, ["repo", "path"], batch_id="b2")
    s3 = t.rollback_to(s1)
    assert s3 == s2 + 1  # history moves FORWARD
    assert {(r.repo, r.path, r.v) for r in t.read().collect()} == {("r", "p", 1)}
    # interim snapshot still time-travelable until expiry
    assert t.read(snapshot_id=s2).count() == 2
    # ledger reverted: b2 re-applies (not skipped), b1 still skips
    assert "b2" not in t.committed_batch_ids()
    t.merge(df2, ["repo", "path"], batch_id="b2")
    assert {(r.repo, r.path, r.v) for r in t.read().collect()} == {
        ("r", "p", 2), ("r", "q", 9),
    }
    # expiry removes the rollback target's files -> refuse
    t0 = t._snapshot_ids()[0]
    for _ in range(3):  # churn so old bucket dirs become unreferenced
        t.compact(["repo", "path"])
    t.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="expiry horizon"):
        t.rollback_to(t0)


def test_rollback_to_zero_truncates_and_reverts_all_fields(spark):
    """r4 ADVICE: the new manifest is built FROM the target, so fields
    that exist now but not then ("keys" pre-first-merge) revert too,
    and rollback_to(0) is truncate-to-empty, not a misleading error."""
    t = _table(spark)
    df = spark.createDataFrame([("r", "p", 1)], "repo string, path string, v int")
    s1 = t.merge(df, ["repo", "path"], batch_id="b1")
    assert "keys" in t._read_manifest()
    s2 = t.rollback_to(0)
    assert s2 == s1 + 1  # forward history
    assert t.read().count() == 0
    m = t._read_manifest()
    assert "keys" not in m          # reverted, not carried forward
    assert m["batch_ids"] == []     # ledger truncated: b1 re-applies
    t.merge(df, ["repo", "path"], batch_id="b1")
    assert t.read().count() == 1


def test_idempotent_batch_ids(spark):
    t = _table(spark)
    df = spark.createDataFrame([("r", "p", 1)], "repo string, path string, v int")
    s1 = t.merge(df, ["repo", "path"], batch_id="e1")
    s2 = t.merge(df, ["repo", "path"], batch_id="e1")  # replay
    assert s1 == s2 and t.read().count() == 1


def test_untouched_buckets_carry_over(spark):
    t = _table(spark, buckets=8)
    base = spark.range(100).select(
        F.lit("r").alias("repo"), F.col("id").cast("string").alias("path"), F.col("id").alias("v")
    )
    t.merge(base, ["repo", "path"], batch_id="b0")
    m0 = t._read_manifest()
    one = spark.createDataFrame([("r", "5", 999)], "repo string, path string, v long")
    t.merge(one, ["repo", "path"], batch_id="b1")
    m1 = t._read_manifest()
    unchanged = sum(1 for b, p in m1["files"].items() if m0["files"].get(b) == p)
    assert unchanged == len(m1["files"]) - 1  # only one bucket rewritten
    assert t.read().filter("path = '5'").first().v == 999
    assert t.read().count() == 100


def test_schema_evolution_add_and_rename(spark):
    t = _table(spark)
    t.merge(
        spark.createDataFrame([("r", "p", "x")], "repo string, path string, lang string"),
        ["repo", "path"],
        batch_id="b0",
    )
    # added column -> schema merge, old rows NULL-backfilled
    t.merge(
        spark.createDataFrame(
            [("r", "q", "y", "main")], "repo string, path string, lang string, branch string"
        ),
        ["repo", "path"],
        batch_id="b1",
    )
    rows = {r.path: (r.lang, r.branch) for r in t.read().collect()}
    assert rows == {"p": ("x", None), "q": ("y", "main")}
    # renamed feed column resolves through the versioned mapping
    t.rename_column("lang", "language")
    feed = spark.createDataFrame(
        [("r", "p", "z")], "repo string, path string, language string"
    )
    resolved = t.resolve_feed_columns(feed)
    assert "lang" in resolved.columns and "language" not in resolved.columns
    assert t._read_manifest()["mapping_version"] == 1


def test_compaction_drops_tombstones_and_merges_files(spark):
    t = _table(spark, buckets=2)
    df = spark.createDataFrame(
        [("r", "p", 1, False), ("r", "q", 2, True), ("r", "s", 3, False)],
        "repo string, path string, __max_lsn long, __deleted boolean",
    )
    t.merge_lsn(df, ["repo", "path"], batch_id="b0")
    # pile up per-bucket delta files through further merges (append() is
    # refused on key-merged tables — see test_append_refused_on_merged_table)
    for i in range(3):
        t.merge_lsn(
            spark.createDataFrame(
                [(f"r{i}", f"x{i}", 10 + i, False)],
                "repo string, path string, __max_lsn long, __deleted boolean",
            ),
            ["repo", "path"],
            batch_id=f"a{i}",
        )
    n_files_before = sum(len(v) for v in t._read_manifest()["files"].values())
    t.compact(keys=["repo", "path"], drop_tombstones_col="__deleted")
    n_files_after = sum(len(v) for v in t._read_manifest()["files"].values())
    assert n_files_after <= n_files_before
    rows = {r.path for r in t.read().filter("repo = 'r'").collect()}
    assert rows == {"p", "s"}  # tombstone physically gone


def test_udf_sha256_equals_native(spark):
    from dbt_customer360_spark.functions import udfs as U
    from pyspark.sql import functions as F

    d = spark.createDataFrame([("hello",), ("",), (None,)], "content string")
    rows = d.select(
        U.content_sha256("content").alias("u"),
        U.content_sha256_native("content").alias("n"),
    ).collect()
    assert all(r.u == r.n for r in rows)


def test_merge_lsn_rejects_stray_buckets(spark):
    """A caller-supplied `touched` list that misses buckets present in
    the batch must FAIL the commit (silent-row-loss guard, round-1
    advice on lake/table.py merge_lsn)."""
    import pytest

    t = _table(spark, buckets=4)
    rows = [(f"r{i}", "p", i, False) for i in range(8)]
    df = spark.createDataFrame(
        rows, "repo string, path string, __max_lsn long, __deleted boolean"
    )
    t.merge_lsn(df, ["repo", "path"], batch_id="seed")  # touched derived
    assert t.read().count() == 8
    update = spark.createDataFrame(
        [(f"r{i}", "p", 100 + i, False) for i in range(8)],
        "repo string, path string, __max_lsn long, __deleted boolean",
    )
    with pytest.raises(ValueError, match="outside"):
        t.merge_lsn(update, ["repo", "path"], batch_id="bad", touched=[0])
    # the failed commit must not have changed the table
    assert t.read().filter(F.col("__max_lsn") >= 100).count() == 0


def test_salted_merge_identical_to_unsalted_on_skew(spark):
    """Explicit two-phase salted merge (north_star hot-repo salting):
    byte-identical final state to the unsalted plan on a stream where
    one key carries half the events."""
    import pyspark.sql.functions as SF

    n = 20000
    df = spark.range(n).select(
        SF.when(SF.col("id") % 2 == 0, SF.lit("hot")).otherwise(
            SF.concat(SF.lit("r"), (SF.col("id") % 97).cast("string"))
        ).alias("repo"),
        SF.lit("p").alias("path"),
        SF.col("id").alias("__max_lsn"),
        (SF.col("id") % 13 == 0).alias("__deleted"),
        SF.sha2(SF.col("id").cast("string"), 256).alias("content"),
    )
    plain = _table(spark, buckets=4)
    salted = _table(spark, buckets=4)
    plain.merge_lsn(df, ["repo", "path"], batch_id="b0")
    salted.merge_lsn(df, ["repo", "path"], batch_id="b0", salt=8)
    a = sorted(map(tuple, plain.read().collect()))
    b = sorted(map(tuple, salted.read().collect()))
    assert a == b and len(a) > 0


def test_expire_snapshots_vacuums_unreferenced_files(spark):
    import os

    t = _table(spark, buckets=2)
    for i in range(4):
        df = spark.createDataFrame(
            [("r", f"p{j}", i * 10 + j) for j in range(4)], "repo string, path string, v int"
        )
        t.merge(df, ["repo", "path"], batch_id=f"b{i}")
    before = set(os.listdir(os.path.join(t.root, "data")))
    expected = {(r.repo, r.path): r.v for r in t.read().collect()}
    removed = t.expire_snapshots(keep_last=1)
    assert removed and set(removed) <= before
    # live state unchanged, old snapshots gone, idempotence preserved
    assert {(r.repo, r.path): r.v for r in t.read().collect()} == expected
    assert t._snapshot_ids() == [t.current_snapshot_id()]
    assert "b3" in t.committed_batch_ids()
    s = t.merge(
        spark.createDataFrame([("r", "p0", 99)], "repo string, path string, v int"),
        ["repo", "path"], batch_id="b3",
    )
    assert s == t.current_snapshot_id()  # replay of b3 is still a no-op


def test_maybe_compact_is_cost_gated(spark):
    t = _table(spark, buckets=1)
    df = spark.createDataFrame([("r", "p", 1)], "repo string, path string, v int")
    t.append(df)
    assert t.maybe_compact(max_files_per_bucket=4) is None  # tight layout: no-op
    for i in range(6):
        t.append(spark.createDataFrame([("r", f"a{i}", i)], "repo string, path string, v int"))
    sid = t.maybe_compact(max_files_per_bucket=4)
    assert sid is not None and t.read().count() == 7
    import os
    m = t._read_manifest()
    assert max(len(p) for p in m["files"].values()) == 1  # merged small files


def test_murmur3_merge_one_file_per_bucket(spark):
    """One-shuffle merge layout: on a murmur3 table every bucket dir
    written by merge_lsn holds exactly ONE parquet part file — proof
    the pre-agg repartition(buckets, *keys) IS the write layout (no
    second shuffle scattering buckets across tasks)."""
    import glob
    import os

    t = _table(spark, buckets=8)
    assert t._read_manifest()["bucket_fn"] == "murmur3"
    base = spark.range(500).select(
        F.concat(F.lit("r"), (F.col("id") % 37).cast("string")).alias("repo"),
        F.col("id").cast("string").alias("path"),
        F.col("id").alias("__max_lsn"),
        F.lit(False).alias("__deleted"),
    )
    t.merge_lsn(base, ["repo", "path"], batch_id="b0")
    m = t._read_manifest()
    for b, paths in m["files"].items():
        assert len(paths) == 1
        parts = glob.glob(os.path.join(t.root, "data", paths[0], "part-*"))
        assert len(parts) == 1, (b, parts)


def test_commit_conflict_detected_not_overwritten(spark):
    """Optimistic concurrency: a writer whose target snapshot id was
    taken while it worked gets CommitConflict; the winner's snapshot
    survives untouched and a retry (fresh manifest read) succeeds."""
    import json
    import os

    from dbt_customer360_spark.lake.table import CommitConflict

    t = _table(spark)
    df = spark.createDataFrame([("r", "p", 1)], "repo string, path string, v int")
    t.merge(df, ["repo", "path"], batch_id="b0")  # snapshot 1

    # writer A reads the manifest, then writer B commits snapshot 2
    stale = t._read_manifest()
    winner = t._read_manifest()
    winner["batch_ids"].append("winner")
    t._commit(winner)  # snapshot 2

    stale["batch_ids"].append("loser")
    import pytest

    with pytest.raises(CommitConflict):
        t._commit(stale)
    with open(os.path.join(t.root, "snapshots", "2.json")) as f:
        assert "winner" in json.load(f)["batch_ids"]
    # the conflicted manifest is NOT bumped: a naive retry with the SAME
    # dict must re-target snapshot 2 and re-conflict (a pre-bumped dict
    # would land at 3 and silently discard the winner's file lists)
    assert stale["snapshot_id"] == 1
    with pytest.raises(CommitConflict):
        t._commit(stale)
    # retry against a fresh read succeeds as snapshot 3
    retry = t._read_manifest()
    retry["batch_ids"].append("loser")
    assert t._commit(retry) == 3
    assert retry["snapshot_id"] == 3  # successful commit bumps the caller's dict


def test_changelog_insert_update_delete(spark):
    """changelog(a, b): net row-level diff typed insert / update_pre+post /
    delete; unchanged rows emit nothing; preimage suppressible."""
    t = _table(spark)
    base = spark.createDataFrame(
        [("r1", "a", 1), ("r1", "b", 2), ("r2", "a", 3)],
        "repo string, path string, v int",
    )
    s1 = t.merge(base, ["repo", "path"], batch_id="b0")
    batch = spark.createDataFrame(
        [("r1", "a", 10, False), ("r2", "a", 0, True), ("r3", "z", 7, False)],
        "repo string, path string, v int, is_del boolean",
    )
    s2 = t.merge(batch, ["repo", "path"], batch_id="b1", delete_col="is_del")
    got = {
        (r._change_type, r.repo, r.path, r.v)
        for r in t.changelog(s1, s2).collect()
    }
    assert got == {
        ("update_preimage", "r1", "a", 1),
        ("update_postimage", "r1", "a", 10),
        ("delete", "r2", "a", 3),
        ("insert", "r3", "z", 7),
    }  # ('r1','b') unchanged -> absent
    post_only = {
        (r._change_type, r.repo, r.path, r.v)
        for r in t.changelog(s1, s2, include_preimage=False).collect()
    }
    assert post_only == got - {("update_preimage", "r1", "a", 1)}


def test_changelog_net_effect_and_bucket_pruning(spark):
    """A row inserted then deleted inside the span emits nothing; the
    diff reads ONLY buckets whose file lists changed between the
    manifests (scan-pruning at the heart of the 100 TB story)."""
    t = _table(spark, buckets=8)
    rows = [(f"r{i}", "p", i) for i in range(16)]
    s1 = t.merge(
        spark.createDataFrame(rows, "repo string, path string, v int"),
        ["repo", "path"],
        batch_id="b0",
    )
    # touch one key (update) + insert-then-delete another
    t.merge(
        spark.createDataFrame(
            [("r3", "p", 333, False), ("zz", "q", 1, False)],
            "repo string, path string, v int, is_del boolean",
        ),
        ["repo", "path"],
        batch_id="b1",
        delete_col="is_del",
    )
    s3 = t.merge(
        spark.createDataFrame(
            [("zz", "q", 1, True)], "repo string, path string, v int, is_del boolean"
        ),
        ["repo", "path"],
        batch_id="b2",
        delete_col="is_del",
    )
    log = t.changelog(s1, s3)
    got = {(r._change_type, r.repo, r.v) for r in log.collect()}
    assert got == {
        ("update_preimage", "r3", 3),
        ("update_postimage", "r3", 333),
    }, got
    # pruning: the scan must reference only the changed buckets' files
    m1, m3 = t._read_manifest(s1), t._read_manifest(s3)
    unchanged = {
        p
        for b in m1["files"]
        if m1["files"].get(b) == m3["files"].get(b)
        for p in m1["files"][b]
    }
    assert unchanged, "test needs untouched buckets to be meaningful"
    plan = log._jdf.queryExecution().executedPlan().toString()
    for p in unchanged:
        assert p not in plan, f"changelog scanned untouched bucket file {p}"


def test_changelog_schema_evolution_span(spark):
    """A column added inside the span NULL-backfills on the from side;
    rows differing only in the new column classify as updates."""
    t = _table(spark)
    s1 = t.merge(
        spark.createDataFrame([("r1", "a", 1)], "repo string, path string, v int"),
        ["repo", "path"],
        batch_id="b0",
    )
    s2 = t.merge(
        spark.createDataFrame(
            [("r1", "a", 1, "main")], "repo string, path string, v int, branch string"
        ),
        ["repo", "path"],
        batch_id="b1",
    )
    got = {
        (r._change_type, r.v, r.branch) for r in t.changelog(s1, s2).collect()
    }
    assert got == {("update_preimage", 1, None), ("update_postimage", 1, "main")}


def test_changelog_errors(spark):
    t = _table(spark)
    s1 = t.merge(
        spark.createDataFrame([("r1", "a", 1)], "repo string, path string, v int"),
        ["repo", "path"],
        batch_id="b0",
    )
    s2 = t.merge(
        spark.createDataFrame([("r1", "a", 2)], "repo string, path string, v int"),
        ["repo", "path"],
        batch_id="b1",
    )
    import pytest

    with pytest.raises(ValueError, match="newer"):
        t.changelog(s2, s1)
    # expired from-side files must refuse, not silently mis-diff
    t.merge(
        spark.createDataFrame([("r1", "a", 3)], "repo string, path string, v int"),
        ["repo", "path"],
        batch_id="b2",
    )
    t.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        t.changelog(s1, s2)


def test_read_where_data_skipping(spark):
    """Manifest file stats (footer min/max, no Spark job) + read_where:
    results are exactly the residual filter's, and entries whose range
    cannot match are never opened (plan-asserted)."""
    import datetime as dt

    t = LakeTable(
        spark, tempfile.mkdtemp(prefix="lakestats_"), buckets=4,
        stats_cols=["lsn", "ts"],
    )
    rows = [
        (f"r{i}", "p", i * 100, dt.datetime(2024, 1, 1 + i % 20, 12, 0))
        for i in range(40)
    ]
    t.merge(
        spark.createDataFrame(rows, "repo string, path string, lsn long, ts timestamp"),
        ["repo", "path"],
        batch_id="b0",
    )
    m = t._read_manifest()
    assert m["stats_cols"] == ["lsn", "ts"]
    all_entries = [p for ps in m["files"].values() for p in ps]
    assert all(e in m["file_stats"] for e in all_entries)
    assert all(
        set(m["file_stats"][e]) == {"lsn", "ts"} for e in all_entries
    ), m["file_stats"]

    # exact-result check vs a full-scan filter
    got = {(r.repo, r.lsn) for r in t.read_where({"lsn": (3800, None)}).collect()}
    want = {
        (r.repo, r.lsn)
        for r in t.read().filter(F.col("lsn") >= 3800).collect()
    }
    assert got == want and got  # non-empty
    # pruning: entries whose lsn-max < 3800 must not appear in the plan
    plan = (
        t.read_where({"lsn": (3800, None)})
        ._jdf.queryExecution().executedPlan().toString()
    )
    prunable = [
        e for e in all_entries if m["file_stats"][e]["lsn"][1] < 3800
    ]
    assert prunable, "test needs at least one prunable entry"
    for e in prunable:
        assert e not in plan, f"read_where opened prunable entry {e}"

    # timestamp-range pruning (iso-string stats), exact results
    lo = dt.datetime(2024, 1, 18)
    got_ts = {r.repo for r in t.read_where({"ts": (lo, None)}).collect()}
    want_ts = {r.repo for r in t.read().filter(F.col("ts") >= F.lit(lo)).collect()}
    assert got_ts == want_ts and got_ts

    # a column without recorded stats falls back to read-everything +
    # residual filter (still exact)
    got_r = {r.repo for r in t.read_where({"repo": ("r39", "r39")}).collect()}
    assert got_r == {"r39"}

    # an empty-intersection range reads nothing and returns no rows
    assert t.read_where({"lsn": (10**9, None)}).count() == 0


def test_read_where_stats_survive_merge_and_rollback(spark):
    """Stats reconcile at every commit: carried-over entries keep
    theirs, rewritten buckets get fresh footers, rollback re-prunes
    against the restored file list."""
    t = LakeTable(
        spark, tempfile.mkdtemp(prefix="lakestats2_"), buckets=4,
        stats_cols=["lsn"],
    )
    t.merge(
        spark.createDataFrame(
            [(f"r{i}", "p", i) for i in range(20)],
            "repo string, path string, lsn long",
        ),
        ["repo", "path"],
        batch_id="b0",
    )
    s1 = t.current_snapshot_id()
    t.merge(
        spark.createDataFrame([("r0", "p", 999)], "repo string, path string, lsn long"),
        ["repo", "path"],
        batch_id="b1",
    )
    m = t._read_manifest()
    live = {p for ps in m["files"].values() for p in ps}
    assert set(m["file_stats"]) == live  # no stale entries, full coverage
    assert {r.lsn for r in t.read_where({"lsn": (999, None)}).collect()} == {999}
    t.rollback_to(s1)
    assert t.read_where({"lsn": (999, None)}).count() == 0
    assert {r.lsn for r in t.read_where({"lsn": (19, None)}).collect()} == {19}


def test_changelog_reader_incremental_consumption(spark):
    """ChangelogReader: initial sync = whole table as inserts; each
    poll returns only the span since the committed cursor; an
    uncommitted poll re-delivers identically (at-least-once); caught-up
    polls return None; downstream state reconstructed purely from the
    change feed equals the table at every step."""
    import os as _os

    from dbt_customer360_spark.lake.table import ChangelogReader

    root = tempfile.mkdtemp(prefix="clreader_")
    t = LakeTable(spark, f"{root}/t", buckets=4)
    reader = ChangelogReader(t, f"{root}/cursor.json")
    assert reader.poll() is None  # empty table, nothing to consume

    downstream = {}

    def apply(df):
        for r in df.collect():
            k = (r.repo, r.path)
            if r._change_type == "delete":
                downstream.pop(k, None)
            else:  # insert / update_postimage
                downstream[k] = r.v

    def table_now():
        return {(r.repo, r.path): r.v for r in t.read().collect()}

    t.merge(
        spark.createDataFrame(
            [("r1", "a", 1), ("r2", "b", 2)], "repo string, path string, v int"
        ),
        ["repo", "path"],
        batch_id="b0",
    )
    df, sid = reader.poll()
    first = {(r._change_type, r.repo, r.path, r.v) for r in df.collect()}
    assert first == {("insert", "r1", "a", 1), ("insert", "r2", "b", 2)}
    # crash before commit: the SAME span is re-delivered
    df2, sid2 = reader.poll()
    assert sid2 == sid and {
        (r._change_type, r.repo, r.path, r.v) for r in df2.collect()
    } == first
    apply(df2)
    reader.commit(sid2)
    assert downstream == table_now()
    assert reader.poll() is None  # caught up

    # two more commits consumed in ONE poll (net effect)
    t.merge(
        spark.createDataFrame(
            [("r1", "a", 10, False), ("r2", "b", 0, True)],
            "repo string, path string, v int, is_del boolean",
        ),
        ["repo", "path"], batch_id="b1", delete_col="is_del",
    )
    t.merge(
        spark.createDataFrame([("r3", "c", 3)], "repo string, path string, v int"),
        ["repo", "path"], batch_id="b2",
    )
    df, sid = reader.poll()
    apply(df)
    reader.commit(sid)
    assert downstream == table_now() == {("r1", "a"): 10, ("r3", "c"): 3}
    assert _os.path.exists(f"{root}/cursor.json")
    assert reader.position() == t.current_snapshot_id()


def test_bucket_count_rides_the_manifest(spark):
    """Regression: reopening a table with a different constructor
    `buckets` must NOT change the layout math — before the fix the
    mismatched pmod made touched-bucket pruning read the wrong files
    and a merge DUPLICATED the updated key (one row per layout)."""
    root = tempfile.mkdtemp(prefix="lakebuckets_")
    t8 = LakeTable(spark, root, buckets=8)
    t8.merge(
        spark.createDataFrame(
            [(f"r{i}", "p", i) for i in range(20)], "repo string, path string, v int"
        ),
        ["repo", "path"],
        batch_id="b0",
    )
    t4 = LakeTable(spark, root, buckets=4)  # wrong constructor value
    assert t4.bucket_count() == 8  # manifest wins
    t4.merge(
        spark.createDataFrame([("r0", "p", 100)], "repo string, path string, v int"),
        ["repo", "path"],
        batch_id="b1",
    )
    rows = t4.read().collect()
    assert len(rows) == 20
    assert {r.v for r in rows if r.repo == "r0"} == {100}


def test_rebucket_rewrites_layout_atomically(spark):
    """rebucket(): full rewrite under the new count; subsequent merges
    prune correctly against the new layout; state is unchanged."""
    root = tempfile.mkdtemp(prefix="lakerebucket_")
    t = LakeTable(spark, root, buckets=2)
    t.merge(
        spark.createDataFrame(
            [(f"r{i}", "p", i) for i in range(30)], "repo string, path string, v int"
        ),
        ["repo", "path"],
        batch_id="b0",
    )
    before = {(r.repo, r.v) for r in t.read().collect()}
    t.rebucket(8)
    assert t.bucket_count() == 8
    m = t._read_manifest()
    assert len(m["files"]) > 2  # really spread across the new layout
    assert {(r.repo, r.v) for r in t.read().collect()} == before
    t.merge(
        spark.createDataFrame([("r3", "p", 999)], "repo string, path string, v int"),
        ["repo", "path"],
        batch_id="b1",
    )
    rows = t.read().collect()
    assert len(rows) == 30 and {r.v for r in rows if r.repo == "r3"} == {999}


def test_merge_refuses_mismatched_keys(spark):
    """An incremental merge by different keys than the bucket layout
    must refuse (it would prune the wrong buckets); a full-rewrite
    re-layout via compact(keys=...) is the sanctioned path and
    subsequent merges under the new keys work."""
    import pytest

    t = _table(spark)
    t.merge(
        spark.createDataFrame(
            [("r1", "a", 1), ("r2", "b", 2)], "repo string, path string, v int"
        ),
        ["repo", "path"],
        batch_id="b0",
    )
    with pytest.raises(ValueError, match="bucket-layout"):
        t.merge(
            spark.createDataFrame([("r1", "a", 9)], "repo string, path string, v int"),
            ["repo"],
            batch_id="b1",
        )
    t.compact(keys=["repo"])  # explicit re-layout
    t.merge(
        spark.createDataFrame([("r1", "z", 9)], "repo string, path string, v int"),
        ["repo"],
        batch_id="b2",
    )
    got = {(r.repo, r.path, r.v) for r in t.read().collect()}
    assert got == {("r1", "z", 9), ("r2", "b", 2)}


def test_append_refuses_key_merged_table_and_ops_report(spark):
    """append() on a key-merged table would silently duplicate keys —
    refuse; ops_report() summarizes table health manifest-only, with
    an optional one-job tombstone count."""
    import pytest

    t = _table(spark)
    t.merge(
        spark.createDataFrame(
            [("r1", "a", 1, False), ("r2", "b", 2, True)],
            "repo string, path string, v int, __deleted boolean",
        ),
        ["repo", "path"],
        batch_id="b0",
    )
    with pytest.raises(ValueError, match="key semantics"):
        t.append(spark.createDataFrame([("r1", "a", 9, False)],
                                       "repo string, path string, v int, __deleted boolean"))
    rep = t.ops_report(count_tombstones_col="__deleted")
    assert rep["keys"] == ["repo", "path"] and rep["buckets"] == 4
    assert rep["data_files"] >= 1 and rep["snapshot_id"] == 1
    assert rep["tombstones"] == 1 and rep["live_rows"] == 1
    # append-only tables (no keys) still append fine + report
    lin = _table(spark)
    lin.append(spark.createDataFrame([(1,)], "n int"), batch_id="a0")
    assert lin.ops_report()["committed_batches"] == 1


ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
LSN_DDL = "repo string, path string, v long, __max_lsn long, __deleted boolean"


def _lsn_rows(n, lsn0, v=0, mod=7):
    return [(f"r{i % mod}", f"p{i}", v + i, lsn0 + i, False) for i in range(n)]


def _lww(*batches):
    """Last-LSN-wins state (repo, path) -> (v, deleted) over the batches."""
    best = {}
    for rows in batches:
        for repo, path, v, lsn, dead in rows:
            if (repo, path) not in best or lsn > best[(repo, path)][0]:
                best[(repo, path)] = (lsn, v, dead)
    return {k: (v, dead) for k, (_lsn, v, dead) in best.items()}


def _lsn_state(t):
    return {(r.repo, r.path): (r.v, r["__deleted"]) for r in t.read().collect()}


def _bucket_bytes(t, m):
    import os

    return {
        b: sum(
            os.path.getsize(os.path.join(t.root, "data", rel, f))
            for rel in paths
            for f in os.listdir(os.path.join(t.root, "data", rel))
            if f.endswith(".parquet")
        )
        for b, paths in m["files"].items()
    }


def _parts(t, rel):
    import os

    return [f for f in os.listdir(os.path.join(t.root, "data", rel)) if f.endswith(".parquet")]


def test_default_table_sizes_its_layout_then_splits_as_it_grows(spark):
    """buckets=None: the first copy-on-write commit records the smallest
    power of two that keeps the batch's size estimate per bucket at or
    under the advisory size; maybe_compact raises the count once the
    table's files on disk outgrow it. State stays last-LSN-wins
    throughout, merges after the split prune against the new layout,
    and rolling back past the split restores the old count."""
    from dbt_customer360_spark.session import local_df

    keys = ["repo", "path"]
    old = spark.conf.get(ADVISORY)
    try:
        first = _lsn_rows(400, 0)
        df = local_df(spark, first, LSN_DDL)
        est = df._jdf.queryExecution().analyzed().stats().sizeInBytes()
        # est / 3 per bucket: 4 buckets hold it, 2 do not
        spark.conf.set(ADVISORY, f"{est // 3}b")
        t = LakeTable(spark, tempfile.mkdtemp(prefix="lakesized_"))
        assert t._read_manifest()["buckets"] is None
        t.merge_lsn(df, keys, batch_id="b0")
        assert t.bucket_count() == 4
        assert set(t._read_manifest()["files"]) <= {"0", "1", "2", "3"}
        assert _lsn_state(t) == _lww(first)

        # a tiny target: the table's files outgrow 4 buckets, and the
        # split sizes the count from their bytes
        pre_split = t.current_snapshot_id()
        total = sum(_bucket_bytes(t, t._read_manifest()).values())
        spark.conf.set(ADVISORY, f"{total // 12}b")  # total / 16 fits, / 8 does not
        sid = t.maybe_compact()
        assert sid is not None and t.bucket_count() == 16
        m = t._read_manifest()
        assert len(m["files"]) > 4
        assert all(len(p) == 1 and len(_parts(t, p[0])) == 1 for p in m["files"].values())
        assert _lsn_state(t) == _lww(first)

        # pruned merge against the new layout: only touched buckets rewrite
        batch = [("r1", "p1", 900, 1000, False), ("r2", "p2", 0, 1001, True)]
        t.merge_lsn(local_df(spark, batch, LSN_DDL), keys, batch_id="b1")
        after = t._read_manifest()["files"]
        assert 1 <= sum(after[b] != m["files"].get(b) for b in after) <= 2
        assert _lsn_state(t) == _lww(first, batch)
        got = t.read_point({"repo": "r2", "path": "p2"}).collect()
        assert [(r.v, r["__deleted"]) for r in got] == [(0, True)]
        got = t.read_point({"repo": "r1", "path": "p1"}).collect()
        assert [(r.v, r["__max_lsn"]) for r in got] == [(900, 1000)]

        t.rollback_to(pre_split)
        assert t.bucket_count() == 4
        assert _lsn_state(t) == _lww(first)
    finally:
        spark.conf.set(ADVISORY, old)


def test_whale_bucket_splits_the_layout_once(spark):
    """Under bucket_cols=['repo'] every path of one repo hashes to one
    bucket, which no split can shrink. maybe_compact sizes the count
    from the table's bytes, so it splits once and then holds, with the
    whale's bucket still over the target."""
    from dbt_customer360_spark.session import local_df

    old = spark.conf.get(ADVISORY)
    try:
        rows = [("whale", f"p{i}", i, i, False) for i in range(3000)]
        rows += [(f"r{i % 3}", f"p{i}", i, 5000 + i, False) for i in range(150)]
        t = LakeTable(spark, tempfile.mkdtemp(prefix="lakewhale_"), bucket_cols=["repo"])
        t.merge_lsn(local_df(spark, rows, LSN_DDL), ["repo", "path"], batch_id="b0")
        assert t.bucket_count() == 1  # 64 MB default target
        total = sum(_bucket_bytes(t, t._read_manifest()).values())
        spark.conf.set(ADVISORY, f"{total // 3}b")  # total / 4 fits, / 2 does not
        assert t.maybe_compact() is not None and t.bucket_count() == 4
        assert max(_bucket_bytes(t, t._read_manifest()).values()) > total // 3
        assert t.maybe_compact() is None and t.bucket_count() == 4
        assert _lsn_state(t) == _lww(rows)
    finally:
        spark.conf.set(ADVISORY, old)


def test_append_only_table_is_never_split(spark):
    """Lineage/quarantine-style tables carry no keys: however far past
    the target they grow, maybe_compact keeps one bucket and records no
    keys (a keyed manifest would make the next append refuse)."""
    from dbt_customer360_spark.session import local_df

    old = spark.conf.get(ADVISORY)
    try:
        spark.conf.set(ADVISORY, "64b")
        t = LakeTable(spark, tempfile.mkdtemp(prefix="lakeappend_"))
        for i in range(3):
            t.append(local_df(spark, [(i, f"row{i}" * 50)], "n int, s string"))
        assert t.maybe_compact() is None
        assert t.maybe_compact(max_files_per_bucket=2) is not None
        m = t._read_manifest()
        assert list(m["files"]) == ["0"] and "keys" not in m
        assert t.bucket_count() == 1
        t.append(local_df(spark, [(9, "x")], "n int, s string"))
        assert t.read().count() == 4
    finally:
        spark.conf.set(ADVISORY, old)


def test_read_point_on_one_bucket_layout_skips_the_probe(spark, monkeypatch):
    """One bucket: every key is in bucket 0 (pmod(h, 1) = 0), so a GET
    builds no probe frame; live rows and tombstones read back exact."""
    import dbt_customer360_spark.lake.table as table_mod
    from dbt_customer360_spark.session import local_df

    t = _table(spark, buckets=1)
    rows = _lsn_rows(20, 0) + [("r9", "gone", 5, 50, True)]
    t.merge_lsn(local_df(spark, rows, LSN_DDL), ["repo", "path"], batch_id="b0")

    def no_probe(*a, **k):
        raise AssertionError("one-bucket GET built a probe frame")

    monkeypatch.setattr(table_mod, "local_df", no_probe)
    got = t.read_point({"repo": "r3", "path": "p3"}).collect()
    assert [(r.v, r["__deleted"]) for r in got] == [(3, False)]
    got = t.read_point({"repo": "r9", "path": "gone"}).collect()
    assert [(r.v, r["__deleted"]) for r in got] == [(5, True)]
    assert t.read_point({"repo": "r3", "path": "nope"}).count() == 0


def test_expire_snapshots_refuses_keep_last_below_one(spark):
    t = _table(spark, buckets=1)
    for i in range(2):
        t.append(spark.createDataFrame([(i,)], "n int"), batch_id=f"a{i}")
    for bad in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            t.expire_snapshots(keep_last=bad)
    assert len(t._snapshot_ids()) == 2 and t.read().count() == 2
