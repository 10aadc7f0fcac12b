"""Fixed cost of a CDC epoch: write-task sizing, the driver-side lineage
writer, and the Spark job count of one epoch.

Jobs and tasks are counted with a job group on the calling thread plus
the status tracker's stage infos, so each test pins a counter that a
later change cannot raise without failing here."""

import contextlib
import os

import pyarrow as pa
import pytest

from dbt_customer360_spark.lake.table import LakeTable
from dbt_customer360_spark.session import local_df
from dbt_customer360_spark.streaming.apply import LINEAGE_SCHEMA, CDCApplier

KEYS = ["repo", "path"]
DDL = "repo string, path string, v long, __max_lsn long"
LINEAGE_DDL = (
    "epoch string, row_kind string, partition string, rows_applied long, "
    "deletes long, min_lsn long, max_lsn long, snapshot_id long"
)


@contextlib.contextmanager
def counted(spark, group):
    """Run the body under job group ``group``; afterwards the yielded
    dict holds ``jobs`` (ids) and ``write_tasks`` (task count of the
    last stage that ran, which for a table write is the write stage)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    out: dict = {}
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    out["jobs"] = sorted(tracker.getJobIdsForGroup(group))
    ran = [
        tracker.getStageInfo(s)
        for j in out["jobs"]
        for s in tracker.getJobInfo(j).stageIds
    ]
    ran = [st for st in ran if st is not None and st.numCompletedTasks > 0]
    out["write_tasks"] = max(ran, key=lambda st: st.stageId).numTasks if ran else 0


def _rows(n, lsn0, v=0):
    return [(f"r{i % 7}", f"p{i}", v + i, lsn0 + i) for i in range(n)]


def _parquet_files(t, entry):
    """Parquet files inside one manifest dir entry."""
    return sum(f.endswith(".parquet") for f in os.listdir(os.path.join(t.root, "data", entry)))


def _oracle(*batches):
    """Last-LSN-wins state of (repo, path) -> v over the batches."""
    best = {}
    for rows in batches:
        for repo, path, v, lsn in rows:
            if (repo, path) not in best or lsn > best[(repo, path)][1]:
                best[(repo, path)] = (v, lsn)
    return {k: v for k, (v, _) in best.items()}


def _arrow_lineage(rows):
    return pa.Table.from_pylist(
        [dict(zip(LINEAGE_SCHEMA.names, r)) for r in rows], schema=LINEAGE_SCHEMA
    )


def _state(t):
    return {(r.repo, r.path): r.v for r in t.read().collect()}


def test_small_merge_writes_each_bucket_once_in_few_tasks(spark, tmp_path):
    dp = spark.sparkContext.defaultParallelism
    buckets = 4 * dp
    t = LakeTable(spark, str(tmp_path / "t"), buckets=buckets)
    first = _rows(200, 0)
    t.merge_lsn(local_df(spark, first, DDL), KEYS, batch_id="b0")
    batch = _rows(40, 1000, v=500)
    before = t._read_manifest()["files"]
    with counted(spark, "small-merge") as c:
        t.merge_lsn(local_df(spark, batch, DDL), KEYS, batch_id="b1")
    assert 0 < c["write_tasks"] <= dp
    after = t._read_manifest()["files"]
    rewritten = [b for b in after if after[b] != before.get(b)]
    assert rewritten
    assert all(_parquet_files(t, e) == 1 for b in rewritten for e in after[b])
    assert _state(t) == _oracle(first, batch)


def test_unknown_size_estimate_keeps_one_task_per_bucket(spark, tmp_path):
    buckets = 4 * spark.sparkContext.defaultParallelism
    t = LakeTable(spark, str(tmp_path / "t"), buckets=buckets)
    first = _rows(100, 0)
    t.merge_lsn(local_df(spark, first, DDL), KEYS, batch_id="b0")
    batch = _rows(30, 1000, v=7)
    # an RDD-backed plan reports Spark's default-size sentinel
    rdd_batch = spark.createDataFrame(spark.sparkContext.parallelize(batch), DDL)
    with counted(spark, "rdd-merge") as c:
        t.merge_lsn(rdd_batch, KEYS, batch_id="b1", touched=list(range(buckets)))
    assert c["write_tasks"] == buckets
    assert _state(t) == _oracle(first, batch)


@pytest.mark.parametrize("mode", ["salted", "mor"])
def test_salted_and_mor_writes_keep_one_file_per_bucket(spark, tmp_path, mode):
    buckets = 4 * spark.sparkContext.defaultParallelism
    t = LakeTable(spark, str(tmp_path / "t"), buckets=buckets)
    first = _rows(150, 0)
    t.merge_lsn(local_df(spark, first, DDL), KEYS, batch_id="b0")
    batch = _rows(60, 1000, v=90)
    kw = {"salt": 4} if mode == "salted" else {"mor": True}
    t.merge_lsn(local_df(spark, batch, DDL), KEYS, batch_id="b1", **kw)
    m = t._read_manifest()
    written = m["delta_files"] if mode == "mor" else m["files"]
    assert written
    assert all(_parquet_files(t, paths[-1]) == 1 for paths in written.values())
    assert _state(t) == _oracle(first, batch)


@pytest.mark.parametrize("quarantine", [False, True], ids=["clean", "quarantine"])
@pytest.mark.parametrize("dense", [False, True], ids=["pruned", "dense"])
@pytest.mark.parametrize("grain", ["epoch", "partition"])
def test_pruned_epoch_launches_at_most_four_jobs(spark, tmp_path, grain, dense, quarantine):
    """The merge is a map job and a result job under AQE. Validation or
    partition grain adds the pre-merge aggregation (validation, touched
    buckets and lineage stats together; two more); a clean epoch-grain
    epoch observes its stats on the merge's write instead, and only a
    pruned one pays for finding its touched buckets. The lineage rows
    are written on the driver and add none. Quarantining a row adds the
    one dead-letter append."""
    applier = CDCApplier(
        spark,
        str(tmp_path / "repos"),
        lineage_root=str(tmp_path / "lineage"),
        buckets=16,
        assume_dense_batches=dense,
        lineage_grain=grain,
        quarantine_root=str(tmp_path / "dl") if quarantine else None,
    )
    ev_ddl = (
        "lsn long, op string, repo string, path string, content string, "
        "source_connector string"
    )
    pre = [(i, "insert", f"r{i % 5}", f"p{i}", f"c{i}", f"k{i % 2}") for i in range(300)]
    applier.apply_batch(local_df(spark, pre, ev_ddl), 0)
    epoch = [(1000 + i, "update", f"r{i % 5}", f"p{i}", "new", f"k{i % 2}") for i in range(3)]
    if quarantine:
        epoch.append((None, "update", "r9", "p9", "bad", "k1"))
    with counted(spark, f"one-epoch-{grain}-{dense}-{quarantine}") as c:
        out = applier.apply_batch(local_df(spark, epoch, ev_ddl), 1)
    assert out["rows_applied"] == 3
    assert out["quarantined"] == int(quarantine)
    assert out["violations"] == ({"null_lsn": 1} if quarantine else {})
    if grain == "epoch" and dense and not quarantine:
        # stats observed on the merge's write: its map and result jobs
        assert len(c["jobs"]) == 2, c["jobs"]
    else:
        assert len(c["jobs"]) <= 4 + quarantine, c["jobs"]
    sid0 = applier.table.current_snapshot_id() - 1
    want = {
        ("0", "epoch", None, 300, 0, 0, 299, sid0),
        ("1", "epoch", None, 3, 0, 1000, 1002, sid0 + 1),
    }
    if grain == "partition":
        want |= {
            ("0", "partition", "k0", 150, 0, 0, 298, sid0),
            ("0", "partition", "k1", 150, 0, 1, 299, sid0),
            ("1", "partition", "k0", 2, 0, 1000, 1002, sid0 + 1),
            ("1", "partition", "k1", 1, 0, 1001, 1001, sid0 + 1),
        }
    got = [tuple(r) for r in applier.lineage.read().collect()]
    assert sorted(got, key=str) == sorted(want, key=str)
    if quarantine:
        assert [r.path for r in applier.quarantined().collect()] == ["p9"]


def test_arrow_lineage_append_round_trips(spark, tmp_path):
    rows = [
        ("7", "epoch", None, 10, 1, 100, 109, 3),
        ("7", "partition", None, 4, 0, None, None, 3),
        ("7", "partition", "kafka-1", 6, 1, 100, 109, 3),
    ]
    spark_t = LakeTable(spark, str(tmp_path / "spark"), buckets=1)
    spark_t.append(local_df(spark, rows, LINEAGE_DDL), batch_id="s")
    arrow_t = LakeTable(spark, str(tmp_path / "arrow"), buckets=1)
    arrow_t.append(_arrow_lineage(rows), batch_id="a")
    # same Spark DDL types in the manifest as the Spark-written table
    assert arrow_t._read_manifest()["schema"] == spark_t._read_manifest()["schema"]
    assert dict(arrow_t._read_manifest()["schema"])["rows_applied"] == "bigint"
    # NULL partition and NULL min/max lsn survive
    assert sorted(map(tuple, arrow_t.read().collect()), key=str) == sorted(rows, key=str)

    # driver appends onto the Spark-written table, then compaction
    # folds both kinds of file entry and every row reads back
    for i in range(3):
        more = [(f"e{i}", "epoch", None, i, 0, i, i, 9)]
        spark_t.append(_arrow_lineage(more), batch_id=f"a{i}")
        rows += more
    assert spark_t.maybe_compact(max_files_per_bucket=2) is not None
    assert len(spark_t._read_manifest()["files"]["0"]) == 1
    assert sorted(map(tuple, spark_t.read().collect()), key=str) == sorted(rows, key=str)


def test_arrow_append_conforms_to_the_table_schema(spark, tmp_path):
    """Missing columns are NULL-filled and narrower types cast up to
    the recorded type; a new column extends the schema."""
    t = LakeTable(spark, str(tmp_path / "t"), buckets=1)
    t.append(pa.table({"a": pa.array([1], pa.int64()), "b": ["x"]}))
    t.append(pa.table({"a": pa.array([2], pa.int32()), "c": [1.5]}))
    assert t._read_manifest()["schema"] == [["a", "bigint"], ["b", "string"], ["c", "double"]]
    got = sorted(map(tuple, t.read().collect()), key=lambda r: r[0])
    assert got == [(1, "x", None), (2, None, 1.5)]


def test_default_applier_writes_one_repos_file_per_epoch(spark, tmp_path):
    """A default-sized applier on a small table lays the repos table out
    as one bucket, so an epoch rewrites one data file in one task, and
    the merge needs no shuffle: the write is the epoch's one job, and
    the lineage stats are observed on it."""
    applier = CDCApplier(
        spark, str(tmp_path / "repos"), lineage_root=str(tmp_path / "lineage")
    )
    ev_ddl = "lsn long, op string, repo string, path string, content string"
    pre = [(i, "insert", f"r{i % 5}", f"p{i}", f"c{i}") for i in range(300)]
    applier.apply_batch(local_df(spark, pre, ev_ddl), 0)
    t = applier.table
    assert t.bucket_count() == 1
    epoch = [(1000 + i, "update", f"r{i % 5}", f"p{i}", "new") for i in range(3)]
    with counted(spark, "default-epoch") as c:
        out = applier.apply_batch(local_df(spark, epoch, ev_ddl), 1)
    assert (out["rows_applied"], out["min_lsn"], out["max_lsn"]) == (3, 1000, 1002)
    files = t._read_manifest()["files"]
    assert list(files) == ["0"] and len(files["0"]) == 1
    assert _parquet_files(t, files["0"][0]) == 1
    assert c["write_tasks"] == 1
    assert len(c["jobs"]) == 1, c["jobs"]
    live = {(r.path, r.content) for r in applier.state().collect()}
    assert len(live) == 300
    assert {content for path, content in live if path in ("p0", "p1", "p2")} == {"new"}


def test_one_bucket_compaction_runs_one_job(spark, tmp_path):
    """Compacting a one-bucket table coalesces its rows into the one
    write task instead of hash-partitioning them into one partition:
    a single job, and every row reads back."""
    t = LakeTable(spark, str(tmp_path / "lineage"), buckets=1)
    rows = [(str(i), "epoch", None, i, 0, i, i, i) for i in range(9)]
    for r in rows:
        t.append(_arrow_lineage([r]), batch_id=f"a{r[0]}")
    assert len(t._read_manifest()["files"]["0"]) == 9
    with counted(spark, "one-bucket-compact") as c:
        t.compact()
    assert len(c["jobs"]) == 1, c["jobs"]
    assert len(t._read_manifest()["files"]["0"]) == 1
    assert sorted(map(tuple, t.read().collect()), key=str) == sorted(rows, key=str)
