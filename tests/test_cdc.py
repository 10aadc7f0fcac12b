"""End-to-end CDC replay correctness (SURVEY.md §5.2 items 2/3/6)."""

import hashlib
import tempfile
import threading

import pytest

from pyspark.sql import functions as F

from dbt_customer360_spark.lake.table import LakeTable
from dbt_customer360_spark.session import local_df
from dbt_customer360_spark.sources.cdc import generate_change_events
from dbt_customer360_spark.streaming.apply import CDCApplier, replay_batch


def _python_oracle(rows):
    """Single-threaded last-LSN-wins reducer (SURVEY.md §5.2.2)."""
    state = {}
    for e in sorted(rows, key=lambda r: r.lsn):
        k = (e.repo, e.path)
        if e.op == "delete":
            state.pop(k, None)
        else:
            state[k] = (e.commit, e.lang, e.content)
    return state


def _engine_state(applier):
    return {
        (r.repo, r.path): (r.commit, r.lang, r.content)
        for r in applier.state().collect()
    }


def _sha(state):
    return hashlib.sha256(str(sorted(state.items())).encode()).hexdigest()


def _events(spark, n=3000):
    return generate_change_events(spark, n_events=n, n_repos=15, paths_per_repo=8)


def test_replay_matches_python_oracle(spark):
    events = _events(spark)
    ap = CDCApplier(spark, tempfile.mkdtemp(prefix="cdc_") + "/repos", buckets=4)
    replay_batch(ap, events, n_batches=3)
    oracle = _python_oracle(events.collect())
    engine = _engine_state(ap)
    assert _sha(engine) == _sha(oracle)
    # per-row content sha256 invariant (BASELINE.json:15)
    eng_hashes = {
        (r.repo, r.path): r.h
        for r in ap.state()
        .select("repo", "path", F.sha2("content", 256).alias("h"))
        .collect()
    }
    for k, (_, _, content) in oracle.items():
        assert eng_hashes[k] == hashlib.sha256(content.encode()).hexdigest()


def test_replay_idempotent_and_stale_batch_rejected(spark):
    events = _events(spark, 2000)
    ap = CDCApplier(spark, tempfile.mkdtemp(prefix="cdc_") + "/repos", buckets=4)
    replay_batch(ap, events, n_batches=4)
    h1 = _sha(_engine_state(ap))
    # replay an already-committed epoch -> no-op
    res = ap.apply_batch(events.filter(F.col("lsn") < 500), 0)
    assert res["skipped"]
    # replay same data under a NEW epoch id -> high-watermark rejects all
    ap.apply_batch(events.filter(F.col("lsn") < 500), 99)
    assert _sha(_engine_state(ap)) == h1


def test_batch_order_permutation_within_lsn_semantics(spark):
    """Applying whole stream as 1 batch == as 5 batches (max-LSN dedup
    makes the split irrelevant)."""
    events = _events(spark, 2000)
    a1 = CDCApplier(spark, tempfile.mkdtemp(prefix="cdc_") + "/repos", buckets=4)
    replay_batch(a1, events, n_batches=1)
    a5 = CDCApplier(spark, tempfile.mkdtemp(prefix="cdc_") + "/repos", buckets=4)
    replay_batch(a5, events, n_batches=5)
    assert _sha(_engine_state(a1)) == _sha(_engine_state(a5))


def test_lineage_rows(spark):
    events = _events(spark, 1000)
    root = tempfile.mkdtemp(prefix="cdc_")
    ap = CDCApplier(spark, f"{root}/repos", f"{root}/lineage", buckets=4)
    stats = replay_batch(ap, events, n_batches=2)
    lin = {r.epoch: r for r in ap.lineage.read().collect()}
    assert set(lin) == {"0", "1"}
    for s in stats:
        row = lin[s["epoch"]]
        assert row.rows_applied == s["rows_applied"]
        assert row.min_lsn == s["min_lsn"] and row.max_lsn == s["max_lsn"]
        assert row.snapshot_id == s["snapshot_id"]


def test_streaming_foreachbatch_with_checkpoint(spark, tmp_path):
    """Structured Streaming path: file source + availableNow trigger +
    checkpoint; final state matches oracle. Restarting over the same
    checkpoint applies nothing new."""
    events = _events(spark, 1500)
    src = str(tmp_path / "events")
    events.repartition(6).write.parquet(src)
    schema = (
        "lsn long, op string, repo string, path string, commit string, "
        "lang string, content string, source_connector string, ts timestamp"
    )
    root = str(tmp_path / "lake")
    ap = CDCApplier(spark, f"{root}/repos", buckets=4)
    q = ap.stream(src, str(tmp_path / "ckpt"), schema=schema, max_files_per_trigger=2)
    # MUST terminate: availableNow, with the epoch stats observed on
    # the merge's own write inside foreachBatch
    assert q.awaitTermination(300) is True
    oracle = _python_oracle(events.collect())
    assert _sha(_engine_state(ap)) == _sha(oracle)
    snap_before = ap.table.current_snapshot_id()
    # restart from checkpoint: nothing new to process
    q2 = ap.stream(src, str(tmp_path / "ckpt"), schema=schema)
    assert q2.awaitTermination(300) is True
    assert ap.table.current_snapshot_id() == snap_before
    assert _sha(_engine_state(ap)) == _sha(oracle)


def _within(seconds, fn, *args, **kwargs):
    """``fn(*args, **kwargs)`` on a daemon thread, failing the test after
    ``seconds`` instead of hanging it: an ``Observation`` whose plan
    never ran blocks ``Observation.get`` forever."""
    out = {}

    def run():
        try:
            out["value"] = fn(*args, **kwargs)
        except BaseException as e:  # re-raised on the test's thread
            out["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"call still blocked after {seconds} s"
    if "error" in out:
        raise out["error"]
    return out["value"]


EV_DDL = (
    "lsn long, op string, repo string, path string, content string, source_connector string"
)
STATS = ("epoch", "skipped", "rows_applied", "deletes", "min_lsn", "max_lsn", "snapshot_id")


def _contents(ap):
    return {(r.repo, r.path): r.content for r in ap.state().collect()}


@pytest.mark.parametrize(
    "layout",
    [
        {},
        {"buckets": 4},
        {"buckets": 4, "assume_dense_batches": True},
        {"buckets": 4, "write_mode": "mor"},
    ],
    ids=["one-bucket", "pruned", "dense", "mor"],
)
def test_observed_stats_match_the_grouped_aggregation(spark, tmp_path, layout):
    """A default applier takes its lineage stats from an observation on
    the merge's write; a partition-grain applier from the pre-merge
    aggregation. Same batches, same epoch lineage rows and stats."""
    batches = [
        [],  # empty batch into an empty table
        # within-batch duplicate keys, and a NULL-lsn row
        [(10 + i, "insert", f"r{i % 3}", f"p{i % 5}", f"c{i}", "k0") for i in range(12)]
        + [(None, "insert", "r9", "p9", "nolsn", "k1")],
        # updates and deletes
        [
            (100 + i, "update" if i % 3 else "delete", f"r{i % 3}", f"p{i % 5}", "u", f"k{i % 2}")
            for i in range(9)
        ],
        # stale replay below the stored LSN
        [(11, "update", "r1", "p1", "stale", "k0"), (12, "delete", "r2", "p2", None, "k1")],
        [],  # empty batch into a populated table
    ]
    runs = {}
    for grain in ("epoch", "partition"):
        root = tmp_path / grain
        ap = CDCApplier(
            spark,
            str(root / "repos"),
            lineage_root=str(root / "lineage"),
            lineage_grain=grain,
            **layout,
        )
        stats = [
            _within(120, ap.apply_batch, local_df(spark, rows, EV_DDL), e)
            for e, rows in enumerate(batches)
        ]
        lineage = sorted(
            (tuple(r) for r in ap.lineage.read().collect() if r.row_kind == "epoch"), key=str
        )
        runs[grain] = ([{k: s[k] for k in STATS} for s in stats], lineage, _contents(ap))
    assert runs["epoch"] == runs["partition"]
    stats, lineage, state = runs["epoch"]
    assert [s["rows_applied"] for s in stats] == [0, 13, 9, 2, 0]
    assert [s["deletes"] for s in stats] == [0, 0, 3, 1, 0]
    assert [(s["min_lsn"], s["max_lsn"]) for s in stats] == [
        (None, None), (10, 21), (100, 108), (11, 12), (None, None)
    ]
    assert len(lineage) == len(batches)
    assert state[("r1", "p1")] == "u" and ("r0", "p0") not in state


def test_observed_merge_without_a_write_never_calls_back(spark, tmp_path):
    """merge_lsn(observe=...) with an already-committed batch id returns
    the current snapshot and never calls on_values (an observation
    whose plan never ran cannot be read); apply_batch reports such a
    lost race as skipped and writes no lineage."""
    t = LakeTable(spark, str(tmp_path / "t"))
    ddl = "repo string, path string, v long, __max_lsn long"
    t.merge_lsn(local_df(spark, [("r", "p", 1, 1)], ddl), ["repo", "path"], batch_id="b0")
    got = []
    observe = (lambda is_batch: [F.count_if(is_batch).alias("n")], got.append)
    sid = _within(
        120, t.merge_lsn, local_df(spark, [("r", "q", 2, 2)], ddl), ["repo", "path"],
        batch_id="b0", observe=observe,
    )
    assert sid == t.current_snapshot_id() and got == []
    _within(120, t.merge_lsn, local_df(spark, [("r", "q", 2, 2)], ddl), ["repo", "path"],
            batch_id="b1", observe=observe)
    assert got == [{"n": 1}]
    with pytest.raises(ValueError, match="unsalted"):
        t.merge_lsn(local_df(spark, [("r", "q", 2, 2)], ddl), ["repo", "path"],
                    batch_id="b2", salt=4, observe=observe)

    ap = CDCApplier(spark, str(tmp_path / "repos"), lineage_root=str(tmp_path / "lineage"))
    batch = local_df(spark, [(1, "insert", "r", "p", "c", "k0")], EV_DDL)
    assert _within(120, ap.apply_batch, batch, 0)["rows_applied"] == 1
    # the epoch commits between apply_batch's own check and its merge
    ap.table.committed_batch_ids = lambda: set()
    skipped = {"epoch": "0", "skipped": True, "rows_applied": 0}
    assert _within(120, ap.apply_batch, batch, 0) == skipped
    assert ap.lineage.read().count() == 1


def test_schema_evolution_midstream(spark):
    """Events gain a 'branch' column and rename lang->language midstream;
    the applier's column mapping + schema merge handle both."""
    ap = CDCApplier(spark, tempfile.mkdtemp(prefix="cdc_") + "/repos", buckets=2)
    b0 = spark.createDataFrame(
        [(1, "insert", "r", "p", "c1", "py", "x")],
        "lsn long, op string, repo string, path string, commit string, lang string, content string",
    )
    ap.apply_batch(b0, 0)
    # new column appears
    b1 = spark.createDataFrame(
        [(2, "update", "r", "q", "c2", "py", "y", "main")],
        "lsn long, op string, repo string, path string, commit string, lang string, content string, branch string",
    )
    ap.apply_batch(b1, 1)
    # rename lang -> language in the feed
    ap.table.rename_column("lang", "language")
    b2 = spark.createDataFrame(
        [(3, "update", "r", "p", "c3", "go", "z", "dev")],
        "lsn long, op string, repo string, path string, commit string, language string, content string, branch string",
    )
    ap.apply_batch(b2, 2)
    rows = {r.path: (r.lang, r.branch, r.content) for r in ap.state().collect()}
    assert rows == {"p": ("go", "dev", "z"), "q": ("py", "main", "y")}


def test_auto_maintenance_bounds_files_and_snapshots(spark):
    """Round-2 verdict Next #7: with maintenance_every wired into the
    apply loop, data-file count and snapshot count stay bounded over 20
    epochs, final state still matches the python oracle, and replaying
    an already-applied epoch is STILL skipped after snapshot expiry
    (committed batch_ids ride every manifest)."""
    import os

    root = tempfile.mkdtemp(prefix="cdc_maint_")
    events = _events(spark, n=4000)
    ap = CDCApplier(
        spark,
        f"{root}/repos",
        f"{root}/lineage",
        buckets=4,
        maintenance_every=5,
        max_files_per_bucket=3,
        keep_snapshots=3,
    )
    stats = replay_batch(ap, events, n_batches=20)
    assert sum(s["rows_applied"] for s in stats) == 4000

    def n_data_dirs(table_root):
        return len(os.listdir(os.path.join(table_root, "data")))

    def n_snapshots(table_root):
        return len(os.listdir(os.path.join(table_root, "snapshots")))

    # bounded: without maintenance each table holds 20+ snapshots and
    # every one of the 20 merges/appends strands its write dir (20+
    # top-level data dirs); expiry keeps 3 snapshots and only the dirs
    # they reference survive
    assert n_snapshots(f"{root}/repos") <= 3
    assert n_snapshots(f"{root}/lineage") <= 3
    assert n_data_dirs(f"{root}/repos") <= 3 * 4  # kept snapshots x buckets
    assert n_data_dirs(f"{root}/lineage") <= 3 * (3 + 1)

    assert _sha(_engine_state(ap)) == _sha(_python_oracle(events.collect()))
    # exactly-once survives expiry: re-apply epoch 19's slice
    redo = ap.apply_batch(events.limit(10), 19)
    assert redo["skipped"] is True


def test_partition_grain_lineage(spark):
    """lineage_grain='partition': each epoch writes the epoch-total row
    (partition NULL) plus one row per source connector whose counts sum
    to the epoch total and whose offset ranges nest inside the epoch's
    (north_star per-partition lineage)."""
    root = tempfile.mkdtemp(prefix="cdc_lin_")
    events = _events(spark, n=2000)
    ap = CDCApplier(
        spark, f"{root}/repos", f"{root}/lineage", buckets=4, lineage_grain="partition"
    )
    replay_batch(ap, events, n_batches=2)
    lin = ap.lineage.read().collect()
    epochs = {r.epoch for r in lin}
    assert epochs == {"0", "1"}
    for e in epochs:
        total = [r for r in lin if r.epoch == e and r.row_kind == "epoch"]
        parts = [r for r in lin if r.epoch == e and r.row_kind == "partition"]
        assert all(r.partition is None for r in total)
        assert all(r.partition is not None for r in parts)
        assert len(total) == 1 and len(parts) >= 2  # conn_a/b/c
        assert sum(p.rows_applied for p in parts) == total[0].rows_applied
        assert sum(p.deletes for p in parts) == total[0].deletes
        assert min(p.min_lsn for p in parts) == total[0].min_lsn
        assert max(p.max_lsn for p in parts) == total[0].max_lsn
        assert all(p.snapshot_id == total[0].snapshot_id for p in parts)


def test_partition_grain_without_partition_column_raises_before_write(spark, tmp_path):
    """A partition-grain applier fed a batch that lacks ``partition_col``
    refuses the epoch instead of writing only the epoch-total row."""
    ap = CDCApplier(
        spark, str(tmp_path / "repos"), str(tmp_path / "lineage"), buckets=2,
        lineage_grain="partition",
    )
    df = spark.createDataFrame(
        [(1, "insert", "r", "p", "c")],
        "lsn long, op string, repo string, path string, content string",
    )
    with pytest.raises(ValueError, match="source_connector"):
        ap.apply_batch(df, 0)
    assert ap.table.current_snapshot_id() == 0
    assert ap.lineage.current_snapshot_id() == 0


def test_aggregated_dense_epoch_rewrites_only_its_touched_buckets(spark, tmp_path):
    """An epoch that runs the pre-merge aggregation (here partition
    grain) merges into the touched set the aggregation found, even under
    ``assume_dense_batches``: a one-key epoch into a 4-bucket table
    rewrites one bucket and carries the other three buckets' files over
    unchanged."""
    ap = CDCApplier(
        spark, str(tmp_path / "repos"), str(tmp_path / "lineage"), buckets=4,
        assume_dense_batches=True, lineage_grain="partition",
    )
    pre = [(i, "insert", f"r{i % 5}", f"p{i}", f"c{i}", f"k{i % 2}") for i in range(200)]
    ap.apply_batch(local_df(spark, pre, EV_DDL), 0)
    before = ap.table._read_manifest()["files"]
    assert sorted(before) == ["0", "1", "2", "3"]
    out = ap.apply_batch(local_df(spark, [(1000, "update", "r0", "p0", "new", "k0")], EV_DDL), 1)
    after = ap.table._read_manifest()["files"]
    assert out["rows_applied"] == 1
    assert sorted(after) == sorted(before)
    assert sum(after[b] != before[b] for b in before) == 1
    assert _contents(ap)[("r0", "p0")] == "new"


def test_keep_snapshots_below_one_raises_before_any_table_opens(spark, tmp_path):
    """Expiry must keep the current snapshot, so ``keep_snapshots`` below
    1 is refused at construction (CLI included), before any table
    directory exists, not at the first maintenance tick after an epoch
    has already committed."""
    from jobs.cdc_replay_job import main as job_main

    with pytest.raises(ValueError, match="keep_snapshots must be >= 1"):
        CDCApplier(
            spark, str(tmp_path / "repos"), str(tmp_path / "lineage"),
            maintenance_every=1, keep_snapshots=0,
        )
    with pytest.raises(ValueError, match="keep_snapshots must be >= 1"):
        job_main(["--generate", "10", "--table", str(tmp_path / "cli"),
                  "--keep-snapshots", "0"])
    assert list(tmp_path.iterdir()) == []


def test_merge_lsn_property_random_streams(spark):
    """Property test (hypothesis): for ANY op stream over a small key
    space — duplicate LSN-ordered upserts/deletes, any contiguous batch
    split, salted or not — the engine's final visible state equals the
    single-threaded last-LSN-wins python reducer."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    ops = st.lists(
        st.tuples(
            st.integers(0, 5),            # repo id
            st.integers(0, 3),            # path id
            st.sampled_from(["insert", "update", "delete"]),
        ),
        min_size=1,
        max_size=60,
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(ops=ops, n_batches=st.integers(1, 4), salted=st.booleans())
    def run(ops, n_batches, salted):
        rows = [
            (i, op, f"r{r}", f"p{p}", f"c{i}", "py", f"content-{r}-{p}-{i}", "conn_a", None)
            for i, (r, p, op) in enumerate(ops)
        ]
        events = spark.createDataFrame(
            rows,
            "lsn long, op string, repo string, path string, commit string, "
            "lang string, content string, source_connector string, ts timestamp",
        )
        ap = CDCApplier(
            spark,
            tempfile.mkdtemp(prefix="cdc_prop_") + "/repos",
            buckets=2,
            hot_key_salt=4 if salted else None,
        )
        replay_batch(ap, events, n_batches=n_batches)
        assert _sha(_engine_state(ap)) == _sha(_python_oracle(events.collect()))

    run()


def test_streaming_with_partition_lineage(spark, tmp_path):
    """The full north_star wiring in one: readStream -> foreachBatch ->
    MERGE with checkpoint, lineage table attached at partition grain.
    Stream terminates, state matches the oracle, lineage holds one
    epoch-total row per applied epoch plus per-connector rows that sum
    to it, each carrying the commit snapshot id."""
    events = _events(spark, 1200)
    src = str(tmp_path / "events")
    events.repartition(4).write.parquet(src)
    schema = (
        "lsn long, op string, repo string, path string, commit string, "
        "lang string, content string, source_connector string, ts timestamp"
    )
    root = str(tmp_path / "lake")
    ap = CDCApplier(
        spark, f"{root}/repos", f"{root}/lineage", buckets=4,
        lineage_grain="partition",
    )
    q = ap.stream(src, str(tmp_path / "ckpt"), schema=schema, max_files_per_trigger=2)
    assert q.awaitTermination(300) is True
    assert _sha(_engine_state(ap)) == _sha(_python_oracle(events.collect()))
    lin = ap.lineage.read().collect()
    totals = [r for r in lin if r.row_kind == "epoch"]
    assert len(totals) >= 1
    assert sum(r.rows_applied for r in totals) == 1200
    for t in totals:
        parts = [r for r in lin if r.epoch == t.epoch and r.row_kind == "partition"]
        assert parts and sum(p.rows_applied for p in parts) == t.rows_applied
        assert all(p.snapshot_id == t.snapshot_id for p in parts)


def test_job_cli_rollback_command(spark):
    """jobs/cdc_replay_job.py --rollback-to: ops-level forward-history
    rollback through the CLI surface (in-process main(), shared
    session). State after rollback equals the target snapshot's, and
    the exactly-once ledger reverts with it."""
    import json
    import sys as _sys

    sys_path_root = "/root/repo"
    if sys_path_root not in _sys.path:
        _sys.path.insert(0, sys_path_root)
    import io
    from contextlib import redirect_stdout

    from jobs.cdc_replay_job import main as job_main

    root = tempfile.mkdtemp(prefix="cdc_rb_")
    out = io.StringIO()
    with redirect_stdout(out):
        rc = job_main(
            ["--generate", "20000", "--table", f"{root}/repos",
             "--batches", "2", "--buckets", "4", "--dense-batches"]
        )
    assert rc == 0
    replay = json.loads(out.getvalue().strip().splitlines()[-1])
    assert replay["snapshot_id"] == 2

    from dbt_customer360_spark.lake.table import LakeTable

    before = {
        (r.repo, r.path): r.content
        for r in LakeTable(spark, f"{root}/repos", buckets=4).read(snapshot_id=1).collect()
    }
    out = io.StringIO()
    with redirect_stdout(out):
        rc = job_main(["--table", f"{root}/repos", "--buckets", "4", "--rollback-to", "1"])
    assert rc == 0
    rb = json.loads(out.getvalue().strip().splitlines()[-1])
    assert rb["mode"] == "rollback" and rb["snapshot_id"] == 3
    after = {
        (r.repo, r.path): r.content
        for r in LakeTable(spark, f"{root}/repos", buckets=4).read().collect()
    }
    assert after == before


def test_quarantine_dead_letters_malformed_events(spark):
    """Malformed events (NULL lsn / NULL key / unknown op) land in the
    dead-letter table with a reason instead of failing or silently
    merging; valid rows of the same batch apply normally; a replayed
    epoch re-quarantines nothing (idempotent batch ids)."""
    root = tempfile.mkdtemp(prefix="cdc_q_")
    ap = CDCApplier(
        spark, f"{root}/repos", buckets=4, quarantine_root=f"{root}/deadletter"
    )
    good = _events(spark, n=400)
    bad_rows = [
        (None, "insert", "rX", "p1", "c", "py", "x", "s1", None),   # null lsn
        (10**9, "insert", None, "p2", "c", "py", "x", "s1", None),  # null key
        (10**9 + 1, "truncate", "rX", "p3", "c", "py", "x", "s1", None),  # bad op
        (10**9 + 2, None, "rX", "p4", "c", "py", "x", "s1", None),  # null op
    ]
    bad = spark.createDataFrame(
        bad_rows,
        "lsn long, op string, repo string, path string, commit string, "
        "lang string, content string, source_connector string, ts timestamp",
    )
    stats = ap.apply_batch(good.unionByName(bad), epoch_id=0)
    assert stats["quarantined"] == 4
    assert stats["rows_applied"] == 400
    dl = {(r.repo, r.path): r["__reason"] for r in ap.quarantined().collect()}
    assert dl == {
        ("rX", "p1"): "null_lsn",
        (None, "p2"): "null_key_repo",
        ("rX", "p3"): "bad_op",
        ("rX", "p4"): "bad_op",
    }
    assert {r.epoch for r in ap.quarantined().collect()} == {"0"}
    # the malformed keys never reached the table
    live = {(r.repo, r.path) for r in ap.state().collect()}
    assert ("rX", "p3") not in live and ("rX", "p1") not in live
    # engine state matches the oracle over the VALID rows only
    assert _sha(_engine_state(ap)) == _sha(_python_oracle(good.collect()))
    # replay of the same epoch: skipped, nothing re-quarantined
    again = ap.apply_batch(good.unionByName(bad), epoch_id=0)
    assert again["skipped"] and ap.quarantined().count() == 4
    # clean next epoch: no quarantine rows added, applies normally
    more = generate_change_events(spark, n_events=100, n_repos=5, paths_per_repo=4)
    s2 = ap.apply_batch(more, epoch_id=1)
    assert s2["quarantined"] == 0 and ap.quarantined().count() == 4


def test_job_cli_emit_changes_command(spark):
    """jobs/cdc_replay_job.py --emit-changes: CDC-out through the CLI —
    initial sync emits the whole table as inserts, a second call after
    more replay emits only the net span, a third reports caught_up."""
    import io
    import json
    import sys as _sys
    from contextlib import redirect_stdout

    if "/root/repo" not in _sys.path:
        _sys.path.insert(0, "/root/repo")
    from jobs.cdc_replay_job import main as job_main

    root = tempfile.mkdtemp(prefix="cdc_emit_")

    def run(args):
        out = io.StringIO()
        with redirect_stdout(out):
            rc = job_main(args)
        assert rc == 0
        return json.loads(out.getvalue().strip().splitlines()[-1])

    run(["--generate", "5000", "--table", f"{root}/repos", "--batches", "2",
         "--buckets", "4", "--dense-batches", "--maintenance-every", "0"])
    r1 = run(["--table", f"{root}/repos", "--buckets", "4",
              "--emit-changes", f"{root}/out1", "--cursor", f"{root}/cursor.json"])
    assert r1["caught_up"] is False and r1["from_snapshot"] == 0
    sync = spark.read.parquet(f"{root}/out1")
    assert {r._change_type for r in sync.select("_change_type").distinct().collect()} == {"insert"}
    from dbt_customer360_spark.lake.table import LakeTable

    t = LakeTable(spark, f"{root}/repos", buckets=4)
    assert sync.count() == t.read().count() == r1["rows"]

    # a second ingest span (fresh epoch id + advanced LSNs — the CLI's
    # batch replay would re-use epoch-0 and skip as already-committed)
    ap = CDCApplier(spark, f"{root}/repos", buckets=4)
    more = generate_change_events(
        spark, n_events=500, n_repos=5, paths_per_repo=4
    ).withColumn("lsn", F.col("lsn") + 10**9)
    ap.apply_batch(more, epoch_id="span2")
    r2 = run(["--table", f"{root}/repos", "--buckets", "4",
              "--emit-changes", f"{root}/out2", "--cursor", f"{root}/cursor.json"])
    assert r2["from_snapshot"] == r1["to_snapshot"]
    assert 0 < r2["rows"] < r1["rows"]  # a span, not a re-sync

    r3 = run(["--table", f"{root}/repos", "--buckets", "4",
              "--emit-changes", f"{root}/out3", "--cursor", f"{root}/cursor.json"])
    assert r3["caught_up"] is True


def test_job_cli_rollup_maintenance(spark):
    """jobs/cdc_replay_job.py --rollup: the per-repo live-view rollup is
    maintained incrementally from the repos table's changelog after the
    replay, equals a from-scratch recompute over the live state
    (tombstones excluded via row_filter), and a replayed run leaves it
    caught up (exactly-once end to end)."""
    import io
    import json
    import sys as _sys
    from contextlib import redirect_stdout

    if "/root/repo" not in _sys.path:
        _sys.path.insert(0, "/root/repo")
    from jobs.cdc_replay_job import main as job_main

    root = tempfile.mkdtemp(prefix="cdc_ivm_")
    argv = [
        "--generate", "20000", "--table", f"{root}/repos", "--batches", "2",
        "--buckets", "4", "--dense-batches", "--rollup", f"{root}/rollup",
    ]
    out = io.StringIO()
    with redirect_stdout(out):
        assert job_main(argv) == 0
    rep = json.loads(out.getvalue().strip().splitlines()[-1])
    # the per-epoch hook kept pace, so the final catch-up refresh no-ops
    assert rep["rollup"]["caught_up"] is True

    from dbt_customer360_spark.lake.table import LakeTable
    from dbt_customer360_spark.streaming.apply import CDCApplier

    state = CDCApplier(spark, f"{root}/repos", None, buckets=4).state()
    exp = {
        (r.repo, r.n, r.c)
        for r in state.groupBy("repo")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.coalesce(F.length("content"), F.lit(0))).cast("long").alias("c"),
        )
        .collect()
    }
    roll = LakeTable(spark, f"{root}/rollup", buckets=4)
    got = {
        (r.repo, r.n_paths, r.total_content_chars) for r in roll.read().collect()
    }
    assert got == exp and got
    assert rep["rollup"]["repos"] == len(exp)

    # replayed run: ledger no-ops the merges, changelog span is empty
    out = io.StringIO()
    with redirect_stdout(out):
        assert job_main(argv) == 0
    rep2 = json.loads(out.getvalue().strip().splitlines()[-1])
    assert rep2["rollup"]["caught_up"] is True
    assert rep2["rollup"]["repos"] == len(exp)


def test_expectations_quarantine_action(spark):
    """User expectation with action='quarantine': violating rows (and
    strict-NULL rows) dead-letter under the rule's name; valid rows
    merge; per-rule counts ride the lineage stats."""
    root = tempfile.mkdtemp(prefix="cdc_exp_")
    ap = CDCApplier(
        spark,
        f"{root}/repos",
        buckets=4,
        quarantine_root=f"{root}/dl",
        expectations=[("content_present", "content is not null", "quarantine"),
                      ("lang_known", "lang in ('py', 'go')", "quarantine")],
    )
    rows = [
        (1, "insert", "r", "p1", "c", "py", "ok", "s", None),
        (2, "insert", "r", "p2", "c", "py", None, "s", None),   # content_present
        (3, "insert", "r", "p3", "c", "rs", "x", "s", None),    # lang_known
        (4, "insert", "r", "p4", "c", None, "y", "s", None),    # NULL pred = violation
    ]
    df = spark.createDataFrame(
        rows,
        "lsn long, op string, repo string, path string, commit string, "
        "lang string, content string, source_connector string, ts timestamp",
    )
    stats = ap.apply_batch(df, epoch_id=0)
    assert stats["quarantined"] == 3 and stats["rows_applied"] == 1
    assert stats["violations"] == {"content_present": 1, "lang_known": 2}
    dl = {r.path: r["__reason"] for r in ap.quarantined().collect()}
    assert dl == {"p2": "content_present", "p3": "lang_known", "p4": "lang_known"}
    assert {r.path for r in ap.state().collect()} == {"p1"}


def test_expectations_fail_action_aborts_before_write(spark):
    """action='fail': one violating row aborts the epoch with nothing
    committed (not even quarantine rows); the fixed feed then applies
    under the SAME epoch id (exactly-once clean retry)."""
    root = tempfile.mkdtemp(prefix="cdc_expf_")
    ap = CDCApplier(
        spark,
        f"{root}/repos",
        buckets=4,
        quarantine_root=f"{root}/dl",
        expectations=[("lsn_positive", "lsn > 0", "fail")],
    )
    rows = [
        (1, "insert", "r", "p1", "c", "py", "ok", "s", None),
        (-7, "insert", "r", "p2", "c", "py", "neg", "s", None),
    ]
    schema = (
        "lsn long, op string, repo string, path string, commit string, "
        "lang string, content string, source_connector string, ts timestamp"
    )
    df = spark.createDataFrame(rows, schema)
    with pytest.raises(ValueError, match="lsn_positive"):
        ap.apply_batch(df, epoch_id=0)
    assert not ap.table.exists()
    assert ap.quarantined().count() == 0
    # fail outranks quarantine built-ins: a row violating BOTH (null
    # key + bad lsn) still aborts
    both = spark.createDataFrame([( -1, "insert", None, "p", "c", "py", "x", "s", None)], schema)
    with pytest.raises(ValueError, match="lsn_positive"):
        ap.apply_batch(both, epoch_id=0)
    # fixed feed, same epoch id: applies normally
    good = spark.createDataFrame(rows[:1], schema)
    s = ap.apply_batch(good, epoch_id=0)
    assert s["rows_applied"] == 1 and s["violations"] == {}


def test_expectations_config_validation(spark):
    root = tempfile.mkdtemp(prefix="cdc_expv_")
    with pytest.raises(ValueError, match="action must be"):
        CDCApplier(spark, f"{root}/a", expectations=[("x", "1=1", "drop")])
    with pytest.raises(ValueError, match="no.*quarantine_root|quarantine_root"):
        CDCApplier(spark, f"{root}/b", expectations=[("x", "1=1", "quarantine")])
    with pytest.raises(ValueError, match="duplicate"):
        CDCApplier(
            spark,
            f"{root}/c",
            quarantine_root=f"{root}/dl",
            expectations=[("x", "1=1", "quarantine"), ("x", "2=2", "fail")],
        )
    with pytest.raises(ValueError, match="lineage_grain must be"):
        CDCApplier(spark, f"{root}/e", lineage_grain="partitions")
    with pytest.raises(ValueError, match="write_mode must be"):
        CDCApplier(spark, f"{root}/f", write_mode="mo")
    # fail-only expectations need no quarantine table
    ap = CDCApplier(spark, f"{root}/d", buckets=2,
                    expectations=[("x", "lsn is not null", "fail")])
    df = spark.createDataFrame(
        [(1, "insert", "r", "p", "c", "py", "ok", "s", None)],
        "lsn long, op string, repo string, path string, commit string, "
        "lang string, content string, source_connector string, ts timestamp",
    )
    assert ap.apply_batch(df, epoch_id=0)["rows_applied"] == 1


def test_expectations_through_streaming(spark, tmp_path):
    """expect_or_drop runs inside the real foreachBatch stream: the
    violating rows dead-letter per micro-batch, the survivors' final
    state matches the oracle over the FILTERED feed, and the query
    terminates (validation rides the one pre-merge aggregation)."""
    events = _events(spark, 1200)
    src = str(tmp_path / "events")
    events.repartition(4).write.parquet(src)
    schema = (
        "lsn long, op string, repo string, path string, commit string, "
        "lang string, content string, source_connector string, ts timestamp"
    )
    root = str(tmp_path / "lake")
    ap = CDCApplier(
        spark,
        f"{root}/repos",
        buckets=4,
        quarantine_root=f"{root}/dl",
        expectations=[("even_lsn", "lsn % 2 = 0", "quarantine")],
    )
    q = ap.stream(src, str(tmp_path / "ckpt"), schema=schema, max_files_per_trigger=2)
    assert q.awaitTermination(300) is True
    kept = [r for r in events.collect() if r.lsn % 2 == 0]
    dropped = events.count() - len(kept)
    assert _sha(_engine_state(ap)) == _sha(_python_oracle(kept))
    dl = ap.quarantined()
    assert dl.count() == dropped
    assert {r["__reason"] for r in dl.select("__reason").distinct().collect()} == {
        "even_lsn"
    }


def test_job_cli_expectations_flag(spark):
    """--expect NAME:ACTION:PREDICATE through the spark-submit entry
    point: quarantine expectations dead-letter per epoch, and a
    malformed spec exits 2 without touching the table."""
    import io
    import json
    import sys as _sys
    from contextlib import redirect_stdout

    if "/root/repo" not in _sys.path:
        _sys.path.insert(0, "/root/repo")
    from jobs.cdc_replay_job import main as job_main

    root = tempfile.mkdtemp(prefix="cdc_cliexp_")
    out = io.StringIO()
    with redirect_stdout(out):
        rc = job_main(
            ["--generate", "20000", "--table", f"{root}/repos",
             "--quarantine", f"{root}/dl", "--batches", "2", "--buckets", "4",
             "--expect", "even_lsn:quarantine:lsn % 2 = 0"]
        )
    assert rc == 0
    from dbt_customer360_spark.lake.table import LakeTable

    dl = LakeTable(spark, f"{root}/dl", buckets=1).read()
    assert dl.count() > 0
    assert {r["__reason"] for r in dl.select("__reason").distinct().collect()} == {
        "even_lsn"
    }
    live = LakeTable(spark, f"{root}/repos", buckets=4).read()
    assert live.filter(F.col("__max_lsn") % 2 != 0).count() == 0
    # malformed spec: exit 2, no table created
    rc2 = job_main(["--table", f"{root}/other", "--expect", "nocolon"])
    assert rc2 == 2
    assert not LakeTable(spark, f"{root}/other", buckets=4).exists()
