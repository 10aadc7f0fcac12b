"""CDC-ingest benchmark: one workload, one seed, one process.

Run through ``run.py``, which pins the environment and starts this file
in a fresh process. Inputs come only from the public generators
(``sources.cdc.generate_change_events``), staged as one parquet file per
LSN range; the engine is driven only through its public entry points
(``CDCApplier.stream``, ``CDCApplier.apply_batch``, ``LakeTable.read_point``,
``CDCApplier.state``). Every run ends with the DuckDB oracles of
``oracles.py``; the last stdout line is the JSON result.

Workloads (why each was chosen is in DESIGN.md):

- ``firehose_stream``: scheduled availableNow replays of dense 20k-event
  files through ``CDCApplier.stream`` (foreachBatch -> ``merge_lsn``),
  each followed by a burst of point GETs. Closed loop.
- ``trickle_upserts_gets``: 50-event epochs through
  ``CDCApplier.apply_batch`` with bucket pruning, each followed by point
  GETs on hot, cold and deleted keys. Closed loop.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()

EVENT_DDL = (
    "lsn bigint, op string, repo string, path string, commit string, "
    "lang string, content string, source_connector string, ts timestamp"
)
GET_COLS = ["repo", "path", "commit", "lang", "content", "__deleted", "__max_lsn"]

# Sizes: full runs, then the smoke mode the benchmark's own tests use.
SIZES = {
    "firehose_stream": {
        "full": dict(repos=50, paths=200, per_file=10_000, files=28, round_files=2,
                     gets=4, setups=3),
        "smoke": dict(repos=8, paths=20, per_file=300, files=8, round_files=2,
                      gets=4, setups=2, max_rounds=2),
    },
    "trickle_upserts_gets": {
        "full": dict(repos=50, paths=200, per_file=10_000, preload_files=2,
                     epoch_events=50, max_epochs=300, warm_epochs=4, gets=4, setups=3),
        "smoke": dict(repos=8, paths=20, per_file=300, preload_files=2,
                      epoch_events=20, max_epochs=4, warm_epochs=1, gets=4, setups=2),
    },
}


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    s = sorted(values)
    r = q * (len(s) - 1)
    lo = int(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


TAIL_Q = 0.9
# the end-to-end metrics that carry a regression bound (BENCHMARK.json);
# GET latency, the tails and error_rate are printed beside them (DESIGN.md
# says why)
BOUNDED = ["setup_s", "events_per_s", "epoch_p50_s", "peak_rss_mb"]


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus its direct children (the
    Spark JVM), read from /proc."""
    me = os.getpid()
    pids = [me]
    for st in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(st) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == me:
            pids.append(int(st.split("/")[2]))
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


class CDCWorkload:
    """Shared set-up, GET loop and oracle checks; subclasses define the
    write loop."""

    def __init__(self, spark, seed: int, size: dict, tracer=None):
        self.spark, self.seed, self.sz = spark, seed, size
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.epochs: list[float] = []      # seconds per micro-batch commit
        self.gets: list[float] = []        # seconds per GET
        self.get_log: list[dict] = []      # for the oracle
        self.get_files: list[int] = []     # files read per GET (traced)
        self.replay_s = 0.0                # wall time of the write phase
        self.window_events = 0
        self.window_input_bytes = 0
        self.triggers: list[dict] = []     # streaming progress, data triggers
        self.failures = 0

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    # --- set-up ---------------------------------------------------------------

    def stage(self, d: str, n_files: int) -> None:
        """Generate ``n_files * per_file`` events and stage them as one
        parquet file per ``per_file`` LSN range."""
        from dbt_customer360_spark.sources.cdc import generate_change_events
        from pyspark.sql import functions as F

        sz = self.sz
        with self.span("sources.generate"):
            ev = generate_change_events(
                self.spark, n_events=n_files * sz["per_file"], n_repos=sz["repos"],
                paths_per_repo=sz["paths"], seed=self.seed,
            ).localCheckpoint(eager=True)
        self.pool = os.path.join(d, "pool")
        with self.span("sources.stage"):
            (
                ev.withColumn("fidx", (F.col("lsn") / sz["per_file"]).cast("int"))
                .repartition("fidx")
                .sortWithinPartitions("lsn")
                .write.partitionBy("fidx")
                .parquet(self.pool)
            )
            self.files = []
            for i in range(n_files):
                (part,) = glob.glob(os.path.join(self.pool, f"fidx={i}", "*.parquet"))
                self.files.append(part)
        self.events_glob = os.path.join(self.pool, "*", "*.parquet")
        ev.unpersist()

    def key_pools(self, bound: int) -> None:
        """Hot (most-updated), cold (written once) and deleted keys among
        the events below ``bound``; GETs cycle through the three."""
        import pyarrow.parquet as pq
        import pyarrow as pa

        t = pa.concat_tables(
            pq.read_table(f, columns=["lsn", "repo", "path", "op"])
            for f in self.files[: -(-bound // self.sz["per_file"])]
        ).to_pandas()
        t = t[t.lsn < bound].sort_values("lsn")
        last = t.groupby(["repo", "path"]).agg(n=("lsn", "size"), op=("op", "last"))
        keys = lambda df: sorted(df.index.tolist())  # noqa: E731
        hot = keys(last.nlargest(max(len(last) // 100, 8), "n"))
        cold = keys(last[last.n == last.n.min()])
        deleted = keys(last[last.op == "delete"])
        self.pools = [p for p in (hot, cold, deleted) if p]

    def new_applier(self, d: str, **kw):
        from dbt_customer360_spark.streaming.apply import CDCApplier

        self.src = os.path.join(d, "src")
        self.ckpt = os.path.join(d, "ckpt")
        os.makedirs(self.src, exist_ok=True)
        self.next_file = 0
        self.applier = CDCApplier(
            self.spark, os.path.join(d, "table"),
            lineage_root=os.path.join(d, "lineage"), **kw,
        )

    def stream_files(self, n: int) -> list[dict]:
        """Publish the next ``n`` staged files and replay them with one
        availableNow run of ``CDCApplier.stream`` (one file per trigger);
        returns the progress of the triggers that carried data."""
        for f in self.files[self.next_file : self.next_file + n]:
            os.link(f, os.path.join(self.src, f"e{self.next_file:05d}.parquet"))
            self.next_file += 1
        q = self.applier.stream(self.src, self.ckpt, schema=EVENT_DDL, max_files_per_trigger=1)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return [p for p in q.recentProgress if p["numInputRows"] > 0]

    # --- GETs -------------------------------------------------------------------

    def do_gets(self, bound: int, record: bool) -> None:
        """One burst of point GETs; ``bound`` is the exclusive LSN bound of
        the events applied so far (the oracle cuts there). Warm-up bursts
        are twice as long: the GET path is cheap and slow to warm."""
        for i in range(self.sz["gets"] * (1 if record else 2)):
            pool = self.pools[i % len(self.pools)]
            repo, path = pool[self.rng.randrange(len(pool))]
            t = time.perf_counter()
            df = self.applier.table.read_point({"repo": repo, "path": path})
            rows = [tuple(r) for r in df.select(*GET_COLS).collect()]
            dt = time.perf_counter() - t
            if record:
                self.gets.append(dt)
                self.get_log.append({"repo": repo, "path": path, "bound": bound, "rows": rows})
                if self.tracer is not None:
                    self.get_files.append(len(df.inputFiles()))

    # --- checks -----------------------------------------------------------------

    def check(self) -> int:
        """Oracle mismatches, counted as failed operations: a final-state
        or lineage mismatch fails every epoch of the run; a wrong GET
        fails that GET."""
        from pyspark.sql import functions as F

        from oracles import ROW, check_gets, check_state

        failed = 0
        state = [tuple(r) for r in self.applier.state().select(*ROW).collect()]
        bad_rows = check_state(self.events_glob, self.bound, state)
        lineage = (
            self.applier.lineage.read()
            .filter(F.col("row_kind") == "epoch")
            .agg(F.sum("rows_applied"))
            .first()[0]
        )
        if bad_rows or lineage != self.bound:
            print(f"oracle: {bad_rows} state rows differ; lineage rows_applied "
                  f"{lineage} vs {self.bound} events applied", file=sys.stderr)
            failed += len(self.epochs)
        bad_gets = check_gets(self.events_glob, self.get_log).count(False)
        if bad_gets:
            print(f"oracle: {bad_gets} GETs differ", file=sys.stderr)
        return failed + bad_gets


class Firehose(CDCWorkload):
    def stage_inputs(self, d: str) -> None:
        self.stage(d, self.sz["files"])

    def prepare(self, d: str) -> None:
        self.new_applier(
            d, assume_dense_batches=True, maintenance_every=4, lineage_grain="partition",
        )
        # warm-up: two scheduled rounds and their GETs
        for r in range(2):
            self.stream_files(self.sz["round_files"])
            if r == 0:
                self.key_pools(self.bound)
            self.do_gets(self.bound, record=False)

    @property
    def bound(self) -> int:
        return self.next_file * self.sz["per_file"]

    def window(self, seconds: float) -> None:
        sz = self.sz
        deadline = time.perf_counter() + seconds
        first = self.next_file
        rounds = 0
        while (
            time.perf_counter() < deadline
            and self.next_file + sz["round_files"] <= len(self.files)
            and rounds < sz.get("max_rounds", 1 << 30)
        ):
            t = time.perf_counter()
            progress = self.stream_files(sz["round_files"])
            self.replay_s += time.perf_counter() - t
            rounds += 1
            self.triggers += progress
            self.epochs += [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
            self.do_gets(self.bound, record=True)
        # every staged file holds exactly per_file events (the progress
        # numInputRows counts each scan of the batch, not each event)
        self.window_events = (self.next_file - first) * sz["per_file"]
        if self.tracer is not None:
            import pyarrow.parquet as pq

            self.window_input_bytes = sum(
                pq.read_table(f).nbytes for f in self.files[first : self.next_file]
            )


class Trickle(CDCWorkload):
    def stage_inputs(self, d: str) -> None:
        sz = self.sz
        tail_events = sz["epoch_events"] * (sz["max_epochs"] + sz["warm_epochs"])
        self.stage(d, sz["preload_files"] + -(-tail_events // sz["per_file"]))

    def prepare(self, d: str) -> None:
        import pyarrow.parquet as pq
        import pyarrow as pa

        sz = self.sz
        self.new_applier(d, maintenance_every=8)
        # bulk preload through the stream; its triggers are this
        # workload's streaming-layer sample
        self.triggers = self.stream_files(sz["preload_files"])
        self.tail = pa.concat_tables(
            pq.read_table(f) for f in self.files[sz["preload_files"] :]
        ).sort_by("lsn")
        self.tail_pos = 0
        self.key_pools(self.bound)
        for i in range(sz["warm_epochs"]):
            self.epoch(f"w{i}")
            self.do_gets(self.bound, record=False)

    @property
    def bound(self) -> int:
        return self.sz["preload_files"] * self.sz["per_file"] + self.tail_pos

    def epoch(self, epoch_id: str) -> float:
        from pyspark.sql.types import StructType

        n = self.sz["epoch_events"]
        chunk = self.tail.slice(self.tail_pos, n)
        batch = self.spark.createDataFrame(chunk.to_pandas(), schema=StructType.fromDDL(EVENT_DDL))
        t = time.perf_counter()
        self.applier.apply_batch(batch, epoch_id)
        dt = time.perf_counter() - t
        self.tail_pos += chunk.num_rows
        return dt

    def window(self, seconds: float) -> None:
        sz = self.sz
        deadline = time.perf_counter() + seconds
        first = self.tail_pos
        i = 0
        while time.perf_counter() < deadline and i < sz["max_epochs"]:
            dt = self.epoch(f"t{i}")
            i += 1
            self.epochs.append(dt)
            self.replay_s += dt
            self.window_events += sz["epoch_events"]
            self.do_gets(self.bound, record=True)
        self.window_input_bytes = self.tail.slice(first, self.tail_pos - first).nbytes


WORKLOADS = {"firehose_stream": Firehose, "trickle_upserts_gets": Trickle}


def end_to_end(w: CDCWorkload, setup_s: float, rss: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "events_per_s": (w.window_events / w.replay_s, "events/s"),
        "epoch_p50_s": (statistics.median(w.epochs), "s"),
        "epoch_tail_s": (pct(w.epochs, TAIL_Q), "s"),
        "get_p50_ms": (statistics.median(w.gets) * 1000, "ms"),
        "get_tail_ms": (pct(w.gets, TAIL_Q) * 1000, "ms"),
        "peak_rss_mb": (rss, "MB"),
    }


def per_layer(w: CDCWorkload, tracer, setup_spans: dict, spark_stats: dict) -> dict:
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    applies = tracer.outermost("apply")
    n = max(len(applies), 1)
    writes = tracer.of(["table.merge_lsn", "table.append", "table.maintenance"])
    bytes_written = sum(s.attrs.get("bytes", 0) for s in writes)
    trig = lambda k: med([p["durationMs"].get(k, 0) / 1000 for p in w.triggers])  # noqa: E731
    out = {
        "apply.epochs": (len(applies), "count"),
        "apply.self_s": (med([tracer.self_time(s) for s in applies]), "s"),
        "stream.trigger_s": (trig("triggerExecution"), "s"),
        "stream.add_batch_s": (trig("addBatch"), "s"),
        "stream.wal_commit_s": (trig("walCommit"), "s"),
        "stream.latest_offset_s": (trig("latestOffset"), "s"),
        "table.merge_lsn_s": (med([s.dur for s in tracer.of("table.merge_lsn")]), "s"),
        "table.merge_lsn_calls": (len(tracer.of("table.merge_lsn")), "count"),
        "table.append_s": (med([s.dur for s in tracer.of("table.append")]), "s"),
        "table.manifest_s": (sum(s.dur for s in tracer.outermost("table.manifest")) / n, "s"),
        "table.maintenance_s": (sum(s.dur for s in tracer.outermost("table.maintenance")) / n, "s"),
        "table.files_written": (sum(s.attrs.get("files", 0) for s in writes) / n, "count"),
        "table.bytes_written": (bytes_written / n, "bytes"),
        "table.write_amp": (bytes_written / max(w.window_input_bytes, 1), "ratio"),
        "table.read_point_s": (med([s.dur for s in tracer.of("table.read_point")]), "s"),
        "table.read_point_files": (med(w.get_files), "count"),
        "sources.generate_s": (med(setup_spans["sources.generate"]), "s"),
        "sources.stage_s": (med(setup_spans["sources.stage"]), "s"),
    }
    units = {"spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
             "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
             "spark.executor_run_s": "s", "spark.gc_s": "s", "spark.task_skew": "ratio"}
    out.update({k: (v, units[k]) for k, v in spark_stats.items()})
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--work", required=True, help="scratch dir, removed by the caller")
    ap.add_argument("--trace-dir", default=".perfbench-out", help="where traced runs write spans")
    args = ap.parse_args()

    from dbt_customer360_spark.session import get_spark

    tracer = None
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
        # a pre-sized heap keeps peak RSS from tracking GC heap-sizing noise
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
        ),
    }
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(run_id=f"{args.workload}-{args.seed}")
        tracer.install()
        log_dir = os.path.join(args.work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app=f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - T_START

    size = SIZES[args.workload]["smoke" if args.smoke else "full"]
    # generate and stage the inputs several times (fresh directories,
    # same seed) and count the median; then preload and warm up once
    reps, setup_spans = [], {}
    for r in range(size["setups"]):
        if r:
            shutil.rmtree(os.path.join(args.work, f"inputs{r - 1}"))
        w = WORKLOADS[args.workload](spark, args.seed, size, tracer)
        t = time.perf_counter()
        w.stage_inputs(os.path.join(args.work, f"inputs{r}"))
        reps.append(time.perf_counter() - t)
        if tracer is not None:
            for name in ("sources.generate", "sources.stage"):
                setup_spans.setdefault(name, []).append(tracer.of(name, "setup")[-1].dur)
    t = time.perf_counter()
    w.prepare(os.path.join(args.work, "run"))
    prepare_s = time.perf_counter() - t
    setup_s = session_s + statistics.median(reps) + prepare_s

    if tracer is not None:
        tracer.phase = "window"
    try:
        w.window(args.seconds)
    except Exception:
        traceback.print_exc()
        w.failures += 1
    if tracer is not None:
        tracer.phase = "check"
    rss = peak_rss_mb()
    t_check = time.perf_counter()
    try:
        failed = w.failures + w.check()
    except Exception:
        traceback.print_exc()
        failed = len(w.epochs) + len(w.gets)
    attempted = max(len(w.epochs) + len(w.gets) + w.failures, 1)
    spark.stop()
    print(f"checks took {time.perf_counter() - t_check:.2f} s; epochs_s",
          [round(e, 2) for e in w.epochs], "gets_ms", [round(g * 1000) for g in w.gets],
          file=sys.stderr)

    if not w.epochs or not w.gets:
        print("no epoch or GET completed in the timed window", file=sys.stderr)
        return 1
    e2e = end_to_end(w, setup_s, rss)
    e2e["error_rate"] = (failed / attempted, "ratio")
    print(f"# {args.workload} seed={args.seed} trace={args.trace} session_s={session_s:.2f} "
          f"inputs_s={[round(r, 2) for r in reps]} prepare_s={prepare_s:.2f}")
    beyond = lambda n: n - 1 - int(TAIL_Q * (n - 1))  # noqa: E731
    notes = {
        "epoch_p50_s": f"median of {len(w.epochs)} epochs",
        "epoch_tail_s": f"p{TAIL_Q * 100:.0f} of {len(w.epochs)}, {beyond(len(w.epochs))} beyond",
        "get_p50_ms": f"median of {len(w.gets)} GETs",
        "get_tail_ms": f"p{TAIL_Q * 100:.0f} of {len(w.gets)}, {beyond(len(w.gets))} beyond",
        "events_per_s": f"{w.window_events} events / {w.replay_s:.2f} s replay",
        "error_rate": f"{failed} failed of {attempted} epochs + GETs",
    }
    for k, (v, unit) in e2e.items():
        print(f"{k:>14} {v:14.4f} {unit:<9} {notes.get(k, '')}")
    metrics = {k: e2e[k] for k in BOUNDED}
    if tracer is not None:
        from tracing import spark_counters

        stats = spark_counters(log_dir, tracer.outermost("apply"))
        retries = stats.pop("spark.task_retries")
        metrics = per_layer(w, tracer, setup_spans, stats)
        os.makedirs(args.trace_dir, exist_ok=True)
        tracer.dump(os.path.join(args.trace_dir, f"{args.workload}-{args.seed}-spans.jsonl"))
        for k, (v, unit) in metrics.items():
            print(f"{k:>26} {v:16.4f} {unit}")
        print(f"{'spark.task_retries':>26} {retries:16d} count")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
