"""In-memory spans around the engine's public calls, plus Spark counters.

Tracing is only switched on for ``--trace 1`` runs: :class:`Tracer`
patches the public methods named in :data:`TRACED` with wrappers that
record ``(name, start, end, parent, run_id, phase)`` spans in a list, and
:func:`spark_counters` reads the Spark event log that the traced run
enables. Untraced runs install nothing, so their end-to-end numbers carry
no wrapper cost; the difference between the two is the tracing overhead.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time

# (module path, class name, method, span name)
TRACED = [
    ("dbt_customer360_spark.streaming.apply", "CDCApplier", "apply_batch", "apply"),
    ("dbt_customer360_spark.lake.table", "LakeTable", "merge_lsn", "table.merge_lsn"),
    ("dbt_customer360_spark.lake.table", "LakeTable", "append", "table.append"),
    ("dbt_customer360_spark.lake.table", "LakeTable", "committed_batch_ids", "table.manifest"),
    ("dbt_customer360_spark.lake.table", "LakeTable", "current_snapshot_id", "table.manifest"),
    ("dbt_customer360_spark.lake.table", "LakeTable", "maybe_compact", "table.maintenance"),
    ("dbt_customer360_spark.lake.table", "LakeTable", "expire_snapshots", "table.maintenance"),
    ("dbt_customer360_spark.lake.table", "LakeTable", "read_point", "table.read_point"),
]
# table writers whose new data files are counted (files_written, bytes_written)
WRITERS = {"table.merge_lsn", "table.append", "table.maintenance"}


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "run_id", "phase", "attrs")

    def __init__(self, id, name, start, parent, run_id, phase):
        self.id, self.name, self.start, self.parent = id, name, start, parent
        self.run_id, self.phase = run_id, phase
        self.end = None
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start


def _data_files(root: str) -> dict[str, int]:
    """Every parquet file under a table's data dir -> its size."""
    out = {}
    for p in glob.glob(os.path.join(root, "data", "**", "*.parquet"), recursive=True):
        try:
            out[p] = os.path.getsize(p)
        except FileNotFoundError:  # removed by a concurrent expiry
            pass
    return out


class Tracer:
    """Span recorder. ``phase`` tags spans so setup and the timed window
    are reported apart; a thread-local stack gives each span its parent
    (foreachBatch callbacks run on their own thread)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.phase = "setup"
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[type, str, object]] = []

    @property
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack
        with self._lock:
            sp = Span(
                len(self.spans), name, time.time(),
                stack[-1].id if stack else None, self.run_id, self.phase,
            )
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()

    def install(self) -> None:
        import importlib

        for mod, cls_name, meth, name in TRACED:
            cls = getattr(importlib.import_module(mod), cls_name)
            orig = getattr(cls, meth)
            setattr(cls, meth, self._wrap(orig, name))
            self._patched.append((cls, meth, orig))

    def uninstall(self) -> None:
        for cls, meth, orig in reversed(self._patched):
            setattr(cls, meth, orig)
        self._patched.clear()

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(obj, *a, **kw):
            root = getattr(obj, "root", None) if name in WRITERS else None
            before = _data_files(root) if root else None
            with tracer.span(name) as sp:
                out = fn(obj, *a, **kw)
            if before is not None:
                new = {p: s for p, s in _data_files(root).items() if p not in before}
                sp.attrs["files"] = len(new)
                sp.attrs["bytes"] = sum(new.values())
            return out

        return wrapper

    # --- queries over the recorded spans ------------------------------------

    def of(self, names, phase: str | None = "window") -> list[Span]:
        names = {names} if isinstance(names, str) else set(names)
        return [
            s for s in self.spans
            if s.name in names and s.end is not None and (phase is None or s.phase == phase)
        ]

    def outermost(self, name: str, phase: str = "window") -> list[Span]:
        """Spans of ``name`` not nested inside another span of ``name``."""
        by_id = {s.id: s for s in self.spans}
        out = []
        for s in self.of(name, phase):
            p = by_id.get(s.parent)
            while p is not None and p.name != name:
                p = by_id.get(p.parent)
            if p is None:
                out.append(s)
        return out

    def self_time(self, sp: Span) -> float:
        """Span duration minus the time its direct children cover."""
        kids = [s for s in self.spans if s.parent == sp.id and s.end is not None]
        return sp.dur - sum(k.dur for k in kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run_id": s.run_id, "phase": s.phase, **s.attrs,
                }) + "\n")


def spark_counters(event_log_dir: str, epochs: list[Span]) -> dict:
    """Per-epoch Spark engine counters from a finished event log.

    Jobs are attributed to the epoch span their submission time falls
    in (foreachBatch jobs run on the stream's own thread, where a job
    group set by the caller does not reach). Returns per-epoch means of
    jobs, stages, tasks, shuffle bytes, executor run and GC seconds,
    the retried-task count, and the median over epochs of the heaviest
    stage's max/median task duration (the merge stage's skew)."""
    files = [p for p in glob.glob(os.path.join(event_log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one Spark event log in {event_log_dir}, got {files}")
    windows = sorted((s.start * 1000, s.end * 1000, i) for i, s in enumerate(epochs))
    job_epoch: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    stages_done: dict[int, int] = {}  # stage id -> epoch
    tasks: dict[int, list[dict]] = {}  # stage id -> task records
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                t = ev["Submission Time"]
                for lo, hi, i in windows:
                    if lo <= t <= hi:
                        job_epoch[ev["Job ID"]] = i
                        for sid in ev["Stage IDs"]:
                            stage_job[sid] = ev["Job ID"]
                        break
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    stages_done[sid] = job_epoch[stage_job[sid]]
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "ms": info["Finish Time"] - info["Launch Time"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "sw": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "retry": 1 if info.get("Attempt", 0) > 0 else 0,
                })
    n = max(len(epochs), 1)
    all_tasks = [t for ts in tasks.values() for t in ts]
    skews = []
    for i in range(len(epochs)):
        sids = [s for s, e in stages_done.items() if e == i and len(tasks.get(s, [])) > 1]
        if not sids:
            continue
        heavy = max(sids, key=lambda s: sum(t["run_ms"] for t in tasks[s]))
        ms = [t["ms"] for t in tasks[heavy]]
        skews.append(max(ms) / max(statistics.median(ms), 1))
    return {
        "spark.jobs": len(job_epoch) / n,
        "spark.stages": len(stages_done) / n,
        "spark.tasks": len(all_tasks) / n,
        "spark.shuffle_write_bytes": sum(t["sw"] for t in all_tasks) / n,
        "spark.shuffle_read_bytes": sum(t["sr"] for t in all_tasks) / n,
        "spark.executor_run_s": sum(t["run_ms"] for t in all_tasks) / 1000 / n,
        "spark.gc_s": sum(t["gc_ms"] for t in all_tasks) / 1000 / n,
        "spark.task_retries": sum(t["retry"] for t in all_tasks),
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
    }
