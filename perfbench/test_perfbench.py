"""Tests of the benchmark itself: the oracles catch wrong outputs, every
workload's smoke mode passes every oracle and prints every metric
BENCHMARK.json names, and the launcher fails cleanly without the engine.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from oracles import check_gets, check_state  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _events(tmp_path):
    rows = [
        # lsn, op, repo, path, commit, lang, content
        (0, "insert", "r", "a", "c0", "py", "x0"),
        (1, "insert", "r", "b", "c1", "py", "y0"),
        (2, "update", "r", "a", "c2", "py", "x1"),
        (3, "delete", "r", "b", "c3", "py", None),
    ]
    cols = ["lsn", "op", "repo", "path", "commit", "lang", "content"]
    d = tmp_path / "fidx=0"
    d.mkdir()
    pq.write_table(pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}), d / "p.parquet")
    return str(tmp_path / "*" / "*.parquet")


def test_state_oracle_counts_wrong_missing_and_extra_rows(tmp_path):
    glob = _events(tmp_path)
    assert check_state(glob, 4, [("r", "a", "c2", "py", "x1")]) == 0
    assert check_state(glob, 2, [("r", "a", "c0", "py", "x0"), ("r", "b", "c1", "py", "y0")]) == 0
    assert check_state(glob, 4, [("r", "a", "c0", "py", "x0")]) == 2  # stale
    assert check_state(glob, 4, []) == 1  # missing
    assert check_state(glob, 4, [("r", "a", "c2", "py", "x1"), ("r", "b", "c1", "py", "y0")]) == 1


def test_get_oracle_cuts_at_the_lsn_bound(tmp_path):
    glob = _events(tmp_path)
    live = ("r", "a", "c2", "py", "x1", False, 2)
    tomb = ("r", "b", "c3", "py", None, True, 3)
    gets = [
        {"repo": "r", "path": "a", "bound": 4, "rows": [live]},
        {"repo": "r", "path": "b", "bound": 4, "rows": [tomb]},
        {"repo": "r", "path": "b", "bound": 1, "rows": []},  # not yet written
        {"repo": "r", "path": "a", "bound": 2, "rows": [live]},  # from the future
        {"repo": "r", "path": "b", "bound": 4, "rows": [tomb[:5] + (False, 3)]},  # lost delete
    ]
    assert check_gets(glob, gets) == [True, True, True, False, False]


def _run(args, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=400)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_passes_every_oracle_and_prints_every_metric(workload, trace):
    p = _run(["--workload", workload, "--seed", "7", "--seconds", "3",
              "--trace", str(trace), "--smoke"])
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for name in ("epoch_tail_s", "get_p50_ms", "get_tail_ms", "error_rate"):
        assert name in p.stdout


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "firehose_stream", "--seed", "1", "--seconds", "1",
              "--trace", "0"], cwd=str(tmp_path))
    assert p.returncode != 0
    assert not any(line.startswith("{") for line in p.stdout.splitlines())
