"""Run one CDC-ingest benchmark workload in a fresh, pinned process.

    python3 perfbench/run.py --workload firehose_stream --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --workload trickle_upserts_gets --seed 1 --seconds 5 --trace 0 --smoke

Run from the repository root. The launcher pins the environment
(``SPARK_GRAFT_CPUS`` = usable cores, a fixed 2 GB JVM heap, ``PYTHONPATH`` =
the root, ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` under a scratch directory in
the root), starts ``workloads.py`` in its own process group, waits for it
and every process it started, removes the scratch directory, and relays
the workload's output. The last stdout line is the JSON result; a failed
workload prints no result and exits non-zero.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170
DRIVER_MEM = "2g"


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(pgid: int) -> None:
    """SIGTERM the workload's process group, SIGKILL what outlives 10 s,
    and return once every member has exited."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, every oracle")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "dbt_customer360_spark")):
        print(f"dbt_customer360_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=ROOT,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env.pop("OMP_NUM_THREADS", None)
    cmd = [
        sys.executable, os.path.join(HERE, "workloads.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--trace-dir", os.path.join(ROOT, ".perfbench-out"),
    ] + (["--smoke"] if args.smoke else [])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"workload exceeded {TIMEOUT_S}s", file=sys.stderr)
        out, code = "", 1
    else:
        code = proc.returncode
    finally:
        _stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch dir is still there
    lines = out.splitlines()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write("".join(line + "\n" for line in lines if not line.startswith("{")))
        print(f"workload failed (exit {code})", file=sys.stderr)
        return code or 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
