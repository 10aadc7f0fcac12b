"""ensure_checkpoint_dir guard semantics (r4 ADVICE: the substring
containment guard false-positived on prefix-sharing dirs)."""

import os

from dbt_customer360_spark.session import ensure_checkpoint_dir


def _parent(cur: str) -> str:
    p = cur
    if p.startswith("file:"):
        p = "/" + p[len("file:"):].lstrip("/")
    return os.path.dirname(p.rstrip("/"))


def test_set_once_then_stable(spark, tmp_path):
    sc = spark.sparkContext
    a = str(tmp_path / "ck")
    ensure_checkpoint_dir(sc, a)
    cur1 = sc.getCheckpointDir()
    assert _parent(cur1) == a
    # second call with the same dir must NOT mint a new uuid subdir
    ensure_checkpoint_dir(sc, a)
    assert sc.getCheckpointDir() == cur1


def test_prefix_dir_is_not_a_match(spark, tmp_path):
    """/ck is a string prefix of /ck2 — the old containment guard
    silently kept the stale dir; exact parent compare must re-set."""
    sc = spark.sparkContext
    a = str(tmp_path / "ck2")
    b = str(tmp_path / "ck")  # prefix of a
    ensure_checkpoint_dir(sc, a)
    assert _parent(sc.getCheckpointDir()) == a
    ensure_checkpoint_dir(sc, b)
    assert _parent(sc.getCheckpointDir()) == b


def test_driver_young_generation_is_capped(spark):
    """get_spark caps G1's eden at a quarter of the driver heap, so the
    resident heap follows the live data instead of the largest eden G1
    has sized so far (a 2 GB heap read 2.4 or 2.8 GB peak RSS from one
    CDC workload to the next without it)."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("UseG1GC").getValue() == "true"
    assert bean.getVMOption("G1MaxNewSizePercent").getValue() == "25"
