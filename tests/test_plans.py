"""Physical-plan shape assertions — the scale contract.

These tests pin the plans we designed for (SURVEY.md §4): broadcast
hash joins for dims, pushed parquet filters/pruned schemas, and —
critically — NO BroadcastNestedLoopJoin/CartesianProduct anywhere in
the match path (the whole point of decomposing the OR-join)."""

import pytest
from pyspark.sql import functions as F

from dbt_customer360_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dim_joins_are_broadcast(spark):
    plan = _plan(QUERIES["broadcast_dim_join"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_match_path_has_no_nested_loop(spark):
    plan = _plan(QUERIES["match_candidates"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]" in plan
    # column pruning: scan schema only carries the two selected columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_pricing_summary_partial_aggregation(spark):
    """Map-side combine: two HashAggregate levels around the exchange."""
    plan = _plan(QUERIES["pricing_summary"](spark, SF))
    assert plan.count("HashAggregate") >= 2


def test_bm25_never_shuffles_the_corpus(spark):
    """BM25: per-doc counts in the scan stage, corpus stats broadcast
    back as a 1-row cross join — the only Exchanges are the stats
    aggregation's (tiny) and its broadcast; the corpus side itself is
    scan -> project with no repartition."""
    from dbt_customer360_spark.operators import textstats
    from dbt_customer360_spark.session import spread_for_compute

    d = spread_for_compute(
        spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    )
    plan = _plan(textstats.bm25_scores(d, "doc_id", "text", ["hash", "join", "merge"]))
    # one single-partition exchange for the global stats + its
    # broadcast (+AQE read), plus at most one ROUND-ROBIN spread of a
    # single-split local scan (session.spread_for_compute — a no-op on
    # at-scale inputs, pinned by test_spread_for_compute_noop_at_scale)
    assert plan.count("Exchange") <= 4, plan
    assert "SortMergeJoin" not in plan
    # the corpus is never shuffled BY KEY — only the round-robin spread
    assert "hashpartitioning" not in plan.lower()


def test_spread_for_compute_noop_at_scale(spark):
    """spread_for_compute must add NO exchange when the input already
    has >= defaultParallelism partitions — the 100 TB case; the
    round-robin spread exists only to unblock single-split local
    scans feeding per-row-heavy compute."""
    from dbt_customer360_spark.session import spread_for_compute

    par = spark.sparkContext.defaultParallelism
    df = spark.range(0, 10000, 1, par * 2).select(F.col("id"))
    out = spread_for_compute(df)
    assert out is df  # identical plan object: no repartition inserted
    small = spark.range(0, 100, 1, 1).select(F.col("id"))
    spread = spread_for_compute(small)
    assert spread.rdd.getNumPartitions() >= par


@pytest.mark.parametrize(
    "op", ["merge_lsn", "merge_lsn_observed", "merge_delete", "merge_additive"]
)
def test_merge_is_single_shuffle(spark, tmp_path, monkeypatch, op):
    """One-shuffle merge on the murmur3 layout, for every copy-on-write
    merge: the merge plan contains exactly ONE Exchange (the pre-reduce
    repartition on the merge keys); the reduce's groupBy reuses it and
    the bucketed write is pre-partitioned, so neither adds a shuffle.
    Observed batch stats (``merge_lsn(observe=...)``) add none either."""
    from dbt_customer360_spark.lake.table import LakeTable

    t = LakeTable(spark, str(tmp_path / "t"), buckets=4)
    keys = ["repo"] if op == "merge_additive" else ["repo", "path"]
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "concat('r', id % 7) as repo",
        "cast(id as string) as path",
        "id as __max_lsn",
        "id % 5 = 0 as __deleted",
    )
    observed = []
    if op == "merge_lsn":
        write = lambda df, bid: t.merge_lsn(df, keys, batch_id=bid)
    elif op == "merge_lsn_observed":
        count = lambda is_batch: [F.count_if(is_batch).alias("n")]
        write = lambda df, bid: t.merge_lsn(
            df, keys, batch_id=bid, observe=(count, observed.append)
        )
    elif op == "merge_delete":
        write = lambda df, bid: t.merge(df, keys, batch_id=bid, delete_col="__deleted")
    else:
        # repeated repos fold inside the reduce: no aggregation upstream
        write = lambda df, bid: t.merge_additive(
            df.selectExpr("repo", "__max_lsn as s", "1 as n"),
            keys,
            liveness_col="n",
            batch_id=bid,
        )
    write(mk(0, 200), "b0")

    captured = {}
    orig = LakeTable._write_bucket_files

    def spy(self, df, keys, manifest=None, pre_partitioned=False):
        captured["df"], captured["pp"] = df, pre_partitioned
        return orig(self, df, keys, manifest, pre_partitioned)

    monkeypatch.setattr(LakeTable, "_write_bucket_files", spy)
    write(mk(100, 300), "b1")
    assert captured["pp"] is True
    plan = captured["df"]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    if op == "merge_lsn_observed":
        # above the exchange: in the write stage, not a map stage
        assert 0 <= plan.find("CollectMetrics") < plan.index("Exchange"), plan
        assert observed == [{"n": 200}, {"n": 200}]
