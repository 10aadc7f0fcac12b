"""Sampling + sketch operators (operators/sketches.py): determinism,
CMS one-sided-error property, and the plan shapes that make them
100 TB-safe (zero-exchange split projection, broadcast sketch probe)."""

import pytest
from pyspark.sql import functions as F

from dbt_customer360_spark.operators import sketches

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_hash_split_deterministic_and_total(spark):
    docs = _docs(spark).select("doc_id")
    a = {r["doc_id"]: r["split"] for r in sketches.hash_split(docs, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in sketches.hash_split(docs, "doc_id").collect()}
    assert a == b
    assert set(a.values()) <= {"train", "val", "test"}
    # 98/1/1: train dominates even at 50 docs
    n = len(a)
    assert sum(v == "train" for v in a.values()) > 0.8 * n


def test_hash_split_membership_independent_of_other_rows(spark):
    """Adding/removing other documents never moves a row between
    splits — membership is a pure function of the id."""
    docs = _docs(spark).select("doc_id")
    full = {r["doc_id"]: r["split"] for r in sketches.hash_split(docs, "doc_id").collect()}
    half = {
        r["doc_id"]: r["split"]
        for r in sketches.hash_split(
            docs.filter(F.col("doc_id") % 2 == 0), "doc_id"
        ).collect()
    }
    for k, v in half.items():
        assert full[k] == v


def test_hash_split_plan_has_no_exchange(spark):
    plan = _plan(sketches.hash_split(_docs(spark).select("doc_id"), "doc_id"))
    assert "Exchange" not in plan


def test_hash_split_rejects_bad_weights(spark):
    docs = _docs(spark).select("doc_id")
    with pytest.raises(ValueError):
        sketches.hash_split(docs, "doc_id", splits=[("a", 60), ("b", 60)])
    with pytest.raises(ValueError):
        sketches.hash_split(docs, "doc_id", splits=[("a", 0)])


def test_distinct_sketch_estimate_scales_sample(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = sketches.distinct_sketch(ev, "user_id", ["event_type"], sample_mod=4)
    for r in out.collect():
        assert r["n_est"] % 4 == 0
        assert r["n_exact"] > 0
    # mod=1 samples everything: estimate must equal the exact count
    exact = sketches.distinct_sketch(ev, "user_id", ["event_type"], sample_mod=1)
    for r in exact.collect():
        assert r["n_est"] == r["n_exact"]


def test_cms_estimate_never_underestimates(spark):
    toks = sketches.tokens(_docs(spark))
    for r in sketches.cms_probe(toks, top_k=20).collect():
        assert r["n_cms"] >= r["n_exact"], r


def test_cms_tight_when_width_large(spark):
    """With width >> vocabulary, no bucket collides and the sketch is
    exact for every probe."""
    toks = sketches.tokens(_docs(spark))
    for r in sketches.cms_probe(toks, top_k=10, width=1 << 20).collect():
        assert r["n_cms"] == r["n_exact"], r


def test_cms_sketch_bounded_rows(spark):
    toks = sketches.tokens(_docs(spark))
    sk = sketches.cms_sketch(toks, depth=3, width=64)
    assert sk.count() <= 3 * 64


def test_cms_probe_join_is_broadcast(spark):
    toks = sketches.tokens(_docs(spark))
    plan = _plan(sketches.cms_probe(toks, top_k=20, depth=3, width=1024))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cms_sketch_partial_aggregation(spark):
    """Map-side combine around the sketch exchange — the property that
    bounds each partition's shuffle contribution at depth*width."""
    toks = sketches.tokens(_docs(spark))
    plan = _plan(sketches.cms_sketch(toks))
    assert plan.count("HashAggregate") >= 2


def test_quantile_sketch_rank_accuracy(spark):
    """On 4000 uniform values the 1/4-sample median must land within
    a few percent of the true rank (sampling bound: ±0.2% needs 1M
    rows; at n≈1000 allow ±5% rank error)."""
    df = spark.createDataFrame(
        [(i, i) for i in range(4000)], "id bigint, x bigint"
    )
    got = {
        r.q: r.value
        for r in sketches.quantile_sketch(df, "id", "x", [0.5, 0.9]).collect()
    }
    assert abs(got[0.5] - 2000) < 4000 * 0.05
    assert abs(got[0.9] - 3600) < 4000 * 0.05


def test_quantile_sketch_subset_stability(spark):
    """Membership is a pure function of the id: dropping rows OUTSIDE
    the sample never changes which rows are sampled, so the estimate
    over (sampled ∪ anything) equals the estimate over the full set
    restricted to the same sampled ids."""
    full = spark.createDataFrame([(i, i) for i in range(1000)], "id bigint, x bigint")
    sampled_ids = {
        r.id
        for r in full.filter(
            sketches.uint60(F.concat(F.lit("qs42:"), F.col("id").cast("string")))
            % 4 == 0
        ).collect()
    }
    sub = full.filter(F.col("id").isin(list(sampled_ids) + [1, 2, 3]))
    a = sorted(
        (r.q, r.value)
        for r in sketches.quantile_sketch(full, "id", "x", [0.5], sample_mod=4).collect()
    )
    b = sorted(
        (r.q, r.value)
        for r in sketches.quantile_sketch(sub, "id", "x", [0.5], sample_mod=4).collect()
    )
    assert a == b


def test_quantile_sketch_filter_before_exchange(spark):
    """The 1/mod prune must sit under the window exchange — the corpus
    never shuffles, only the sample does."""
    df = spark.createDataFrame([(i, i) for i in range(100)], "id bigint, x bigint")
    plan = _plan(sketches.quantile_sketch(df, "id", "x", [0.5]))
    # exactly one exchange (the sample's window); the filter is below it
    assert plan.count("Exchange") == 1


def test_cap_per_group_bound_and_determinism(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(100)] + [("b", i) for i in range(3)],
        "grp string, id bigint",
    )
    out = sketches.cap_per_group(df, ["grp"], "id", 10)
    counts = {r.grp: r.n for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 10, "b": 3}  # small groups pass through whole
    # re-run determinism
    a = sorted((r.grp, r.id) for r in out.collect())
    b = sorted((r.grp, r.id) for r in sketches.cap_per_group(df, ["grp"], "id", 10).collect())
    assert a == b
    # survivors are hash-chosen, not the first k ids
    assert {r.id for r in out.collect() if r.grp == "a"} != set(range(10))


def test_cap_per_group_subset_stable(spark):
    """Removing non-survivors never changes the survivor set only if
    hash ORDER is preserved among remaining rows — the cap re-ranks, so
    survivors of the subset are a superset-of-rank property: the
    original survivors all still survive when only losers are removed."""
    df = spark.createDataFrame([("a", i) for i in range(50)], "grp string, id bigint")
    winners = {r.id for r in sketches.cap_per_group(df, ["grp"], "id", 5).collect()}
    sub = df.filter(F.col("id").isin(list(winners) + [7, 13]))
    again = {r.id for r in sketches.cap_per_group(sub, ["grp"], "id", 5).collect()}
    assert again == winners  # hash order is global: winners stay winners


def test_sample_exact_k_plan_is_take_ordered(spark):
    df = spark.createDataFrame([(i,) for i in range(10000)], "id bigint")
    out = sketches.sample_exact_k(df, "id", 25)
    assert out.count() == 25
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # never a global sort
