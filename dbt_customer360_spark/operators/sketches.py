"""Deterministic sampling + sketch operators for corpus-scale stats.

A 100 TB training-data pipeline needs cheap, mergeable summaries far
more often than exact global answers: a deterministic train/val/test
split that never moves a document between runs, a distinct-count
estimate that doesn't shuffle every key, and a heavy-hitter frequency
sketch whose size is O(d*w) no matter how big the corpus is.  All
three are classic published techniques (hash partitioning splits;
theta/KMV-style uniform hash sampling, Flajolet et al.; count-min
sketch, Cormode & Muthukrishnan 2005) expressed as pure DataFrame
plans.

Every operator here hashes with an md5-derived 60-bit family: ``uint60(x) =
int(md5(x)[:15 hex], 16)`` is bit-reproducible in DuckDB as
``('0x' || substr(md5(x), 1, 15))::ubigint`` — 15 hex digits = 60
bits, always positive in a signed 64-bit long — so each operator has a
bit-exact DuckDB twin instead of a rows-only check.

Scale notes per operator are in the docstrings; the common theme is
that nothing here ever shuffles the corpus itself:

- :func:`hash_split` is a pure projection (zero exchanges);
- :func:`distinct_sketch` shuffles only the 1/``sample_mod`` hash
  sample (partial ``count(distinct)`` is map-side combined);
- :func:`cms_sketch` group-by output is bounded at ``depth * width``
  rows with map-side partial aggregation, and the probe join
  broadcasts the (tiny) sketch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def uint60(col: Column) -> Column:
    """md5-derived 60-bit uniform hash, bit-identical across engines.

    DuckDB twin: ``('0x' || substr(md5(x), 1, 15))::ubigint``.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _tag(prefix: str, col: Column) -> Column:
    return F.concat(F.lit(prefix), col.cast("string"))


# ---------------------------------------------------------------------------
# deterministic train/val/test split
# ---------------------------------------------------------------------------

def hash_split(
    df: DataFrame,
    id_col: str,
    splits: list[tuple[str, int]] = (("train", 98), ("val", 1), ("test", 1)),
    seed: str = "split42",
) -> DataFrame:
    """Assign every row to a named split by hashing its id — the
    standard deterministic train/val/test partitioner for corpus work.

    ``splits`` is a list of (name, weight) with integer weights summing
    to <= 100; row goes to the first split whose cumulative weight
    exceeds ``uint60(seed || ':' || id) % 100``.  Properties that
    matter at 100 TB: membership is a pure function of the id (adding
    or removing other documents never moves a row between splits — no
    leakage between training runs), and the plan is a single projection
    with ZERO exchanges: it fuses into whatever scan feeds it.

    Reference parity note: the reference has no sampling surface; this
    is part of the training-data-pipeline extension mandated by the
    build brief.
    """
    weights = [w for _, w in splits]
    if sum(weights) > 100 or any(w <= 0 for w in weights):
        raise ValueError(f"split weights must be positive and sum to <= 100: {splits}")
    bucket = uint60(_tag(f"{seed}:", F.col(id_col))) % 100
    expr = F.lit(None).cast("string")
    acc = 0
    # build the CASE chain back-to-front so the first matching range wins
    cum = []
    for name, w in splits:
        acc += w
        cum.append((name, acc))
    for name, hi in reversed(cum):
        expr = F.when(bucket < hi, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


# ---------------------------------------------------------------------------
# distinct-count sketch via uniform hash sampling (theta-style)
# ---------------------------------------------------------------------------

def distinct_sketch(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    sample_mod: int = 8,
    seed: str = "ds42",
) -> DataFrame:
    """Per-group distinct-count estimate from a uniform hash sample.

    Theta-sketch idea in its simplest form: hash every key with a
    uniform 60-bit hash, keep only keys whose hash is ``0 (mod
    sample_mod)`` — a deterministic 1/``sample_mod`` sample of the
    *distinct key space* (every occurrence of a key samples the same
    way) — and scale the sampled distinct count back up.  The output
    carries both ``n_est`` and the exact ``n_exact`` so accuracy is
    auditable.

    Scale: the estimate's ``count(distinct)`` shuffles only the sampled
    1/``sample_mod`` of the distinct keys (the filter is inside the
    partial aggregate), so at 100 TB you size ``sample_mod`` to make
    the shuffle O(distinct_keys / mod) — 2^20 for a trillion-key feed.
    The exact column is included here for attestation; a production
    call drops it and the plan never materializes the full key set.
    """
    h = uint60(_tag(f"{seed}:", F.col(key_col)))
    sampled = F.when(h % sample_mod == 0, h)
    return df.groupBy(*group_cols).agg(
        (F.count_distinct(sampled) * sample_mod).alias("n_est"),
        F.count_distinct(F.col(key_col)).alias("n_exact"),
    )


def distinct_sketch_sql(
    table: str,
    key_col: str,
    group_cols: list[str],
    sample_mod: int = 8,
    seed: str = "ds42",
) -> str:
    """DuckDB twin of :func:`distinct_sketch` (bit-exact)."""
    h = (
        f"('0x' || substr(md5('{seed}:' || cast({key_col} as varchar)), 1, 15))"
        "::ubigint"
    )
    g = ", ".join(group_cols)
    return f"""
        select {g},
               cast(count(distinct case when {h} % {sample_mod} = 0
                                        then {h} end) * {sample_mod} as bigint)
                 as n_est,
               cast(count(distinct {key_col}) as bigint) as n_exact
        from {table} group by {g}
    """


# ---------------------------------------------------------------------------
# count-min sketch over a token stream
# ---------------------------------------------------------------------------

def tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token multiset of a corpus — same strip-then-lower convention as
    the BM25 tokenizer (textstats._shingles):
    non-alnum → space BEFORE lower() (the Kelvin-sign 'K' lowercases
    INTO ascii 'k', so the order is observable), split on whitespace,
    drop empties."""
    ws = F.split(
        F.lower(F.regexp_replace(F.col(text_col), "[^a-z0-9A-Z ]", " ")), r"\s+"
    )
    return docs.select(
        F.explode(F.filter(ws, lambda x: x != F.lit(""))).alias("token")
    )


def cms_sketch(
    toks: DataFrame,
    depth: int = 3,
    width: int = 1024,
    seed: str = "cms",
) -> DataFrame:
    """Count-min sketch of a token stream (Cormode & Muthukrishnan).

    Each occurrence increments one bucket per hash row:
    ``bucket_i(t) = uint60('{seed}{i}:' || t) % width``.  Returns the
    sketch as (row_id, bucket, cnt).

    Scale: the group-by output is bounded at ``depth * width`` rows NO
    MATTER how large the corpus is, and Spark's partial (map-side)
    aggregation means each input partition contributes at most
    ``depth * width`` pre-aggregated rows to the shuffle — the sketch
    is the textbook mergeable summary.  ``explode(array(0..d-1))``
    multiplies rows BEFORE the partial agg, inside the same stage as
    the scan (no exchange between tokenize and count).
    """
    rows = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row_id")
    occ = toks.select(F.col("token"), rows)
    bucket = (
        uint60(
            F.concat(
                F.lit(seed),
                F.col("row_id").cast("string"),
                F.lit(":"),
                F.col("token"),
            )
        )
        % width
    ).alias("bucket")
    return occ.select("row_id", bucket).groupBy("row_id", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_probe(
    toks: DataFrame,
    top_k: int = 20,
    depth: int = 3,
    width: int = 1024,
    seed: str = "cms",
) -> DataFrame:
    """Estimate frequencies of the corpus's top-``top_k`` tokens from
    the count-min sketch and return (token, n_exact, n_cms) — the
    heavy-hitter report a pipeline uses to spot boilerplate/template
    contamination without a full-vocabulary shuffle.

    ``n_cms = min_i sketch[i][bucket_i(token)] >= n_exact`` always (CMS
    one-sided error); equality when none of the token's buckets
    collide.  The probe side is tiny (top_k rows × depth) and the
    sketch side is <= depth*width rows, so the join is broadcast —
    pinned in tests/test_sketches.py.  Exact counts appear here only to
    pick and audit the probes; a production heavy-hitter scan probes a
    candidate list instead.
    """
    sketch = cms_sketch(toks, depth=depth, width=width, seed=seed)
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_exact"))
    top = exact.orderBy(F.col("n_exact").desc(), F.col("token")).limit(top_k)
    probes = top.select(
        "token",
        "n_exact",
        F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row_id"),
    ).withColumn(
        "bucket",
        uint60(
            F.concat(
                F.lit(seed),
                F.col("row_id").cast("string"),
                F.lit(":"),
                F.col("token"),
            )
        )
        % width,
    )
    est = probes.join(F.broadcast(sketch), ["row_id", "bucket"], "inner")
    return est.groupBy("token").agg(
        F.max("n_exact").alias("n_exact"), F.min("cnt").alias("n_cms")
    )


# ---------------------------------------------------------------------------
# quantile sketch via uniform hash sampling
# ---------------------------------------------------------------------------

def quantile_sketch(
    df: DataFrame,
    id_col: str,
    value_col: str,
    qs: list[float],
    sample_mod: int = 8,
    seed: str = "qs42",
) -> DataFrame:
    """Whole-corpus quantile estimates from a deterministic uniform
    hash sample — the scale path the exact per-group
    ``profile.exact_quantiles`` defers to for global distributions.

    Rows whose ``uint60(seed || ':' || id) % sample_mod == 0`` form a
    1/``sample_mod`` uniform sample (membership a pure function of the
    id — re-run-stable, partition-independent, the same family as
    :func:`hash_split`); the PERCENTILE_DISC(q) of the sample is the
    estimate. Standard sampling theory: the sample q-quantile deviates
    by more than ε in rank with probability 2·exp(−2·n·ε²) — a 1M-row
    sample pins every quantile to ±0.2 % rank at 99.99 % confidence,
    regardless of corpus size.

    Scale: the filter prunes to 1/``sample_mod`` BEFORE any exchange;
    the sample is then sorted in ONE task (empty window partition —
    deliberate: size ``sample_mod`` so the sample fits, e.g. 2^14 for
    a 10^10-row feed). Deterministic hashing makes the estimate
    bit-reproducible, so the oracle replays it exactly rather than
    asserting tolerances.
    """
    keep = uint60(_tag(f"{seed}:", F.col(id_col))) % sample_mod == 0
    sample = df.filter(keep).filter(F.col(value_col).isNotNull())
    from dbt_customer360_spark.operators.profile import exact_quantiles

    out = exact_quantiles(
        sample.withColumn("__g", F.lit(1)), value_col, ["__g"], qs
    )
    return out.drop("__g")


def quantile_sketch_sql(
    table: str,
    id_col: str,
    value_col: str,
    qs: list[float],
    sample_mod: int = 8,
    seed: str = "qs42",
) -> str:
    """DuckDB twin rendered from the same constants (native
    quantile_disc == the rank-rule the Spark side implements)."""
    keep = (
        f"('0x' || substr(md5('{seed}:' || cast({id_col} as varchar)), 1, 15))"
        f"::ubigint % {sample_mod} = 0"
    )
    sels = "\n    union all\n    ".join(
        f"select cast({q} as double) as q, quantile_disc({value_col}, {q}) as value "
        f"from sample"
        for q in qs
    )
    return (
        f"with sample as (select {value_col} from {table} "
        f"where {keep} and {value_col} is not null)\n    {sels}"
    )


# ---------------------------------------------------------------------------
# deterministic corpus caps / exact-k samples
# ---------------------------------------------------------------------------

def cap_per_group(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    k: int,
    seed: str = "cap42",
) -> DataFrame:
    """Keep at most ``k`` rows per group, chosen by hash order — the
    per-domain document cap every web-corpus recipe applies (CCNet /
    RefinedWeb bound docs-per-domain so hot hosts can't dominate the
    training mix). Hash order makes the survivors (a) deterministic
    and re-run-stable, (b) an unbiased uniform choice within the
    group, and (c) independent of ingestion order — unlike "first k
    seen", which biases toward crawl order.

    One shuffle (the per-group rank window). Skew note: a pathological
    group sorts in one task; at 100 TB pre-cap obvious whales with a
    coarse filter, or raise the window's task memory — the output side
    is bounded at k·|groups| regardless.
    """
    h = uint60(_tag(f"{seed}:", F.col(id_col)))
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def sample_exact_k(
    df: DataFrame,
    id_col: str,
    k: int,
    seed: str = "sk42",
) -> DataFrame:
    """EXACTLY ``k`` rows sampled uniformly (reservoir-sample
    semantics, deterministic): global ascending order by the id's
    uniform hash, take the first ``k``. Spark plans order-by-limit as
    TakeOrderedAndProject — each partition keeps its local top-k and
    only k rows per partition reach the driver-side merge, so the
    corpus never globally sorts and never shuffles. Deterministic
    ties-free order (the hash is injective on distinct ids up to
    2^-60 collisions; id breaks the remaining ties).
    """
    h = uint60(_tag(f"{seed}:", F.col(id_col)))
    return (
        df.withColumn("__h", h)
        .orderBy(F.col("__h").asc(), F.col(id_col).asc())
        .limit(k)
        .drop("__h")
    )
