"""Driver-contract query roster.

One named query per implemented operator family from SURVEY.md §2,
each with a DuckDB oracle in ``ORACLES`` (same column names/aliases on
both sides — the driver hashes values after sorting columns by name).

Determinism rules used throughout (SURVEY.md §7.3):
- money/metric sums go through DECIMAL so partial-aggregation order
  cannot change the result; final cast to double on BOTH sides;
- every window order has a deterministic final tie-break key;
- string-agg results are sorted; collect_set is array_sort'ed;
- normalizer oracles are *generated from the same word lists* as the
  Spark expressions (functions/normalize.py ``*_sql`` twins), so the
  two sides cannot drift.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbt_customer360_spark.functions import fast as NF, normalize as N
from dbt_customer360_spark.operators import golden, match
from dbt_customer360_spark.operators.components import connected_components
from dbt_customer360_spark.session import spread_for_compute

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tc(spark: SparkSession, sf_dir: str, name: str, cols: list[str]) -> DataFrame:
    """Scan for per-row-heavy compute: project to the needed columns,
    then spread a small (single-split) scan across cores — see
    session.spread_for_compute; a no-op at real scale."""
    return spread_for_compute(_t(spark, sf_dir, name).select(*cols))


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


DEC = "decimal(22,6)"


def _q6(col):
    """Engine-stable 6-dp quantizer: floor(x*1e6 + 0.5)/1e6 is the SAME
    IEEE op sequence on Spark and DuckDB, unlike round(x, 6) (Spark =
    BigDecimal HALF_UP on the double's exact binary expansion, DuckDB =
    multiply-then-rint) which disagree by 1 ulp on half-way doubles."""
    return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

# =============================================================================
# Relational core (SURVEY.md §2.2-2.8)
# =============================================================================


@query(
    "pricing_summary",
    """
    select l_returnflag, l_linestatus,
           cast(sum(cast(l_quantity as decimal(22,6))) as double) as sum_qty,
           cast(sum(cast(l_extendedprice as decimal(22,6))) as double) as sum_base_price,
           -- narrow operand types: a (22,6)x(22,6) product needs precision
           -- 45 > 38, where Spark truncates scale and DuckDB degrades to
           -- double — (15,2)x(6,2) stays EXACT decimal on both engines
           cast(sum(cast(l_extendedprice as decimal(15,2)) * (1 - cast(l_discount as decimal(5,2)))) as double) as sum_disc_price,
           cast(sum(cast(l_discount as decimal(22,6))) as double) / count(*) as avg_disc,
           count(*) as count_order
    from lineitem
    group by l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark, sf):
    """A1/A3/A4: hash group-by with coalesced metric sums (customer.sql:34-51)."""
    li = _tc(
        spark, sf, "lineitem",
        ["l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount"],
    )
    qty = F.col("l_quantity").cast(DEC)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("double").alias("sum_qty"),
        F.sum(price).cast("double").alias("sum_base_price"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(15,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(5,2)"))
        )
        .cast("double")
        .alias("sum_disc_price"),
        (F.sum(disc).cast("double") / F.count("*")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "broadcast_dim_join",
    """
    select r.r_name as region_name, n.n_name as nation_name,
           count(*) as n_customers,
           cast(sum(cast(c_acctbal as decimal(22,6))) as double) as total_acctbal
    from customer c
    join nation n on c.c_nationkey = n.n_nationkey
    join region r on n.n_regionkey = r.r_regionkey
    group by 1, 2
    """,
)
def broadcast_dim_join(spark, sf):
    """J1/J11: equi-joins to small dims — explicitly broadcast."""
    c = _t(spark, sf, "customer")
    n = F.broadcast(_t(spark, sf, "nation"))
    r = F.broadcast(_t(spark, sf, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("total_acctbal"),
        )
    )


@query(
    "theta_or_dim_join",
    """
    select n.n_name as nation_name, r.r_name as region_name
    from nation n
    left join region r
      on n.n_regionkey = r.r_regionkey or substr(n.n_name, 1, 1) = substr(r.r_name, 1, 1)
    order by nation_name, region_name
    """,
)
def theta_or_dim_join(spark, sf):
    """J2: OR-disjunct theta-join to a tiny broadcast dim
    (int_customer360__stripe.sql:138-145 state-code-or-long-name join)."""
    n = _t(spark, sf, "nation")
    r = F.broadcast(_t(spark, sf, "region"))
    cond = (n.n_regionkey == r.r_regionkey) | (
        F.substring(n.n_name, 1, 1) == F.substring(r.r_name, 1, 1)
    )
    return (
        n.join(r, cond, "left")
        .select(F.col("n_name").alias("nation_name"), F.col("r_name").alias("region_name"))
        .orderBy("nation_name", "region_name")
    )


@query(
    "window_best_order",
    """
    select * from (
      select o_custkey, o_orderkey, o_totalprice,
             row_number() over (partition by o_custkey
                                order by o_totalprice desc, o_orderkey asc) as idx
      from orders) where idx = 1
    """,
)
def window_best_order(spark, sf):
    """W4/P8/O3: best value per entity = row_number()=1 (summary.sql:53-100)."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("idx", F.row_number().over(w))
        .filter(F.col("idx") == 1)
    )


@query(
    "union_dedup",
    """
    select o_custkey, count(*) as n_orders
    from (
      select o_orderkey, o_custkey from orders where o_orderpriority like '1%'
      union all
      select o_orderkey, o_custkey from orders where o_totalprice > 100
    )
    group by o_orderkey, o_custkey
    -- dedup-after-fanout: group by all columns (A1), then roll up
    """,
)
def union_dedup(spark, sf):
    """U1 + A1: schema-aligned union all, then GROUP BY all columns to
    dedup the fanout (int_customer360__stripe.sql:469 idiom)."""
    o = _t(spark, sf, "orders")
    a = o.filter(F.col("o_orderpriority").like("1%")).select("o_orderkey", "o_custkey")
    b = o.filter(F.col("o_totalprice") > 100).select("o_orderkey", "o_custkey")
    return (
        a.unionByName(b)
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.count("*").alias("n_dups"))
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )


# fix oracle for union_dedup (needs the same two-level rollup)
ORACLES["union_dedup"] = """
    select o_custkey, count(*) as n_orders
    from (
      select o_orderkey, o_custkey, count(*) as n_dups
      from (
        select o_orderkey, o_custkey from orders where o_orderpriority like '1%'
        union all
        select o_orderkey, o_custkey from orders where o_totalprice > 100
      )
      group by o_orderkey, o_custkey
    )
    group by o_custkey
"""


@query(
    "count_distinct_having",
    """
    select event_type, count(distinct user_id) as n_users, count(*) as n_events
    from events
    group by event_type
    having count(distinct user_id) >= 5
    """,
)
def count_distinct_having(spark, sf):
    """A7/A8 (analyses_old/elan/email_campaign_list_360.sql:31,38)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"), F.count("*").alias("n_events"))
        .filter(F.col("n_users") >= 5)
    )


@query(
    "weighted_avg_discount",
    """
    select l_returnflag,
           case when sum(cast(l_quantity as decimal(22,6))) <> 0
                then cast(sum(cast(l_discount as decimal(22,6)) * cast(l_quantity as decimal(22,6))) as double)
                     / cast(sum(cast(l_quantity as decimal(22,6))) as double) end as weighted_avg_disc
    from lineitem group by l_returnflag
    """,
)
def weighted_avg_discount(spark, sf):
    """A4: safe_divide(sum(avg*count), sum(count)) (customer.sql:92-96)."""
    li = _t(spark, sf, "lineitem")
    disc = F.col("l_discount").cast(DEC)
    qty = F.col("l_quantity").cast(DEC)
    # exact decimal sums, single double division at the end — the only
    # inexact step is one IEEE op, identical on any engine
    return li.groupBy("l_returnflag").agg(
        F.when(
            F.sum(qty) != 0,
            F.sum(disc * qty).cast("double") / F.sum(qty).cast("double"),
        ).alias("weighted_avg_disc")
    )


@query(
    "string_agg_nations",
    """
    select r.r_name as region_name,
           string_agg(distinct n.n_name, ',' order by n.n_name) as nations
    from nation n join region r on n.n_regionkey = r.r_regionkey
    group by r.r_name
    """,
)
def string_agg_nations(spark, sf):
    """A6: deterministic string_agg(distinct) via sorted collect_set
    (mapping.sql:169-179; order made explicit, SURVEY.md §2.4 A6)."""
    n = _t(spark, sf, "nation")
    r = F.broadcast(_t(spark, sf, "region"))
    return (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(F.array_join(F.array_sort(F.collect_set("n_name")), ",").alias("nations"))
    )


@query(
    "levenshtein_pairs",
    """
    select a.n_name as name_a, b.n_name as name_b,
           1.0 - levenshtein(lower(a.n_name), lower(b.n_name))
               / greatest(length(a.n_name), length(b.n_name)) as similarity
    from nation a join nation b on a.n_nationkey < b.n_nationkey
    where 1.0 - levenshtein(lower(a.n_name), lower(b.n_name))
               / greatest(length(a.n_name), length(b.n_name)) >= 0.3
    """,
)
def levenshtein_pairs(spark, sf):
    """F11/J8: levenshtein similarity post-join filter
    (macros/levenshtein_distance.sql:27-30; threshold idiom of
    source_matches.sql:151)."""
    n = _t(spark, sf, "nation")
    a = n.select(F.col("n_nationkey").alias("ka"), F.col("n_name").alias("name_a"))
    b = n.select(F.col("n_nationkey").alias("kb"), F.col("n_name").alias("name_b"))
    sim = F.lit(1.0) - F.levenshtein(F.lower("name_a"), F.lower("name_b")) / F.greatest(
        F.length("name_a"), F.length("name_b")
    )
    return (
        a.join(b, F.col("ka") < F.col("kb"))
        .select("name_a", "name_b", sim.alias("similarity"))
        .filter(F.col("similarity") >= 0.3)
    )


@query(
    "surrogate_mapping",
    f"""
    select {N.surrogate_key_sql('c_custkey', 'c_nationkey')} as customer360_id,
           c_custkey,
           coalesce(cast(c_nationkey as varchar), 'null_customer') as nation_sentinel,
           '{{' || '"customer":"' || coalesce(cast(c_custkey as varchar), '') || '"' || '}}'
             as source_ids
    from customer
    """,
)
def surrogate_mapping(spark, sf):
    """F12/P5 + mapping-table idioms: md5 surrogate key with dbt's null
    sentinel (mapping.sql:107,205), null-sentinel encode (prep models),
    string-built JSON source_ids (mapping.sql:122-126)."""
    c = _t(spark, sf, "customer")
    return c.select(
        N.surrogate_key("c_custkey", "c_nationkey").alias("customer360_id"),
        "c_custkey",
        N.null_sentinel(F.col("c_nationkey").cast("string"), "customer").alias(
            "nation_sentinel"
        ),
        F.concat(
            F.lit('{"customer":"'),
            F.coalesce(F.col("c_custkey").cast("string"), F.lit("")),
            F.lit('"}'),
        ).alias("source_ids"),
    )


@query(
    "monthly_metrics",
    """
    select cast(date_trunc('month', o_orderdate) as timestamp) as order_month,
           count(*) as n_orders,
           count(distinct o_custkey) as n_customers,
           cast(sum(cast(o_totalprice as decimal(22,6))) as double) as revenue
    from orders group by 1
    """,
)
def monthly_metrics(spark, sf):
    """F14: date_trunc month rollup (analyses_old monthly_metrics)."""
    o = _t(spark, sf, "orders")
    return o.groupBy(F.date_trunc("month", "o_orderdate").alias("order_month")).agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"),
    )


@query(
    "topk_per_group",
    """
    select * from (
      select p_brand, p_partkey, p_retailprice,
             dense_rank() over (partition by p_brand
                                order by p_retailprice desc, p_partkey asc) as rk
      from part) where rk <= 3
    """,
)
def topk_per_group(spark, sf):
    """O3/W3: top-k per group via dense_rank + filter."""
    p = _t(spark, sf, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        p.select("p_brand", "p_partkey", "p_retailprice")
        .withColumn("rk", F.dense_rank().over(w))
        .filter(F.col("rk") <= 3)
    )


@query(
    "clean_normalize",
    """
    select doc_id,
           case when trim(source) = '' then null else trim(source) end as source_clean,
           lower(lang) as lang_norm,
           length(text) as n_chars
    from documents
    """,
)
def clean_normalize(spark, sf):
    """P2/F1/F8: empty->NULL, trim, case-normalize (stripe.sql:481-533)."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        N.empty_to_null(F.trim(F.col("source"))).alias("source_clean"),
        F.lower("lang").alias("lang_norm"),
        F.length("text").alias("n_chars"),
    )


@query(
    "split_regex_parse",
    """
    select event_id,
           regexp_extract(props, '"k": ([0-9]+)', 1) as k_value,
           split_part(event_type, 'i', 1) as type_head,
           regexp_replace(event_type, '[aeiou]', '', 'g') as type_consonants
    from events
    """,
)
def split_regex_parse(spark, sf):
    """F3/F5: regexp_replace / regexp_extract / split_part parsing
    (stripe.sql:92-93 phone strip, 158-159 email split)."""
    e = _t(spark, sf, "events")
    return e.select(
        "event_id",
        F.regexp_extract("props", r'"k": ([0-9]+)', 1).alias("k_value"),
        F.split_part(F.col("event_type"), F.lit("i"), F.lit(1)).alias("type_head"),
        F.regexp_replace("event_type", "[aeiou]", "").alias("type_consonants"),
    )


@query(
    "safe_divide_metrics",
    """
    select o_orderstatus,
           cast(case when count(case when o_totalprice > 200 then 1 end) <> 0
                then count(*) * 1.0 / count(case when o_totalprice > 200 then 1 end)
                end as double) as orders_per_big_order
    from orders group by o_orderstatus
    """,
)
def safe_divide_metrics(spark, sf):
    """F15: safe_divide -> NULL on zero denominator."""
    o = _t(spark, sf, "orders")
    big = F.count(F.when(F.col("o_totalprice") > 200, 1))
    return o.groupBy("o_orderstatus").agg(
        N.safe_divide(F.count("*") * 1.0, big).cast("double").alias("orders_per_big_order")
    )


# =============================================================================
# Identity resolution (SURVEY.md §2.3 J5-J9)
# =============================================================================

_MATCH_ORACLE = """
    with a as (select c_custkey as id_a,
                      cast(c_nationkey as varchar) || '|' || c_mktsegment as k1,
                      cast(floor(c_acctbal / 10) as varchar) as k2
               from customer where c_custkey % 2 = 0),
         b as (select c_custkey as id_b,
                      cast(c_nationkey as varchar) || '|' || c_mktsegment as k1,
                      cast(floor(c_acctbal / 10) as varchar) as k2
               from customer where c_custkey % 2 = 1)
    select a.id_a, b.id_b,
           min(case when a.k1 = b.k1 then 'r1_segment' else 'r2_balance' end) as rule
    from a join b on a.k1 = b.k1 or a.k2 = b.k2
    group by a.id_a, b.id_b
"""


@query("match_candidates", _MATCH_ORACLE)
def match_candidates(spark, sf):
    """J5 (the core operator): OR-of-equalities match join decomposed
    into a union of hash equi-joins + dedup (source_matches.sql:56-117;
    the oracle runs the naive OR join, proving pair-set equivalence)."""
    c = _t(spark, sf, "customer")
    k1 = F.concat_ws("|", F.col("c_nationkey").cast("string"), "c_mktsegment")
    k2 = F.floor(F.col("c_acctbal") / 10).cast("string")
    base = c.select(F.col("c_custkey"), k1.alias("k1"), k2.alias("k2"))
    a = base.filter(F.col("c_custkey") % 2 == 0).withColumnRenamed("c_custkey", "id_a")
    b = base.filter(F.col("c_custkey") % 2 == 1).withColumnRenamed("c_custkey", "id_b")
    rules = [
        match.MatchRule("r1_segment", "k1", "k1"),
        match.MatchRule("r2_balance", "k2", "k2"),
    ]
    return match.candidate_pairs(a, b, "id_a", "id_b", rules, max_key_frequency=100000)


@query(
    "connected_components_chain",
    """
    with edges as (
      select c_custkey as src, c_custkey + 1 as dst
      from customer
      where c_custkey % 10 <> 9 and c_custkey + 1 <= (select max(c_custkey) from customer)
    ), nodes as (
      select src as node from edges union select dst from edges
    )
    select node, cast(floor(node / 10) * 10 as bigint) as component
    from nodes
    """,
)
def connected_components_chain(spark, sf):
    """J9 upgrade: true connected components over chain edges — multi-hop
    transitivity the reference's full-outer merge misses (SURVEY.md §7.3).
    Oracle exploits the chain structure's closed form."""
    c = _t(spark, sf, "customer")
    mx = c.agg(F.max("c_custkey")).collect()[0][0]
    edges = (
        c.filter((F.col("c_custkey") % 10 != 9) & (F.col("c_custkey") + 1 <= mx))
        .select(F.col("c_custkey").alias("src"), (F.col("c_custkey") + 1).alias("dst"))
    )
    return connected_components(edges)


# =============================================================================
# CDC / golden record (SURVEY.md §2.10 + §2.5)
# =============================================================================


@query(
    "lsn_dedup_events",
    """
    select * exclude(rn) from (
      select user_id, event_id, event_type, props,
             row_number() over (partition by user_id
                                order by ts desc, event_id desc) as rn
      from events) where rn = 1
    """,
)
def lsn_dedup_events(spark, sf):
    """Max-LSN last-writer-wins dedup window (north_star; SURVEY.md §2.5
    'max-LSN dedup window'), keyed per user with ts+id ordering."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "props")
    )


# oracle column set must match: recompute using same projection
ORACLES["lsn_dedup_events"] = """
    select user_id, event_id, event_type, props from (
      select user_id, event_id, event_type, props, ts,
             row_number() over (partition by user_id
                                order by ts desc, event_id desc) as rn
      from events) t where rn = 1
"""


@query(
    "cdc_final_state",
    """
    select user_id, content, max_lsn from (
      select user_id,
             event_type || ':' || props as content,
             event_type,
             event_id as max_lsn,
             row_number() over (partition by user_id order by event_id desc) as rn
      from events) t
    where rn = 1 and event_type <> 'error'
    """,
)
def cdc_final_state(spark, sf):
    """End-to-end CDC replay through the REAL applier: events become an
    LSN-ordered change stream ('error' = delete), applied in 4
    micro-batches via LakeTable MERGE with idempotent commits; the
    oracle is the SQL last-writer-wins closed form. Exercises S5/S6,
    the dedup window, MERGE, and lineage in the driver's gate."""
    from dbt_customer360_spark.streaming.apply import CDCApplier, replay_batch

    e = _t(spark, sf, "events")
    stream = e.select(
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.lit("users").alias("repo"),
        F.col("user_id").cast("string").alias("path"),
        F.lit("c0").alias("commit"),
        F.col("event_type").alias("lang"),
        F.concat_ws(":", "event_type", "props").alias("content"),
    )
    root = tempfile.mkdtemp(prefix="cdc_final_state_")
    applier = CDCApplier(spark, f"{root}/repos", buckets=8)
    replay_batch(applier, stream, n_batches=4)
    live = applier.table.read().filter(~F.col("__deleted"))
    return live.select(
        F.col("path").cast("bigint").alias("user_id"),
        "content",
        F.col("__max_lsn").alias("max_lsn"),
    )


@query(
    "golden_event_type",
    """
    select user_id, event_type as golden_event_type from (
      select user_id, event_type,
             row_number() over (
               partition by user_id
               order by value_count desc, value_last_seen desc, event_type asc) as idx
      from (
        select user_id, event_type,
               count(*) over (partition by user_id, event_type) as value_count,
               max(ts) over (partition by user_id, event_type) as value_last_seen,
               row_number() over (partition by user_id, event_type order by event_id) as first_of_value
        from events) where first_of_value = 1
    ) where idx = 1
    """,
)
def golden_event_type(spark, sf):
    """W1-W4/P8: the confidence-ranking idiom (customer360__name.sql:110-139)
    — frequency, then recency, then deterministic tie-break; index=1 is
    the golden value."""
    e = _t(spark, sf, "events")
    ranked = golden.rank_values(
        e.select("user_id", "event_type", "ts", "event_id"),
        "user_id",
        "event_type",
        recency_col=F.col("ts"),
    )
    return (
        ranked.filter(F.col("index") == 1)
        .select("user_id", F.col("event_type").alias("golden_event_type"))
    )


# =============================================================================
# Normalizer parity (SURVEY.md §2.9 M1-M6) — oracles generated from the
# SAME word lists via functions/normalize.py *_sql twins
# =============================================================================

_TITLES_SAMPLE = ["Dr", "Mrs", "The Rt Hon", "Capt", "Prof. Dr"]


def _title_input_sql() -> str:
    arr = ", ".join(f"'{t}'" for t in _TITLES_SAMPLE)
    return (
        f"(case when c_custkey % 3 = 0 then ([{arr}][(c_custkey % 5 + 1)::int]) || ' ' else '' end)"
        " || 'Alice ' || c_name"
    )


def _title_input_spark() -> F.Column:
    arr = F.array(*[F.lit(t) for t in _TITLES_SAMPLE])
    prefix = F.when(
        F.col("c_custkey") % 3 == 0,
        F.concat(F.element_at(arr, (F.col("c_custkey") % 5 + 1).cast("int")), F.lit(" ")),
    ).otherwise(F.lit(""))
    return F.concat(prefix, F.lit("Alice "), F.col("c_name"))


_nt_strip, _nt_tag = N.name_titles_sql("full_name")

_SUFFIX_SAMPLE = ["Jr", "Sr", "iii", "esq", "Junior"]
_ns_strip, _ns_tag = N.name_suffixes_sql("name_no_title")

ORACLES["name_titles_suffixes_strip"] = f"""
    with named as (
      select c_custkey,
             {_title_input_sql()} ||
             (case when c_custkey % 2 = 0
                   then ' ' || (['{"','".join(_SUFFIX_SAMPLE)}'][(c_custkey % 5 + 1)::int])
                   else '' end) as full_name
      from customer),
    titled as materialized (
      select c_custkey, full_name,
             {_nt_strip} as name_no_title,
             {_nt_tag} as name_title
      from named)
    select c_custkey, full_name, name_no_title, name_title,
           {_ns_strip} as name_no_suffix,
           {_ns_tag} as name_suffix
    from titled
"""


@query("name_titles_suffixes_strip")
def name_titles_suffixes_strip(spark, sf):
    """M1+M2 in one projection — strip 113 honorifics then 16
    generational suffixes, the reference's sequenced name-cleaning
    macro family (macros/name_titles.sql:118-133 +
    macros/name_suffixes.sql). One roster slot covers both (the two
    single-macro queries were folded together in round 5 to free cap
    space for J2 and the canonical-dedup composition)."""
    arr = F.array(*[F.lit(x) for x in _SUFFIX_SAMPLE])
    sfx = F.when(
        F.col("c_custkey") % 2 == 0,
        F.concat(F.lit(" "), F.element_at(arr, (F.col("c_custkey") % 5 + 1).cast("int"))),
    ).otherwise(F.lit(""))
    c = spread_for_compute(
        _t(spark, sf, "customer").select(
            "c_custkey", F.concat(_title_input_spark(), sfx).alias("full_name")
        )
    )
    tsplit = NF.name_titles_fast("full_name")
    titled = c.select(
        "c_custkey",
        "full_name",
        tsplit["no_title"].alias("name_no_title"),
        tsplit["title"].alias("name_title"),
    )
    ssplit = NF.name_suffixes_fast("name_no_title")
    return titled.select(
        "c_custkey",
        "full_name",
        "name_no_title",
        "name_title",
        ssplit["no_suffix"].alias("name_no_suffix"),
        ssplit["suffix"].alias("name_suffix"),
    )


_ORG_SAMPLE = ["Inc", "Llc", "Gmbh", "Corp", "Ltd"]
_og_strip, _og_tag = N.org_suffixes_sql("org_name")

ORACLES["org_suffixes_strip"] = f"""
    with named as (
      select s_suppkey,
             s_name || (case when s_suppkey % 4 = 0 then ', ' when s_suppkey % 4 = 1 then ' ' else '' end)
                    || (case when s_suppkey % 4 < 2
                             then (['{"','".join(_ORG_SAMPLE)}'][(s_suppkey % 5 + 1)::int])
                             else '' end) as org_name
      from supplier)
    select s_suppkey, org_name,
           {_og_strip} as org_no_suffix,
           {_og_tag} as org_suffix
    from named
"""


@query("org_suffixes_strip")
def org_suffixes_strip(spark, sf):
    """M3: strip 46 org suffixes in 5 punctuation contexts
    (macros/org_suffixes.sql:52-75)."""
    s = _t(spark, sf, "supplier")
    arr = F.array(*[F.lit(x) for x in _ORG_SAMPLE])
    sep = (
        F.when(F.col("s_suppkey") % 4 == 0, F.lit(", "))
        .when(F.col("s_suppkey") % 4 == 1, F.lit(" "))
        .otherwise(F.lit(""))
    )
    sfx = F.when(
        F.col("s_suppkey") % 4 < 2, F.element_at(arr, (F.col("s_suppkey") % 5 + 1).cast("int"))
    ).otherwise(F.lit(""))
    named = s.select(
        "s_suppkey", F.concat(F.col("s_name"), sep, sfx).alias("org_name")
    )
    split = NF.org_suffixes_fast("org_name")
    return named.select(
        "s_suppkey",
        "org_name",
        split["no_suffix"].alias("org_no_suffix"),
        split["suffix"].alias("org_suffix"),
    )


_STREET_SAMPLE = ["St", "Ave", "Blvd", "Dr", "Ln", "Rd", "Ct", "Pkwy"]

ORACLES["street_suffix_expand"] = f"""
    with addr as (
      select c_custkey,
             cast(c_custkey as varchar) || ' Main ' ||
             (['{"','".join(_STREET_SAMPLE)}'][(c_custkey % 8 + 1)::int]) as address_line_1
      from customer)
    select c_custkey, address_line_1,
           {N.street_suffixes_sql('address_line_1')} as address_line_1_long
    from addr
"""


@query("street_suffix_expand")
def street_suffix_expand(spark, sf):
    """M4: expand street abbreviations using the COLLAPSED 215-entry map
    (macros/street_suffixes.sql quirk, SURVEY.md §2.9 M4)."""
    c = _t(spark, sf, "customer")
    arr = F.array(*[F.lit(x) for x in _STREET_SAMPLE])
    addr = F.concat(
        F.col("c_custkey").cast("string"),
        F.lit(" Main "),
        F.element_at(arr, (F.col("c_custkey") % 8 + 1).cast("int")),
    )
    named = spread_for_compute(c.select("c_custkey", addr.alias("address_line_1")))
    return named.select(
        "c_custkey",
        "address_line_1",
        NF.street_suffixes_fast("address_line_1").alias("address_line_1_long"),
    )


_l1, _l2 = N.split_address_lines_sql("address")

ORACLES["split_address"] = f"""
    with addr as (
      select c_custkey,
             cast(c_custkey as varchar) || ' Oak Ave' ||
             (case when c_custkey % 4 = 0 then ', Apt 5'
                   when c_custkey % 4 = 1 then ' Suite 12'
                   when c_custkey % 4 = 2 then ' FL 3'
                   else '' end) as address
      from customer)
    select c_custkey, address,
           {_l1} as address_line_1,
           {_l2} as address_line_2
    from addr
"""


@query("split_address")
def split_address(spark, sf):
    """M5: split address into line_1/line_2 on commas or 29
    secondary-unit designators (macros/split_address_lines.sql)."""
    c = _t(spark, sf, "customer")
    tail = (
        F.when(F.col("c_custkey") % 4 == 0, F.lit(", Apt 5"))
        .when(F.col("c_custkey") % 4 == 1, F.lit(" Suite 12"))
        .when(F.col("c_custkey") % 4 == 2, F.lit(" FL 3"))
        .otherwise(F.lit(""))
    )
    named = c.select(
        "c_custkey",
        F.concat(F.col("c_custkey").cast("string"), F.lit(" Oak Ave"), tail).alias("address"),
    )
    split = NF.split_address_lines_fast("address")
    return named.select(
        "c_custkey",
        "address",
        split["line_1"].alias("address_line_1"),
        split["line_2"].alias("address_line_2"),
    )


from dbt_customer360_spark.plans import pipeline_oracle as _PO  # noqa: E402


@query("customer360_pipeline", _PO.render())
def customer360_pipeline(spark, sf):
    """End-to-end reference-analog pipeline (cleaning -> union-of-equi-
    join matching -> connected components -> golden records) over the
    deterministic customer-360 fixtures; returns the summary's identity
    + golden-contact projection. The ORACLE is a full DuckDB
    transliteration of the pipeline (plans/pipeline_oracle.py):
    fixtures synthesized in SQL, cleaning via the shared *_sql twins,
    OR-join matching + levenshtein verify, recursive-CTE connected
    components, window-ranked goldens — so the flagship pipeline is
    hash-checked end to end, not rows-only. The sf_dir is unused — the
    fixture generator is the pipeline's own deterministic source."""
    from dbt_customer360_spark import fixtures
    from dbt_customer360_spark.pipeline import Customer360Pipeline

    pipe = Customer360Pipeline(spark)
    out = pipe.run(
        fixtures.marketo_leads(spark),
        fixtures.stripe_customers(spark),
        fixtures.zendesk_users(spark),
        fixtures.zendesk_organizations(spark),
        zendesk_metrics_raw=fixtures.zendesk_ticket_metrics(spark),
    )
    return out["customer360__summary"].select(
        "customer360_id",
        "is_organization_header",
        "email",
        "phone",
        "extension",
        "full_name",
    )


# =============================================================================
# Coverage batch 2: date spine, ip classify, trim, avg-of-avg, header
# union, conditional window partition
# =============================================================================


@query(
    "date_spine_cross_join",
    """
    with spine as (
      select unnest(generate_series(timestamp '1995-01-01',
                                    timestamp '1995-12-01', interval 1 month)) as month
    ), m as (
      select cast(date_trunc('month', o_orderdate) as timestamp) as month,
             count(*) as n_orders
      from orders group by 1
    )
    select r.r_name as region_name, spine.month, coalesce(m.n_orders, 0) as n_orders
    from spine cross join region r
    left join m on m.month = spine.month
    """,
)
def date_spine_cross_join(spark, sf):
    """J15/F14: date spine (sequence+explode) cross-joined to a dim
    (analyses_old/drafts/monthly_metrics_customer360.sql:38)."""
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_timestamp(F.lit("1995-01-01")),
                F.to_timestamp(F.lit("1995-12-01")),
                F.expr("interval 1 month"),
            )
        ).alias("month")
    )
    r = _t(spark, sf, "region")
    m = (
        _t(spark, sf, "orders")
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.count("*").alias("n_orders"))
    )
    return (
        spine.crossJoin(r.select(F.col("r_name").alias("region_name")))
        .join(m, "month", "left")
        .select(
            "region_name", "month", F.coalesce("n_orders", F.lit(0)).alias("n_orders")
        )
    )


@query(
    "ip_classify",
    """
    with ips as (
      select c_custkey,
             case when c_custkey % 4 = 0
                  then 'fe80::' || cast(c_custkey as varchar)
                  else '10.0.' || cast(c_custkey % 256 as varchar) || '.' || cast((c_custkey * 7) % 256 as varchar)
             end as ip_address
      from customer)
    select c_custkey, ip_address,
           case when ip_address like '%:%' then 'ipv6' else 'ipv4' end as ip_type
    from ips
    """,
)
def ip_classify(spark, sf):
    """F7: '%:%' ipv6 test (customer360__ip_address.sql:23-25)."""
    c = _t(spark, sf, "customer")
    ip = F.when(
        F.col("c_custkey") % 4 == 0,
        F.concat(F.lit("fe80::"), F.col("c_custkey").cast("string")),
    ).otherwise(
        F.format_string(
            "10.0.%d.%d", (F.col("c_custkey") % 256).cast("int"), ((F.col("c_custkey") * 7) % 256).cast("int")
        )
    )
    out = c.select("c_custkey", ip.alias("ip_address"))
    return out.withColumn(
        "ip_type", F.when(F.col("ip_address").like("%:%"), "ipv6").otherwise("ipv4")
    )


@query(
    "multi_char_trim",
    """
    select c_custkey,
           trim(' ,' || c_name || ', ,', ' ,') as trimmed,
           ltrim(',,' || c_name, ',') as ltrimmed,
           rtrim(c_name || '  ', ' ') as rtrimmed
    from customer
    """,
)
def multi_char_trim(spark, sf):
    """F8/M6: multi-char trim variants (macros/trim.sql:7-23)."""
    c = _t(spark, sf, "customer")
    padded = F.concat(F.lit(" ,"), F.col("c_name"), F.lit(", ,"))
    return c.select(
        "c_custkey",
        F.expr("trim(BOTH ' ,' FROM concat(' ,', c_name, ', ,'))").alias("trimmed"),
        F.expr("trim(LEADING ',' FROM concat(',,', c_name))").alias("ltrimmed"),
        F.expr("trim(TRAILING ' ' FROM concat(c_name, '  '))").alias("rtrimmed"),
    )


@query(
    "avg_of_avg_rollup",
    """
    with seg as (
      select c_nationkey, c_mktsegment,
             cast(floor((cast(sum(cast(c_acctbal as decimal(22,6))) as double)
                        / count(*)) * 1e6 + 0.5) / 1e6 as decimal(22,6)) as seg_avg
      from customer group by 1, 2
    )
    select c_nationkey,
           cast(sum(seg_avg) as double) / count(*) as avg_of_segment_avgs
    from seg group by c_nationkey
    """,
)
def avg_of_avg_rollup(spark, sf):
    """A5: avg-of-averages org rollup (customer.sql:306-317). Each
    inexact step is one double division on an exact decimal sum,
    re-quantized via _q6 — Spark's decimal/bigint division yields a
    scale-rounded DECIMAL while DuckDB yields a double, so dividing
    inside decimal drifts in the tail bits across engines."""
    c = _t(spark, sf, "customer")
    seg = c.groupBy("c_nationkey", "c_mktsegment").agg(
        _q6(F.sum(F.col("c_acctbal").cast(DEC)).cast("double") / F.count("*"))
        .cast(DEC)
        .alias("seg_avg")
    )
    return seg.groupBy("c_nationkey").agg(
        (F.sum("seg_avg").cast("double") / F.count("*")).alias("avg_of_segment_avgs")
    )


@query(
    "header_union",
    """
    select cast(n_nationkey as varchar) as row_id, n_name as name,
           n_regionkey, false as is_region_header
    from nation
    union all
    select 'hdr_' || cast(r_regionkey as varchar) as row_id, r_name as name,
           r_regionkey as n_regionkey, true as is_region_header
    from region
    """,
)
def header_union(spark, sf):
    """U2: detail rows ∪ synthesized header rows
    (customer360__mapping.sql:147 header-row injection)."""
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    detail = n.select(
        F.col("n_nationkey").cast("string").alias("row_id"),
        F.col("n_name").alias("name"),
        "n_regionkey",
        F.lit(False).alias("is_region_header"),
    )
    headers = r.select(
        F.concat(F.lit("hdr_"), F.col("r_regionkey").cast("string")).alias("row_id"),
        F.col("r_name").alias("name"),
        F.col("r_regionkey").alias("n_regionkey"),
        F.lit(True).alias("is_region_header"),
    )
    return detail.unionByName(headers)


@query(
    "conditional_window_partition",
    """
    select * from (
      select o_orderkey, o_custkey, o_totalprice,
             row_number() over (
               partition by case when o_totalprice > 200 then 'big' else cast(o_custkey as varchar) end
               order by o_totalprice desc, o_orderkey asc) as idx
      from orders) t where idx <= 2
    """,
)
def conditional_window_partition(spark, sf):
    """W5: window partitioned by a CASE expression
    (customer360__address.sql:190-191 org-header conditional key)."""
    o = _t(spark, sf, "orders")
    key = F.when(F.col("o_totalprice") > 200, F.lit("big")).otherwise(
        F.col("o_custkey").cast("string")
    )
    w = Window.partitionBy(key).orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumn("idx", F.row_number().over(w))
        .filter(F.col("idx") <= 2)
    )


_CHANGELOG_ORACLE = """
    with v1 as (
      select o_orderkey, o_orderstatus, o_totalprice
      from orders where o_orderkey % 3 <> 0),
    b as (
      select o_orderkey, o_orderstatus, o_totalprice + 1 as o_totalprice,
             (o_orderkey % 7 = 0) as is_del
      from orders where o_orderkey % 5 = 0)
    select 'delete' as _change_type,
           v1.o_orderkey, v1.o_orderstatus, v1.o_totalprice
    from v1 join b using (o_orderkey) where b.is_del
    union all
    select 'update_preimage', v1.o_orderkey, v1.o_orderstatus, v1.o_totalprice
    from v1 join b using (o_orderkey) where not b.is_del
    union all
    select 'update_postimage', b.o_orderkey, b.o_orderstatus, b.o_totalprice
    from v1 join b using (o_orderkey) where not b.is_del
    union all
    select 'insert', b.o_orderkey, b.o_orderstatus, b.o_totalprice
    from b left join v1 using (o_orderkey)
    where v1.o_orderkey is null and not b.is_del
"""


@query("lake_changelog", _CHANGELOG_ORACLE)
def lake_changelog(spark, sf):
    """Row-level change feed between two table snapshots (CDC *out*;
    LakeTable.changelog — Iceberg/Delta "table changes"): v1 = a
    deterministic orders subset, v2 = a merge carrying updates
    (+1 price for keys %5), deletes (%7 of those) and inserts (keys
    absent from v1). The oracle replays the NET diff in pure SQL —
    insert/update_preimage/update_postimage/delete rows must match
    bit-exactly (price+1 on the same double is the same IEEE add on
    both engines). The engine side diffs only buckets whose file lists
    changed between the manifests."""
    from dbt_customer360_spark.lake.table import LakeTable

    o = _t(spark, sf, "orders")
    v1 = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    batch = o.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") + 1).alias("o_totalprice"),
        (F.col("o_orderkey") % 7 == 0).alias("is_del"),
    )
    t = LakeTable(spark, tempfile.mkdtemp(prefix="changelog_q_"), buckets=8)
    s1 = t.merge(v1, ["o_orderkey"], batch_id="v1")
    s2 = t.merge(batch, ["o_orderkey"], batch_id="v2", delete_col="is_del")
    return t.changelog(s1, s2)


@query(
    "lake_read_where",
    """
    select o_orderkey, o_totalprice, o_orderdate
    from orders
    where o_orderkey % 3 <> 0
      and o_totalprice >= 40000 and o_totalprice <= 90000
      and o_orderdate >= timestamp '1999-06-01'
    """,
)
def lake_read_where(spark, sf):
    """Data-skipping scan (LakeTable.read_where): manifest file stats
    (parquet-footer min/max, recorded commit-time with no Spark job)
    prune file entries a range predicate cannot match; the residual
    filter keeps results exact — so this must hash-match a plain SQL
    range filter. The pruning itself is plan-asserted in
    tests/test_lake.py::test_read_where_data_skipping."""
    from dbt_customer360_spark.lake.table import LakeTable

    o = _t(spark, sf, "orders").filter(F.col("o_orderkey") % 3 != 0)
    t = LakeTable(
        spark,
        tempfile.mkdtemp(prefix="readwhere_q_"),
        buckets=8,
        stats_cols=["o_totalprice", "o_orderdate"],
    )
    t.merge(
        o.select("o_orderkey", "o_totalprice", "o_orderdate"),
        ["o_orderkey"],
        batch_id="v1",
    )
    import datetime as _dt

    return t.read_where(
        {
            "o_totalprice": (40000.0, 90000.0),
            "o_orderdate": (_dt.datetime(1999, 6, 1), None),
        }
    )


_CUSTOMER_ROLLUP_ORACLE = """
    with order_rows as (
      select l_orderkey,
             -- every inexact step is ONE double division on an exact
             -- decimal sum, re-quantized to 6 dp via the engine-stable
             -- floor(x*1e6+0.5)/1e6 (round() half-up boundaries differ
             -- by 1 ulp between Spark and DuckDB; see _q6)
             cast(floor((cast(sum(cast(l_extendedprice as decimal(22,6))) as double)
                        / count(*)) * 1e6 + 0.5) / 1e6 as decimal(22,6)) as avg_price,
             count(*) as n_lines
      from lineitem group by l_orderkey
    ), cust as (
      select o.o_custkey,
             -- DuckDB sum(BIGINT) returns HUGEINT, which pandas coerces
             -- to float64 ("49.0" vs Spark's "49") -- cast every integer
             -- sum back to bigint so both engines land on int64
             cast(sum(r.n_lines) as bigint) as n_lines,
             cast(floor((cast(sum(r.avg_price * r.n_lines) as double)
                        / sum(r.n_lines)) * 1e6 + 0.5) / 1e6 as decimal(22,6)) as w_avg_price
      from order_rows r join orders o on r.l_orderkey = o.o_orderkey
      group by o.o_custkey
    ), detail as (
      select cast(c.c_custkey as varchar) as row_id,
             c.c_nationkey,
             false as is_org_header,
             cast(coalesce(t.n_lines, 0) as bigint) as n_lines,
             cast(t.w_avg_price as double) as w_avg_price
      from customer c left join cust t on c.c_custkey = t.o_custkey
    ), rollup as (
      select 'hdr_' || cast(c.c_nationkey as varchar) as row_id,
             c.c_nationkey,
             true as is_org_header,
             cast(sum(coalesce(t.n_lines, 0)) as bigint) as n_lines,
             floor((cast(sum(t.w_avg_price) as double)
                    / count(t.w_avg_price)) * 1e6 + 0.5) / 1e6 as w_avg_price
      from customer c left join cust t on c.c_custkey = t.o_custkey
      group by c.c_nationkey
    )
    select * from detail union all select * from rollup
"""


@query("customer_metrics_rollup", _CUSTOMER_ROLLUP_ORACLE)
def customer_metrics_rollup(spark, sf):
    """The customer360__customer metric composition on TPC-H shapes:
    per-entity WEIGHTED averages (safe_divide(sum(avg*count),
    sum(count)), customer.sql:92-107), sum(coalesce) KPI rollups, then
    the org-grain rollup (sum-of-sums + avg-of-avgs, customer.sql:
    262-317) unioned under synthesized org header rows (U2 at the
    customer table, :306-335). lineitem rows play the per-user metrics
    table, customers the entities, nations the organizations."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    order_rows = li.groupBy("l_orderkey").agg(
        _q6(F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / F.count("*"))
        .cast(DEC)
        .alias("avg_price"),
        F.count("*").alias("n_lines"),
    )
    # golden.weighted_avg is the same sum(avg*count)/sum(count) shape,
    # spelled out here with the exact-sum -> one-double-division ->
    # re-quantize discipline the cross-engine hash gate demands
    cust = (
        order_rows.join(o, order_rows["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(
            F.sum("n_lines").alias("n_lines"),
            _q6(F.sum(F.col("avg_price") * F.col("n_lines")).cast("double") / F.sum("n_lines"))
            .cast(DEC)
            .alias("w_avg_price"),
        )
    )
    detail = c.join(cust, c["c_custkey"] == cust["o_custkey"], "left").select(
        F.col("c_custkey").cast("string").alias("row_id"),
        "c_nationkey",
        F.lit(False).alias("is_org_header"),
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.col("w_avg_price").cast("double").alias("w_avg_price"),
    )
    rollup = (
        c.join(cust, c["c_custkey"] == cust["o_custkey"], "left")
        .groupBy("c_nationkey")
        .agg(
            F.sum(F.coalesce("n_lines", F.lit(0))).alias("n_lines"),
            _q6(F.sum("w_avg_price").cast("double") / F.count("w_avg_price"))
            .alias("w_avg_price"),
        )
        .select(
            F.concat(F.lit("hdr_"), F.col("c_nationkey").cast("string")).alias("row_id"),
            "c_nationkey",
            F.lit(True).alias("is_org_header"),
            "n_lines",
            "w_avg_price",
        )
    )
    return detail.unionByName(rollup)


from dbt_customer360_spark.functions import udfs as U  # noqa: E402


_UDF_LANGS = ["PY", "python", "golang", "Rust", "C++", "JS", "java", "unknownlang"]

_UDF_ORACLE_TMPL = """
    with raw as (
      select doc_id, text,
             (['PY', 'python', 'golang', 'Rust', 'C++', 'JS', 'java', 'unknownlang'])
               [(doc_id % 8 + 1)::int] as raw_lang
      from documents)
    select doc_id, sha256(text) as content_sha, raw_lang,
           {lang_sql} as lang_norm
    from raw
"""


@query("udf_sha256_lang", _UDF_ORACLE_TMPL.format(lang_sql=U.normalize_lang_sql("raw_lang")))
def udf_sha256_lang(spark, sf):
    """§2.11 U1+U2 in one roster slot: the per-row content-sha256
    invariant (BASELINE.json:15) AND language-tag canonicalization,
    both Arrow pandas UDFs — the oracle pairs DuckDB's native sha256
    with a CASE chain generated from the same lang mapping, so both
    UDFs are proven equal to native implementations in one query.
    (Folded from the r3/r4 `sha256_invariant` + `lang_normalize`
    entries in round 5 to free cap space.)"""
    d = _tc(spark, sf, "documents", ["doc_id", "text"])
    variants = F.array(*[F.lit(x) for x in _UDF_LANGS])
    raw = F.element_at(variants, (F.col("doc_id") % 8 + 1).cast("int"))
    named = d.select("doc_id", "text", raw.alias("raw_lang"))
    return named.select(
        "doc_id",
        U.content_sha256("text").alias("content_sha"),
        "raw_lang",
        U.normalize_lang("raw_lang").alias("lang_norm"),
    )


# =============================================================================
# Incremental view maintenance (lake/ivm.py + LakeTable.merge_additive)
# =============================================================================

_IVM_ORACLE = """
    with v1 as (
      select o_orderkey, o_custkey, o_totalprice
      from orders where o_orderkey % 3 <> 0),
    b as (
      select o_orderkey, o_custkey, o_totalprice + 1 as o_totalprice,
             (o_orderkey % 7 = 0) as is_del
      from orders where o_orderkey % 5 = 0),
    final as (
      select v1.o_orderkey, v1.o_custkey, v1.o_totalprice
      from v1 left join b using (o_orderkey) where b.o_orderkey is null
      union all
      select o_orderkey, o_custkey, o_totalprice from b where not is_del)
    select o_custkey,
           cast(count(*) as bigint) as n_orders,
           cast(sum(cast(floor(o_totalprice * 100) as bigint)) as bigint)
             as sum_cents
    from final group by o_custkey
"""


@query("ivm_rollup_orders", _IVM_ORACLE)
def ivm_rollup_orders(spark, sf):
    """Incremental view maintenance: a per-customer rollup maintained
    from the source table's CDC changelog — refreshed after EACH of two
    merge commits (initial load, then an update/delete/insert batch),
    O(|changes|) per refresh, the source never rescanned. The oracle
    recomputes the FINAL state from scratch in SQL; hash equality
    proves the incremental path converges to the declarative answer
    (bit-exact: counts + integer cent sums)."""
    from dbt_customer360_spark.lake.ivm import AggSpec, IncrementalRollup
    from dbt_customer360_spark.lake.table import LakeTable

    o = _t(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_totalprice",
    )
    root = tempfile.mkdtemp(prefix="ivm_q_")
    src = LakeTable(spark, f"{root}/src", buckets=8)
    roll = LakeTable(spark, f"{root}/roll", buckets=8)
    ivm = IncrementalRollup(
        src,
        roll,
        ["o_custkey"],
        [AggSpec("n_orders", "count"), AggSpec("sum_cents", "sum", "cents")],
        cursor_path=f"{root}/cursor.json",
    )
    v1 = o.filter(F.col("o_orderkey") % 3 != 0).select("o_orderkey", "o_custkey", "cents")
    src.merge(v1, ["o_orderkey"], batch_id="v1")
    ivm.refresh()
    batch = o.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.floor((F.col("o_totalprice") + 1) * 100).cast("long").alias("cents"),
        (F.col("o_orderkey") % 7 == 0).alias("is_del"),
    )
    src.merge(batch, ["o_orderkey"], batch_id="v2", delete_col="is_del")
    ivm.refresh()
    return ivm.read()


# =============================================================================
# Relational surface: pivot, grouping sets, range-frame windows
# =============================================================================

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_ORACLE = """
    select user_id,
           cast(count(*) filter (where event_type = 'click') as bigint) as n_click,
           cast(count(*) filter (where event_type = 'error') as bigint) as n_error,
           cast(count(*) filter (where event_type = 'purchase') as bigint) as n_purchase,
           cast(count(*) filter (where event_type = 'signup') as bigint) as n_signup,
           cast(count(*) filter (where event_type = 'view') as bigint) as n_view
    from events group by user_id
"""


@query("pivot_event_types", _PIVOT_ORACLE)
def pivot_event_types(spark, sf):
    """PIVOT: per-user event-type count matrix over an explicit value
    list (explicit so the plan is ONE pass — Spark's value-discovery
    pivot runs a distinct scan first and breaks plan determinism).
    Absent combinations coalesce to 0 like the oracle's FILTER
    aggregates."""
    e = _t(spark, sf, "events")
    p = (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )


_ROLLUP_SETS_ORACLE = """
    select o_orderstatus, o_orderpriority,
           cast(count(*) as bigint) as n_orders,
           cast(sum(cast(floor(o_totalprice * 100) as bigint)) as bigint)
             as sum_cents,
           cast(grouping(o_orderstatus, o_orderpriority) as bigint) as gid
    from orders
    group by rollup (o_orderstatus, o_orderpriority)
"""


@query("rollup_grouping_sets_orders", _ROLLUP_SETS_ORACLE)
def rollup_grouping_sets_orders(spark, sf):
    """GROUP BY ROLLUP: status x priority totals plus per-status and
    grand-total superaggregate rows in one pass (partial aggregation
    still applies — no N-scan union), grouping_id disambiguating real
    NULL keys from rollup NULLs."""
    o = _t(spark, sf, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("sum_cents"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


_MOVING_WINDOW_ORACLE = """
    select user_id, event_id, ts,
           cast(sum(cast(floor(value * 100) as bigint)) over w as bigint)
             as sum_cents_7d,
           cast(count(*) over w as bigint) as n_7d
    from events
    window w as (partition by user_id order by epoch(ts)
                 range between 604800 preceding and current row)
"""


@query("moving_window_events", _MOVING_WINDOW_ORACLE)
def moving_window_events(spark, sf):
    """Range-frame moving aggregate: each event's trailing-7-day spend
    and event count per user — a VALUE-bounded frame (peers at the
    boundary included), not a row count. Integer cent sums keep the
    sliding accumulation order-free across engines (DuckDB's segment
    tree vs Spark's running frame would drift on doubles)."""
    from pyspark.sql import Window

    e = _t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("timestamp").cast("double"))
        .rangeBetween(-604800, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .over(w)
        .cast("long")
        .alias("sum_cents_7d"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_7d"),
    )


_UNPIVOT_ORACLE = """
    select l_orderkey, l_linenumber, 'quantity' as metric, l_quantity as value
    from lineitem
    union all
    select l_orderkey, l_linenumber, 'extendedprice', l_extendedprice from lineitem
    union all
    select l_orderkey, l_linenumber, 'discount', l_discount from lineitem
    union all
    select l_orderkey, l_linenumber, 'tax', l_tax from lineitem
"""


@query("unpivot_lineitem_metrics", _UNPIVOT_ORACLE)
def unpivot_lineitem_metrics(spark, sf):
    """UNPIVOT (melt): wide metric columns to (metric, value) rows via
    native unpivot — ONE scan fanning out in the project (no N-scan
    union like the oracle's rendering), values pass through bit-exact."""
    li = _t(spark, sf, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    ).withColumn("metric", F.expr("substring(metric, 3)"))


_SETOPS_ORACLE = """
    with recent as (select distinct o_custkey from orders
                    where o_orderdate >= timestamp '1998-01-01'),
    old as (select distinct o_custkey from orders
            where o_orderdate < timestamp '1996-01-01'),
    lapsed as (select o_custkey from old except select o_custkey from recent),
    loyal as (select o_custkey from old intersect select o_custkey from recent)
    select o_custkey, 'lapsed' as cohort from lapsed
    union all
    select o_custkey, 'loyal' from loyal
"""


@query("setops_customer_cohorts", _SETOPS_ORACLE)
def setops_customer_cohorts(spark, sf):
    """EXCEPT / INTERSECT set operations: early-era customers split
    into lapsed (no recent orders) vs loyal (both eras). Spark plans
    both as null-safe distinct joins — no driver-side sets."""
    o = _t(spark, sf, "orders")
    recent = o.filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")).select(
        "o_custkey"
    ).distinct()
    old = o.filter(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")).select(
        "o_custkey"
    ).distinct()
    lapsed = old.exceptAll(recent).withColumn("cohort", F.lit("lapsed"))
    loyal = old.intersect(recent).withColumn("cohort", F.lit("loyal"))
    return lapsed.unionByName(loyal)


@query(
    "cdc_final_state_mor",
    """
    select user_id, content, max_lsn from (
      select user_id,
             event_type || ':' || props as content,
             event_type,
             event_id as max_lsn,
             row_number() over (partition by user_id order by event_id desc) as rn
      from events) t
    where rn = 1 and event_type <> 'error'
    """,
)
def cdc_final_state_mor(spark, sf):
    """The cdc_final_state replay through MERGE-ON-READ
    (write_mode='mor': epochs append bucket-aligned delta files, no
    target rewrite) plus one compaction fold — attesting that
    MoR ≡ CoW ≡ the SQL last-writer-wins closed form end-to-end."""
    from dbt_customer360_spark.streaming.apply import CDCApplier, replay_batch

    e = _t(spark, sf, "events")
    stream = e.select(
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.lit("users").alias("repo"),
        F.col("user_id").cast("string").alias("path"),
        F.lit("c0").alias("commit"),
        F.col("event_type").alias("lang"),
        F.concat_ws(":", "event_type", "props").alias("content"),
    )
    root = tempfile.mkdtemp(prefix="cdc_final_state_mor_")
    applier = CDCApplier(spark, f"{root}/repos", buckets=8, write_mode="mor")
    replay_batch(applier, stream, n_batches=4)
    applier.table.compact(["repo", "path"])
    live = applier.table.read().filter(~F.col("__deleted"))
    return live.select(
        F.col("path").cast("bigint").alias("user_id"),
        "content",
        F.col("__max_lsn").alias("max_lsn"),
    )


@query(
    "cdc_expectations_state",
    """
    select user_id, content, max_lsn from (
      select user_id,
             event_type || ':' || props as content,
             event_type,
             event_id as max_lsn,
             row_number() over (partition by user_id order by event_id desc) as rn
      from events where value >= 20.0) t
    where rn = 1 and event_type <> 'error'
    """,
)
def cdc_expectations_state(spark, sf):
    """cdc_final_state replayed through a user data-quality gate
    (CDCApplier expectations, DLT-style expect_or_drop): events with
    value < 20 dead-letter instead of merging, so the final table is
    the LWW closed form over the SURVIVING feed — which is exactly
    what the oracle's WHERE clause states. Violations are counted in
    the epoch's pre-merge aggregation, which validation requires (an
    unvalidated epoch observes its stats on the merge's write)."""
    from dbt_customer360_spark.streaming.apply import CDCApplier, replay_batch

    e = _t(spark, sf, "events")
    stream = e.select(
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.lit("users").alias("repo"),
        F.col("user_id").cast("string").alias("path"),
        F.lit("c0").alias("commit"),
        F.col("event_type").alias("lang"),
        F.concat_ws(":", "event_type", "props").alias("content"),
        F.col("value").alias("value"),
    )
    root = tempfile.mkdtemp(prefix="cdc_expect_q_")
    applier = CDCApplier(
        spark,
        f"{root}/repos",
        buckets=8,
        quarantine_root=f"{root}/dl",
        expectations=[("value_floor", "value >= 20.0", "quarantine")],
    )
    replay_batch(applier, stream, n_batches=4)
    live = applier.table.read().filter(~F.col("__deleted"))
    return live.select(
        F.col("path").cast("bigint").alias("user_id"),
        "content",
        F.col("__max_lsn").alias("max_lsn"),
    )


@query(
    "lake_point_lookup",
    """
    select o_orderkey,
           o_totalprice + 1000.0 as o_totalprice,
           cast(2 as bigint) as lsn
    from orders
    where o_orderkey = (select min(o_orderkey) from orders)
    """,
)
def lake_point_lookup(spark, sf):
    """Serving GET (LakeTable.read_point): single-bucket point lookup
    through a table with a PENDING MoR delta — the base row for the
    key plus its delta update resolve LWW without touching any other
    bucket (inputFiles ⊂ table files pinned in tests/test_lake_mor.py).
    The oracle states the expected end state in plain SQL: the min
    orderkey's row with the delta's +1000 price at lsn 2."""
    from dbt_customer360_spark.lake.table import LakeTable

    o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    k = o.agg(F.min("o_orderkey")).first()[0]
    t = LakeTable(spark, tempfile.mkdtemp(prefix="pointlookup_q_"), buckets=8)
    t.merge_lsn(o.withColumn("lsn", F.lit(1).cast("bigint")), ["o_orderkey"],
                lsn_col="lsn", batch_id="base")
    upd = o.filter(F.col("o_orderkey") == k).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice"),
        F.lit(2).cast("bigint").alias("lsn"),
    )
    t.merge_lsn(upd, ["o_orderkey"], lsn_col="lsn", batch_id="upd", mor=True)
    return t.read_point({"o_orderkey": k}).select("o_orderkey", "o_totalprice", "lsn")


@query(
    "lake_prefix_scan",
    """
    select o_custkey, o_orderkey, o_totalprice, cast(1 as bigint) as lsn
    from orders
    where o_custkey = (select min(o_custkey) from orders)
    """,
)
def lake_prefix_scan(spark, sf):
    """Key-subset bucket layout (bucket_cols=['o_custkey'] on an
    (o_custkey, o_orderkey)-keyed table): every order of a customer
    lives in ONE bucket, so read_prefix serves the whole-customer
    lookup from a single bucket dir (inputFiles ⊂ table pinned in
    tests/test_bucket_cols.py). Oracle = the plain SQL filter."""
    from dbt_customer360_spark.lake.table import LakeTable

    o = _t(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice",
        F.lit(1).cast("bigint").alias("lsn"),
    )
    k = o.agg(F.min("o_custkey")).first()[0]
    t = LakeTable(
        spark,
        tempfile.mkdtemp(prefix="prefixscan_q_"),
        buckets=8,
        bucket_cols=["o_custkey"],
    )
    t.merge_lsn(o, ["o_custkey", "o_orderkey"], lsn_col="lsn", batch_id="base")
    return t.read_prefix({"o_custkey": k}).select(
        "o_custkey", "o_orderkey", "o_totalprice", "lsn"
    )


_JOINVIEW_ORACLE = """
    with v1 as (
      select o_orderkey, o_custkey, o_totalprice
      from orders where o_orderkey % 3 <> 0),
    b as (
      select o_orderkey, o_custkey, o_totalprice + 1 as o_totalprice,
             (o_orderkey % 7 = 0) as is_del
      from orders where o_orderkey % 5 = 0),
    final_fact as (
      select v1.o_orderkey, v1.o_custkey, v1.o_totalprice
      from v1 left join b using (o_orderkey) where b.o_orderkey is null
      union all
      select o_orderkey, o_custkey, o_totalprice from b where not is_del),
    final_dim as (
      select c_custkey,
             case when c_custkey % 4 = 0 then 'VIP' else c_mktsegment end
               as c_mktsegment
      from customer)
    select f.o_custkey, f.o_orderkey, f.o_totalprice, d.c_mktsegment
    from final_fact f join final_dim d on d.c_custkey = f.o_custkey
"""


@query("ivm_join_view_orders", _JOINVIEW_ORACLE)
def ivm_join_view_orders(spark, sf):
    """Incremental JOIN view (lake/joinview.py): a materialized
    orders ⋈ customer enrichment maintained from BOTH tables' CDC
    changelogs — fact changes recompute their own keys, dim changes
    recompute only the fact rows in the changed keys' buckets (the
    fact is bucketed on the join key), deletes on either side retract.
    Refreshed after each of two interleaved commit rounds; the oracle
    recomputes the FINAL join from scratch, so hash equality proves
    the delta-join converges to the declarative answer."""
    from dbt_customer360_spark.lake.joinview import IncrementalJoinView
    from dbt_customer360_spark.lake.table import LakeTable

    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    root = tempfile.mkdtemp(prefix="jv_q_")
    fact = LakeTable(spark, f"{root}/fact", buckets=8, bucket_cols=["o_custkey"])
    dim = LakeTable(spark, f"{root}/dim", buckets=4)
    view = LakeTable(spark, f"{root}/view", buckets=8)
    jv = IncrementalJoinView(
        fact, dim, view, ["o_custkey", "o_orderkey"], "o_custkey", "c_custkey",
        ["c_mktsegment"], f"{root}/cursors",
    )
    fkeys = ["o_custkey", "o_orderkey"]
    fact.merge(o.filter(F.col("o_orderkey") % 3 != 0), fkeys, batch_id="f0")
    dim.merge(c, ["c_custkey"], batch_id="d0")
    jv.refresh()
    upd = o.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey", "o_custkey",
        (F.col("o_totalprice") + 1).alias("o_totalprice"),
        (F.col("o_orderkey") % 7 == 0).alias("is_del"),
    )
    fact.merge(upd, fkeys, batch_id="f1", delete_col="is_del")
    dim.merge(
        c.filter(F.col("c_custkey") % 4 == 0).select(
            "c_custkey", F.lit("VIP").alias("c_mktsegment")
        ),
        ["c_custkey"], batch_id="d1",
    )
    jv.refresh()
    return jv.read().select("o_custkey", "o_orderkey", "o_totalprice", "c_mktsegment")
