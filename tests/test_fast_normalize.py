"""Equivalence fuzz: pandas fast paths vs the SQL CASE chains.

The fast paths (functions/fast.py) are the production execution path;
the ``*_sql`` builders (functions/normalize.py) are the faithful
transcription of the reference macros, the same SQL the DuckDB oracles
render. Evaluated in Spark with ``F.expr``, they are the one reference
the fast paths are checked against. This test proves they agree on an
adversarial corpus: random compositions of titles/suffixes/units,
comma/dot punctuation, case variants, and garbage.
"""

import random

import pytest
from pyspark.sql import functions as F

from dbt_customer360_spark.functions import fast, normalize as N

WORDS = ["john", "Smith", "ACME", "lake", "view", "x", "Ab", "zz9"]
PUNCT = ["", ",", ", ", ". ", " "]


def _corpus(parts_pool, n=2500, seed=11):
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        k = rng.randint(1, 5)
        toks = [rng.choice(parts_pool) for _ in range(k)]
        glue = rng.choice([" ", rng.choice(PUNCT)])
        s = glue.join(toks)
        if rng.random() < 0.3:
            s = s.upper() if rng.random() < 0.5 else s.lower()
        out.append(s)
    out += ["", " ", ",", "a b c"]
    return out


def _sql(*exprs):
    """The ``*_sql`` CASE chains, evaluated by Spark."""
    return [F.expr(e) for e in exprs]


def _compare(spark, values, expr_cols, fast_cols, names):
    df = spark.createDataFrame([(v,) for v in values], "x string").persist()
    exprs = [c.alias(f"e_{n}") for c, n in zip(expr_cols, names)]
    fasts = [c.alias(f"f_{n}") for c, n in zip(fast_cols, names)]
    res = df.select("x", *exprs, *fasts)
    bad = []
    for r in res.collect():
        for n in names:
            if r[f"e_{n}"] != r[f"f_{n}"]:
                bad.append((r.x, n, r[f"e_{n}"], r[f"f_{n}"]))
    df.unpersist()
    assert not bad, f"{len(bad)} mismatches, first 5: {bad[:5]}"


def test_name_titles_equivalence(spark):
    pool = WORDS + ["Dr", "Mr", "Prof. Dr", "The Rt Hon", "M", "Madam", "Dr.", "mr"]
    corpus = _corpus(pool)
    nt, t = _sql(*N.name_titles_sql("x"))
    f = fast.name_titles_fast("x")
    _compare(spark, corpus, [nt, t], [f["no_title"], f["title"]], ["nt", "t"])


def test_name_suffixes_equivalence(spark):
    pool = WORDS + ["Jr", "jr", "Sr", "iii", "IV", "esq", "Junior", "x"]
    corpus = _corpus(pool)
    ns, s = _sql(*N.name_suffixes_sql("x"))
    f = fast.name_suffixes_fast("x")
    _compare(spark, corpus, [ns, s], [f["no_suffix"], f["suffix"]], ["ns", "s"])


def test_org_suffixes_equivalence(spark):
    pool = WORDS + ["Inc", "inc", "LLC", "Llc", "Gmbh", "Co", "Ltd.", "And", "Corp"]
    corpus = _corpus(pool) + ["Acme_Inc", "Acme Inc.", "Acme,Llc", "Acme, Ltd", "inc"]
    ns, s = _sql(*N.org_suffixes_sql("x"))
    f = fast.org_suffixes_fast("x")
    _compare(spark, corpus, [ns, s], [f["no_suffix"], f["suffix"]], ["ns", "s"])


def test_street_suffixes_equivalence(spark):
    pool = WORDS + [
        "St", "st", "Ave", "AVE", "Blvd", "Wls", "Vst", "Aly", "Street", "Main",
        # substring-suffix adversaries: LIKE '% % st' matches these too
        "xst", "wave", "forest", "st,5", "gravy",
    ]
    corpus = _corpus(pool) + [
        "1 Main St", "1 Main St, Apt 2", "9 b ave c", "x y STR",
        "a b xst", "a b wave q", "c d forest,", "e f st,9",
    ]
    _compare(
        spark,
        corpus,
        _sql(N.street_suffixes_sql("x")),
        [fast.street_suffixes_fast("x")],
        ["long"],
    )


def test_split_address_equivalence(spark):
    pool = WORDS + ["Apt", "apt", "APT.", "Suite", "FL", "Basement", "#", "Lot", "12"]
    corpus = _corpus(pool) + ["1 Main St, Apt 2", "2 Oak Apt 5", "3 Pine basement", "4 a # 7"]
    l1, l2 = _sql(*N.split_address_lines_sql("x"))
    f = fast.split_address_lines_fast("x")
    _compare(spark, corpus, [l1, l2], [f["line_1"], f["line_2"]], ["l1", "l2"])
