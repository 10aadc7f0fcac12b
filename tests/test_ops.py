"""Text-statistics, golden-record and connected-components operator tests."""

import pytest

from pyspark.sql import functions as F

from dbt_customer360_spark.operators import golden, textstats

# DuckDB twin of textstats.repetition_features over a `documents` table:
# the same tokenizer (strip non-alnum, lower, whitespace split) and
# word-2-grams (a doc shorter than 2 words has the single gram '').
_REPETITION_ORACLE = r"""
    with toks as (
      select doc_id, list_filter(str_split_regex(lower(regexp_replace(text,
             '[^a-z0-9A-Z ]', ' ', 'g')), '\s+'), x -> x <> '') as ws
      from documents),
    g2 as (
      select doc_id,
             case when len(ws) < 2 then [coalesce(array_to_string(ws, ' '), '')]
             else list_transform(generate_series(1, len(ws) - 1),
                                 i -> array_to_string(ws[i:i+1], ' ')) end as g
      from toks),
    words as (select doc_id, unnest(ws) as w from toks),
    wc as (select doc_id, w, count(*) as n from words group by 1, 2),
    top as (select doc_id, max(n) as top_n, sum(n) as n_words from wc group by doc_id),
    lens as (select doc_id,
                    list_sum(list_transform(ws, x -> length(x))) as chars,
                    greatest(len(ws), 1) as nw
             from toks),
    dup2 as (select doc_id,
                    greatest(len(g), 1) as n2,
                    len(g) - len(list_distinct(g)) as dups
             from g2)
    -- left joins + coalesce so a doc that tokenizes to ZERO words (empty
    -- or punctuation-only text) yields the same (0,0,0) row the Spark
    -- side emits, instead of being dropped by the words-derived CTEs
    select t.doc_id,
           cast(coalesce(top.top_n, 0) as double)
             / greatest(coalesce(top.n_words, 1), 1) as top_word_frac,
           cast(coalesce(dup2.dups, 0) as double)
             / greatest(coalesce(dup2.n2, 1), 1) as dup_2gram_frac,
           cast(coalesce(lens.chars, 0) as double)
             / greatest(coalesce(lens.nw, 1), 1) as mean_word_len
    from toks t
    left join top using (doc_id)
    left join lens using (doc_id)
    left join dup2 using (doc_id)
"""


def test_rank_values_golden(spark):
    df = spark.createDataFrame(
        [
            ("u1", "a@x.com", 1), ("u1", "a@x.com", 2), ("u1", "b@x.com", 9),
            ("u2", "c@x.com", 1),
        ],
        "uid string, email string, t long",
    )
    df = df.withColumn("ts", F.timestamp_seconds("t"))
    ranked = golden.rank_values(df, "uid", "email", recency_col=F.col("ts"))
    best = {r.uid: r.email for r in golden.best_values(ranked, "uid", "email").collect()}
    # frequency beats recency: a@x.com seen twice
    assert best == {"u1": "a@x.com", "u2": "c@x.com"}


def test_garbage_names_rank_last(spark):
    df = spark.createDataFrame(
        [("u1", "Permanently Deleted"), ("u1", "Permanently Deleted"), ("u1", "Real Name")],
        "uid string, name string",
    )
    ranked = golden.rank_values(df, "uid", "name", garbage_values=golden.GARBAGE_NAMES)
    best = golden.best_values(ranked, "uid", "name").first()
    assert best.name == "Real Name"


def test_lang_id_and_tokens(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog went to the house in the garden"),
            (2, "el perro y el gato en la casa de los abuelos se fue"),
            (3, "zzz qqq www"),
        ],
        "id long, t string",
    )
    out = {r.id: r.lang for r in df.select("id", textstats.lang_id(F.col("t")).alias("lang")).collect()}
    assert out == {1: "en", 2: "es", 3: "und"}
    toks = df.select(textstats.token_count_ws(F.col("t")).alias("n")).collect()
    assert toks[0].n == 12


def test_pii_scrub(spark):
    """Sequential typed redaction: emails before phones (an email's
    digits must not be half-eaten by the phone pattern), counts match
    what was actually redacted."""
    rows = [
        (1, "mail bob.smith+x@corp.example.com and +1 (555) 123-4567 ok"),
        (2, "server 10.0.255.7 ssn 123-45-6789"),
        (3, "clean text, no pii at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scrubbed, counts = textstats.pii_scrub(F.col("text"))
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            scrubbed.alias("s"),
            *[c.alias(f"n_{k}") for k, c in counts.items()],
        ).collect()
    }
    assert out[1].s == "mail [EMAIL] and [PHONE] ok"
    assert out[1].n_email == 1 and out[1].n_phone == 1 and out[1].n_ipv4 == 0
    assert out[2].s == "server [IP] ssn [SSN]"
    assert out[2].n_ipv4 == 1 and out[2].n_ssn == 1
    assert out[3].s == rows[2][1]
    assert out[3].n_email == out[3].n_phone == out[3].n_ssn == out[3].n_ipv4 == 0


def test_repetition_features(spark):
    """Hand-checked Gopher-style signals: 'a a a b' -> top word 3/4,
    2-grams [aa,aa,ab] -> 1 dup of 3; clean text scores low."""
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "the quick brown fox jumps high")],
        "doc_id long, text string",
    )
    feats = textstats.repetition_features(F.col("text"))
    out = {r.doc_id: r for r in df.select("doc_id", *[c.alias(n) for n, c in feats.items()]).collect()}
    assert out[1].top_word_frac == 0.75
    assert abs(out[1].dup_2gram_frac - 1 / 3) < 1e-12
    assert out[1].mean_word_len == 1.0
    assert abs(out[2].top_word_frac - 1 / 6) < 1e-12
    assert out[2].dup_2gram_frac == 0.0


def test_bm25_hand_checked(spark):
    """BM25 with the rational odds-idf, k1=1.2 b=0.75, hand-computed:
    N=3, avgdl=3; idf(a)=idf(b)=1.5/2.5=0.6;
    doc1 'a b a': 0.6*(2*2.2/3.2) + 0.6*(2.2/2.2) = 1.425
    doc2 'a c'  : 0.6*(2.2/1.9) ~= 0.694737 (term b absent -> 0)
    doc3 'b b b c': 0.6*(3*2.2/4.5) = 0.88 (term a absent -> 0)"""
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "a c"), (3, "b b b c")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.bm25
        for r in textstats.bm25_scores(df, "doc_id", "text", ["a", "b"]).collect()
    }
    assert abs(out[1] - 1.425) < 1e-12
    assert abs(out[2] - 0.6 * 2.2 / 1.9) < 1e-12
    assert abs(out[3] - 0.88) < 1e-12


def test_bm25_arrow_equals_jvm_twin(spark):
    """The Arrow tf-counting path and the JVM filter/size twin must
    produce identical scores on real documents (counts are exact ints;
    the float pipeline after them is shared)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    terms = ["hash", "join", "merge"]
    a = {r.doc_id: (r.dl, r.bm25) for r in textstats.bm25_scores(docs, "doc_id", "text", terms, impl="arrow").collect()}
    j = {r.doc_id: (r.dl, r.bm25) for r in textstats.bm25_scores(docs, "doc_id", "text", terms, impl="jvm").collect()}
    assert a == j


def test_bm25_zero_term_and_empty_doc(spark):
    """Absent terms contribute exactly 0.0; a tokenless doc scores 0
    (every tf is 0) and still appears in the output."""
    df = spark.createDataFrame(
        [(1, "only these words"), (2, "")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.bm25
        for r in textstats.bm25_scores(df, "doc_id", "text", ["absent"]).collect()
    }
    assert out == {1: 0.0, 2: 0.0}


def test_bm25_null_text_matches_oracle_twin(spark):
    """NULL text: Arrow scores it as an empty doc (dl=0, bm25=0.0); the
    generated DuckDB twin must coalesce its NULL-propagating tokenizer
    to the same (r4 ADVICE: dl=NULL would hash-mismatch)."""
    import duckdb

    df = spark.createDataFrame(
        [(1, "a b a"), (2, None), (3, "b")], "doc_id long, text string"
    )
    srows = sorted(
        (r.doc_id, r.dl, r.bm25)
        for r in textstats.bm25_scores(df, "doc_id", "text", ["a", "b"]).collect()
    )
    toks = (
        "select doc_id, list_filter(str_split_regex(lower(regexp_replace(text,"
        " '[^a-z0-9A-Z ]', ' ', 'g')), '\\s+'), x -> x <> '') as ws"
        " from (values (1, 'a b a'), (2, NULL), (3, 'b')) t(doc_id, text)"
    )
    orows = sorted(
        tuple(r) for r in duckdb.sql(textstats.bm25_sql(toks, "doc_id", ["a", "b"])).fetchall()
    )
    assert [tuple(r) for r in srows] == orows
    assert srows[1][1] == 0 and srows[1][2] == 0.0  # the NULL-text doc


def test_bm25_rejects_non_token_terms(spark):
    """Terms with uppercase/punctuation can never match the stripped+
    lowered tokens and would break the spliced oracle SQL — refused."""
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    for bad in (["O'Brien"], ["Hash"], ["a b"], ["x;drop"]):
        with pytest.raises(ValueError):
            textstats.bm25_scores(df, "doc_id", "text", bad)
        with pytest.raises(ValueError):
            textstats.bm25_sql("select 1", "doc_id", bad)


def test_repetition_arrow_equals_jvm_twin(spark):
    """The Arrow repetition path must be BIT-identical to the JVM fold
    on real sf0.001 documents plus adversarial edges (empty, tokenless,
    repeated words, single word) — same guarantee the minhash md5
    family carries."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    edge = spark.createDataFrame(
        [(9001, ""), (9002, "!!! .."), (9003, "x"), (9004, "a a a a b"), (9005, "Tab\there\nnewline")],
        "doc_id long, text string",
    ).select("doc_id", "text")
    df = docs.select("doc_id", "text").unionByName(edge)
    feats = textstats.repetition_features(F.col("text"))
    jvm = {
        r.doc_id: (r.top_word_frac, r.dup_2gram_frac, r.mean_word_len)
        for r in df.select("doc_id", *[c.alias(n) for n, c in feats.items()]).collect()
    }
    arrow = {
        r.doc_id: (r.top_word_frac, r.dup_2gram_frac, r.mean_word_len)
        for r in df.select(
            "doc_id", textstats.repetition_features_arrow(F.col("text")).alias("f")
        ).select("doc_id", "f.*").collect()
    }
    assert jvm == arrow  # exact equality, not approx


def test_repetition_features_tokenless_doc_matches_oracle(spark):
    """A doc that tokenizes to ZERO words (empty / punctuation-only)
    must yield (0,0,0) on BOTH engines — the oracle's words-derived CTE
    used to inner-join such docs away (round-3 advice)."""
    import duckdb

    rows = [(1, ""), (2, "!!! ... ---"), (3, "ok ok")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    feats = textstats.repetition_features(F.col("text"))
    got = {
        r.doc_id: (r.top_word_frac, r.dup_2gram_frac, r.mean_word_len)
        for r in df.select("doc_id", *[c.alias(n) for n, c in feats.items()]).collect()
    }
    assert got[1] == (0.0, 0.0, 0.0) and got[2] == (0.0, 0.0, 0.0)

    con = duckdb.connect()
    con.sql("create table documents as select * from (values (1, ''), (2, '!!! ... ---'), (3, 'ok ok')) t(doc_id, text)")
    oracle = {
        r[0]: (r[1], r[2], r[3])
        for r in con.sql(_REPETITION_ORACLE).fetchall()
    }
    assert oracle == got


def test_connected_components_small_path_equals_distributed(spark):
    """The driver union-find fast path (small graphs) must be
    byte-identical to the distributed min-label rounds on an irregular
    graph with chains, stars, singleton-adjacent pairs and self-loops."""
    from dbt_customer360_spark.operators.components import connected_components

    edges = [(i, i + 1) for i in range(0, 40, 2)]          # 20 two-node comps
    edges += [(100, 100 + k) for k in range(1, 6)]          # star at 100
    edges += [(200 + k, 201 + k) for k in range(10)]        # chain 200..210
    edges += [(300, 300)]                                   # self loop
    edges += [(401, 400), (402, 401)]                       # reversed chain
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    fast = connected_components(df)                         # under threshold
    slow = connected_components(df, small_graph_edges=0)    # force distributed
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))
