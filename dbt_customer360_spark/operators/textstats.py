"""Text analysis for training-data pipelines (task brief, first-class):

- language ID (character/stopword n-gram heuristic),
- quality scoring (length / punctuation / stopword ratios),
- token counting (whitespace + BPE-ish regex),
- document fingerprinting (rolling polynomial hash).

Everything is native column expressions — JVM-side, codegen'd, no
Python in the row path. Each has an ``*_sql`` twin rendering the
equivalent DuckDB SQL from the same constants so the driver's oracle
can never drift.
"""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se", "del", "las"],
    "fr": ["le", "la", "de", "et", "les", "des", "est", "dans", "que", "une"],
    "de": ["der", "die", "und", "das", "ist", "von", "den", "mit", "nicht", "ein"],
}

_TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _shingles(text: Column, n: int = 5) -> Column:
    """Word n-gram shingles as an array<string> (built-ins only)."""
    words = F.split(F.lower(F.regexp_replace(text, r"[^a-z0-9A-Z ]", " ")), r"\s+")
    words = F.filter(words, lambda w: w != "")
    cnt = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
    return F.when(cnt < n, F.array(F.concat_ws(" ", words))).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
    )


def _words(text: Column) -> Column:
    w = F.split(F.lower(text), r"\s+")
    return F.filter(w, lambda x: x != "")


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword hit-rate over the first 200 words."""
    words = F.slice(_words(text), 1, 200)
    n = F.greatest(F.size(words), F.lit(1))
    out = {}
    for lang, sw in STOPWORDS.items():
        hits = F.size(F.filter(words, lambda x: x.isin(sw)))
        out[lang] = hits / n
    return out


def lang_id(text: Column) -> Column:
    """argmax over lang_scores; 'und' if the best score is 0."""
    scores = lang_scores(text)
    pairs = F.array(
        *[
            F.struct(score.alias("score"), F.lit(lang).alias("lang"))
            for lang, score in sorted(scores.items())
        ]
    )
    best = F.array_max(pairs)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def lang_id_sql(text: str) -> str:
    """DuckDB twin of lang_id: same stopword lists, same argmax with
    lexicographic lang tie-break (array_max on (score, lang) structs)."""
    parts = []
    for lang, sw in sorted(STOPWORDS.items()):
        in_list = ", ".join(f"'{w}'" for w in sw)
        score = (
            f"(len(list_filter(ws, x -> x in ({in_list}))) * 1.0 / greatest(len(ws), 1))"
        )
        parts.append(f"struct_pack(score := {score}, lang := '{lang}')")
    arr = f"[{', '.join(parts)}]"
    return (
        f"(select case when m.score > 0 then m.lang else 'und' end from ("
        f"select list_max({arr}) as m from (select list_filter("
        f"list_transform(str_split_regex(lower({text}), '\\s+'), x -> x), x -> x <> '')"
        f"[1:200] as ws)))"
    )


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(_words(text))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count: alpha runs + digit runs + single punctuation."""
    return F.size(F.regexp_extract_all(text, F.lit(_TOKEN_REGEX), F.lit(0)))


def quality_features(text: Column) -> dict[str, Column]:
    """Length/punct/stopword features + a composite score in [0,1]."""
    n_chars = F.length(text)
    words = _words(text)
    n_words = F.size(words)
    mean_word_len = F.when(n_words > 0, n_chars / n_words)
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), F.lit(0)))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    en_sw = STOPWORDS["en"]
    sw_ratio = F.when(
        n_words > 0, F.size(F.filter(words, lambda x: x.isin(en_sw))) / n_words
    ).otherwise(F.lit(0.0))
    # integer points / 100.0 so the score is a single exact-int division
    # (identical IEEE double on any engine — no float-accumulation drift)
    points = (
        F.when((n_words >= 10) & (n_words <= 100000), F.lit(40)).otherwise(F.lit(0))
        + F.when((mean_word_len >= 3) & (mean_word_len <= 12), F.lit(30)).otherwise(F.lit(0))
        + F.when(punct_ratio <= 0.2, F.lit(15)).otherwise(F.lit(0))
        + F.when(sw_ratio >= 0.05, F.lit(15)).otherwise(F.lit(0))
    )
    score = points / F.lit(100.0)
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "punct_ratio": punct_ratio,
        "stopword_ratio": sw_ratio,
        "quality_score": score,
    }


def fingerprint(text: Column, window: int = 8, hash_family: str = "xxhash64") -> Column:
    """Document fingerprint: min rolling hash over word ``window``-grams
    (winnowing-lite) — stable under small edits outside the min window.

    'xxhash64' family returns bigint; 'md5' returns the min hex digest
    string — same fingerprint semantics, but reproducible in DuckDB
    (``list_min(list_transform(grams, g -> md5(g)))``)."""
    words = _words(text)
    cnt = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(cnt - window, F.lit(0)))
    grams = F.when(cnt < window, F.array(F.concat_ws(" ", words))).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, window)))
    )
    if hash_family == "md5":
        return F.array_min(F.transform(grams, lambda g: F.md5(g)))
    return F.array_min(F.transform(grams, lambda g: F.xxhash64(g)))


# --- PII scrubbing (training-data pipelines redact before training) ----------

# (name, pattern, replacement) applied IN ORDER — order is part of the
# contract because patterns overlap (an IPv4 is also a run of digits
# and dots a phone pattern could eat). Patterns restrict themselves to
# syntax with identical semantics in Java regex (Spark) and RE2
# (DuckDB): character classes, bounded quantifiers, ASCII \b.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "[SSN]"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
    ("phone", r"\+?[0-9][0-9()\s.-]{7,}[0-9]", "[PHONE]"),
]


def pii_scrub(text: Column) -> tuple[Column, dict[str, Column]]:
    """(scrubbed_text, {kind: count}) — sequential redaction, each
    pattern counted on the text AFTER earlier patterns were applied
    (the count is exactly what the scrub redacted, and overlap between
    patterns can't double-report). Native regexp_replace chain:
    JVM-side, codegen'd, no Python in the row path."""
    counts: dict[str, Column] = {}
    cur = text
    for name, pat, repl in PII_PATTERNS:
        counts[name] = F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
        cur = F.regexp_replace(cur, pat, repl)
    return cur, counts


def pii_scrub_sql(text: str) -> tuple[str, dict[str, str]]:
    """DuckDB twin rendered from the SAME pattern table ('g' flag:
    DuckDB's regexp_replace is first-match-only by default, Spark's
    replaces all)."""
    counts: dict[str, str] = {}
    cur = text
    for name, pat, repl in PII_PATTERNS:
        esc = pat.replace("'", "''")
        counts[name] = f"len(regexp_extract_all({cur}, '{esc}'))"
        cur = f"regexp_replace({cur}, '{esc}', '{repl}', 'g')"
    return cur, counts


# --- repetition signals (Gopher-style quality filters, Rae et al. '21) --------


def _bm25_tf(text: Column, terms: list[str], impl: str = "arrow") -> Column:
    """Per-doc (dl, tf per term) as ONE struct from ONE tokenization.

    'arrow': Counter-based pandas UDF — one pass per document. The JVM
    twin ('jvm': size(filter(words, = t)) per term) is pinned
    equivalent but ~100x slower at real document lengths: higher-order
    lambdas run interpreted per ELEMENT, and each tf column re-runs the
    regexp tokenizer (no cross-column CSE) — measured 85s for the
    5,000-doc sf0.1 scan vs <1s on Arrow. Counts are exact ints either
    way, so downstream float determinism is unaffected. Twin divergence
    on NULL text only: Arrow scores it 0.0 (dl=0, all tf=0), the JVM
    fold propagates NULL — the equivalence test pins non-null text."""
    fields = ", ".join(["dl int"] + [f"tf_{i} int" for i in range(len(terms))])
    if impl == "arrow":

        @pandas_udf(fields)
        def _counts(texts: pd.Series) -> pd.DataFrame:
            strip = re.compile(r"[^a-zA-Z0-9 ]")
            rows = []
            for t in texts:
                if t is None:
                    rows.append((0,) * (len(terms) + 1))
                    continue
                words = strip.sub(" ", t).lower().split()
                c = Counter(words)
                rows.append((len(words), *[c.get(term, 0) for term in terms]))
            return pd.DataFrame(
                rows, columns=["dl"] + [f"tf_{i}" for i in range(len(terms))]
            )

        return _counts(text)
    words = F.array_remove(_shingles(text, n=1), "")

    def _tf(term: str) -> Column:
        # single-arg lambda: F.filter treats a 2-arg lambda as
        # (element, index), so a default-arg closure would bind the
        # term to the INDEX column
        return F.size(F.filter(words, lambda w: w == F.lit(term)))

    return F.struct(
        F.size(words).alias("dl"),
        *[_tf(t).alias(f"tf_{i}") for i, t in enumerate(terms)],
    )


_BM25_TERM_RE = re.compile(r"^[a-z0-9]+$")


def _check_bm25_terms(terms: list[str]) -> None:
    """Both engines tokenize by strip-nonalnum + lower, and the DuckDB
    twin splices terms into SQL string literals — so a term with
    uppercase, punctuation, or quotes could never match a token AND
    could break the generated oracle. Refuse it up front."""
    bad = [t for t in terms if not _BM25_TERM_RE.match(t)]
    if bad:
        raise ValueError(
            f"bm25 terms must match ^[a-z0-9]+$ (tokenizer output shape): {bad}"
        )


def bm25_scores(
    docs,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    impl: str = "arrow",
):
    """BM25 relevance of every document to a fixed query-term set — the
    retrieval/quality-scoring primitive a training-data pipeline uses to
    mine topical subsets of a corpus (Robertson & Walker, public).

    Cross-engine bit-exactness by construction: the idf is the RATIONAL
    odds form ``(N - df + 0.5) / (df + 0.5)`` (the exp() of the classic
    log-idf, same ranking order) so every step is an exactly-rounded
    IEEE add/mul/div — ``ln()`` differs between engines at the last ulp,
    ratios cannot. The DuckDB twin :func:`bm25_sql` is generated from
    the same constants and the same operation order.

    Scale design: per-doc (dl, tf_t) come out of ONE scan with no
    explode (``size(filter(words, = t))`` per term, all inside codegen);
    N / sum(dl) / df_t are a single 1-row aggregate broadcast back via
    crossJoin. The corpus is never shuffled.
    """
    terms = sorted(query_terms)
    _check_bm25_terms(terms)
    base = docs.select(
        F.col(id_col), _bm25_tf(F.col(text_col), terms, impl).alias("__c")
    ).select(
        F.col(id_col),
        F.col("__c.dl").alias("__dl"),
        *[F.col(f"__c.tf_{i}").alias(f"__tf_{i}") for i in range(len(terms))],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__dl").alias("__sumdl"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("long")).alias(f"__df_{i}")
            for i in range(len(terms))
        ],
    )
    joined = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("__sumdl").cast("double") / F.col("__n").cast("double")
    k1p1 = k1 + 1.0
    one_minus_b = 1.0 - b
    score = None
    for i in range(len(terms)):
        tf = F.col(f"__tf_{i}").cast("double")
        df = F.col(f"__df_{i}")
        idf = (F.col("__n") - df + F.lit(0.5)) / (df + F.lit(0.5))
        denom = tf + F.lit(k1) * (
            F.lit(one_minus_b) + F.lit(b) * (F.col("__dl").cast("double") / avgdl)
        )
        contrib = F.when(
            F.col(f"__tf_{i}") > 0, idf * ((tf * F.lit(k1p1)) / denom)
        ).otherwise(F.lit(0.0))
        score = contrib if score is None else score + contrib
    return joined.select(F.col(id_col), F.col("__dl").alias("dl"), score.alias("bm25"))


def bm25_sql(
    toks_cte: str,
    id_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB twin of :func:`bm25_scores`: same constants (python float
    repr), same rational idf, same left-associative term-sum order —
    bit-identical scores. ``toks_cte`` must yield (id_col, ws)."""
    terms = sorted(query_terms)
    _check_bm25_terms(terms)
    k1r, br = repr(float(k1)), repr(float(b))
    k1p1 = repr(float(k1 + 1.0))
    omb = repr(float(1.0 - b))
    # coalesce: NULL text tokenizes to ws=NULL in the toks CTE (DuckDB
    # regexp/split propagate NULL) while the Arrow path scores it as an
    # empty doc (dl=0, all tf=0, bm25=0.0) — match that here
    tf_cols = ", ".join(
        f"coalesce(len(list_filter(ws, x -> x = '{t}')), 0) as tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"sum(case when tf_{i} > 0 then 1 else 0 end) as df_{i}"
        for i in range(len(terms))
    )
    contribs = [
        f"(case when tf_{i} > 0 then "
        f"(cast(n - df_{i} as double) + 0.5) / (cast(df_{i} as double) + 0.5) "
        f"* ((cast(tf_{i} as double) * {k1p1}) / (cast(tf_{i} as double) + {k1r} * "
        f"({omb} + {br} * (cast(dl as double) / "
        f"(cast(sumdl as double) / cast(n as double)))))) else 0.0 end)"
        for i in range(len(terms))
    ]
    return f"""
    with toks as ({toks_cte}),
    base as (select {id_col}, coalesce(len(ws), 0) as dl, {tf_cols} from toks),
    stats as (select count(*) as n, sum(dl) as sumdl, {df_cols} from base)
    select {id_col}, dl, {' + '.join(contribs)} as bm25
    from base cross join stats
    """


def repetition_features_arrow(text: Column) -> Column:
    """Arrow pandas-UDF twin of :func:`repetition_features`, returning
    one struct<top_word_frac,dup_2gram_frac,mean_word_len:double>.

    Same tokenizer (_shingles': strip non-alnum, lower, split) and
    the same arithmetic — exact integer counts with ONE double division
    per feature — so values are bit-identical to the JVM fold (pinned by
    test). The JVM path's per-element ``aggregate`` fold allocates a
    fresh struct per word with no codegen; a Counter over the token list
    is ~10x faster at real document lengths. NULL text yields NULL fields.
    """
    @pandas_udf("top_word_frac double, dup_2gram_frac double, mean_word_len double")
    def _feats(texts: pd.Series) -> pd.DataFrame:
        # strip BEFORE lowering, like the JVM twin: 'K' (Kelvin sign)
        # and friends lowercase INTO ascii, so lower-then-strip would
        # keep characters the JVM path discards
        strip = re.compile(r"[^a-zA-Z0-9 ]")
        rows = []
        for t in texts:
            if t is None:
                rows.append((None, None, None))
                continue
            words = strip.sub(" ", t).lower().split()
            nw = max(len(words), 1)
            if words:
                top = max(Counter(words).values())
                chars = sum(map(len, words))
            else:
                top = 0
                chars = 0
            if len(words) < 2:
                grams = [" ".join(words)]
            else:
                grams = [" ".join(p) for p in zip(words, words[1:])]
            n2 = max(len(grams), 1)
            dups = len(grams) - len(set(grams))
            rows.append((top / nw, dups / n2, chars / nw))
        return pd.DataFrame(
            rows, columns=["top_word_frac", "dup_2gram_frac", "mean_word_len"]
        )

    return _feats(text)


def repetition_features(text: Column) -> dict[str, Column]:
    """Published repetition-based quality signals for training corpora:

    - ``top_word_frac``: share of the document taken by its single most
      frequent word (boilerplate/spam marker);
    - ``dup_2gram_frac``: 1 - distinct/total word 2-grams (internal
      repetition);
    - ``mean_word_len``: characters per word.

    Tokenization is _shingles' (strip non-alnum, lower, split), which a
    DuckDB twin reproduces with list_filter(str_split_regex(...)). Counts are
    exact integers; each ratio is ONE double division — bit-stable on
    any engine. Native expressions end-to-end (word histogram via
    aggregate over a map, no explode/shuffle: the whole feature row is
    computed inside the scan stage)."""
    # _shingles' cnt<n fallback yields [""] for a zero-word doc; strip it
    # so the top-run fold scores an empty doc 0, not 1 (oracle drops the
    # doc from its words CTE and coalesces to 0 — must agree)
    words = F.array_remove(_shingles(text, n=1), "")
    n_words = F.greatest(F.size(words), F.lit(1))
    # top word count = longest equal run in the SORTED word array — one
    # O(n log n) sort + one linear fold (a map-histogram fold would be
    # quadratic per document at real document lengths)
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    top = F.aggregate(
        F.array_sort(words),
        acc0,
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    grams2 = _shingles(text, n=2)
    n2 = F.greatest(F.size(grams2), F.lit(1))
    return {
        "top_word_frac": top.cast("double") / n_words,
        "dup_2gram_frac": (n2 - F.size(F.array_distinct(grams2))).cast("double") / n2,
        "mean_word_len": F.aggregate(
            words, F.lit(0), lambda acc, w: acc + F.length(w)
        ).cast("double")
        / n_words,
    }


def _distinct_tokens_arrow(text: Column) -> Column:
    """Arrow twin of the repo-wide tokenizer's DISTINCT token list:
    ``array_distinct(filter(split(lower(regexp_replace(t,
    '[^a-z0-9A-Z ]', ' ')), '\\s+'), w != ''))``. Strip-before-lower
    and the ASCII-only strip class make Java/Python regex semantics
    coincide (only plain spaces survive the strip, so Java ``\\s+``
    == Python ``str.split()``), and ``dict.fromkeys`` preserves
    first-occurrence order exactly like ``array_distinct`` — the same
    pinned construction as the minhash/simhash twins. Replaces the
    interpreted split/filter/transform higher-order chain in the
    inverted-index tokenize stage (~2x the stage's throughput)."""
    import re

    @pandas_udf("array<string>")
    def _toks(texts: pd.Series) -> pd.Series:
        strip = re.compile(r"[^a-zA-Z0-9 ]")
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            out.append(list(dict.fromkeys(strip.sub(" ", t).lower().split())))
        return pd.Series(out)

    # nondeterministic marker: stops filter pushdown from duplicating
    # the UDF below any spread exchange
    return _toks.asNondeterministic()(text)


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    max_postings: int = 20,
) -> DataFrame:
    """Corpus inverted index: one row per term with its document
    frequency and a capped, sorted posting list — the batch-built
    index BM25 serving (``bm25_scores``) reads from, and the standard
    first stage of corpus search / contamination checks.

    Tokenization is the cross-engine twin of _shingles (strip non-alnum
    → lower → whitespace split).
    Plan shape at 100 TB: explode(distinct terms per doc) is a pure
    map stage, then ONE shuffle total — the row_number window hashes
    on term, and the follow-up groupBy(term) reuses that
    HashPartitioning (clustering already satisfied → no second
    exchange). The cap is applied BEFORE collect_list via the window
    rank (lowest ``max_postings`` doc ids — deterministic), so the
    agg buffer is bounded even for head terms ("the"), never
    O(corpus) per key; df still counts every occurrence via the
    window's full partition count. min_df prunes the hapax tail,
    which is typically >40% of the vocabulary.
    """
    from pyspark.sql import Window

    terms = df.select(
        F.col(id_col), F.explode(_distinct_tokens_arrow(F.col(text_col))).alias("term")
    )
    w = Window.partitionBy("term").orderBy(F.col(id_col).asc())
    capped = (
        terms.withColumn("rn", F.row_number().over(w))
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .filter(F.col("rn") <= max_postings)
    )
    return (
        capped.groupBy("term")
        .agg(
            F.max("df").alias("df"),
            F.array_join(F.array_sort(F.collect_list(id_col)), ",").alias("postings"),
        )
        .filter(F.col("df") >= min_df)
    )
