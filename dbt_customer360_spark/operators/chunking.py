"""Corpus chunking + deterministic stratified sampling.

Two training-data-pipeline staples the reference has no analogue for
(engine-native surface):

- :func:`chunk_documents` — split each document into fixed-token-budget
  chunks with overlap, the shape every context-window-bounded consumer
  (tokenize→pack, embedding indexing, RAG ingestion) needs. Pure
  native expressions (split / sequence / posexplode / slice), no
  Python in the row path: at 100 TB the fan-out happens inside
  whole-stage codegen and the only data movement is the scan itself —
  chunking is embarrassingly parallel, zero shuffles.

- :func:`stratified_sample` — deterministic per-stratum downsampling
  (corpus balancing: "keep 10% of en, all of mt"). The keep decision
  is ``md5(key) prefix < threshold(stratum)``, a pure function of the
  row key: re-runs, retries and different partitionings all pick the
  SAME rows (unlike ``df.sample``, whose RNG is partition-seeded), and
  growing a stratum's fraction later yields a SUPERSET of the earlier
  sample (thresholds are nested), so incremental corpus re-balancing
  never churns already-selected training rows. The stratum→threshold
  map compiles to a literal CASE expression — fully codegen'd, no join
  at all; for million-entry maps use a broadcast join instead.

Both carry exact DuckDB oracle twins (``chunk_sql`` /
``stratified_sample_sql``) generated from the same parameters, so the
Spark plan and the SQL cannot drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- chunking ----------------------------------------------------------------


def _ws_tokens(text: Column) -> Column:
    """Whitespace tokens, empties removed (same convention as
    textstats.token_count_ws; NULL text -> zero tokens)."""
    return F.filter(
        F.split(F.coalesce(text, F.lit("")), r"\s+"), lambda x: x != ""
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 8,
    drop_empty: bool = True,
) -> DataFrame:
    """Fan each document out into whitespace-token chunks of
    ``chunk_tokens`` tokens stepping by ``chunk_tokens - overlap``.

    Output = the input columns minus ``text_col`` plus
    ``chunk_idx`` (0-based), ``chunk_text`` (tokens re-joined with
    single spaces — whitespace runs are normalized) and ``chunk_len``
    (token count of the chunk; the final chunk may be short).

    Scale: one narrow projection + posexplode — no shuffle, no Python.
    The chunk count per row is data-dependent but bounded by
    ``n_tokens/stride``; AQE splits oversized post-explode partitions.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {overlap=} {chunk_tokens=}")
    stride = chunk_tokens - overlap
    toks = _ws_tokens(F.col(text_col))
    nt = F.size(toks).cast("long")
    # ceil((nt - overlap) / stride) in pure integer math (identical on
    # any engine, no float rounding), floored at one chunk per doc
    nc = F.greatest(
        F.lit(1).cast("long"),
        ((nt - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride)).cast("long"),
    )
    base = df.withColumn("__toks", toks).withColumn("__nt", nt).withColumn("__nc", nc)
    if drop_empty:
        base = base.filter(F.col("__nt") > 0)
    keep = [c for c in df.columns if c != text_col]
    start = F.col("chunk_idx") * F.lit(stride)
    return (
        base.select(
            *keep,
            "__toks",
            "__nt",
            F.posexplode(F.sequence(F.lit(0).cast("long"), F.col("__nc") - 1)).alias(
                "__pos", "chunk_idx"
            ),
        )
        .select(
            *keep,
            "chunk_idx",
            F.array_join(F.slice(F.col("__toks"), start + 1, chunk_tokens), " ").alias(
                "chunk_text"
            ),
            F.least(F.lit(chunk_tokens).cast("long"), F.col("__nt") - start).alias(
                "chunk_len"
            ),
        )
    )


def chunk_sql(
    table: str = "documents",
    keep_cols: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 8,
    drop_empty: bool = True,
) -> str:
    """DuckDB twin of :func:`chunk_documents` (same integer math)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {overlap=} {chunk_tokens=}")
    stride = chunk_tokens - overlap
    where = "where nt > 0" if drop_empty else ""
    return f"""
    with toks as (
      select {keep_cols},
             list_filter(str_split_regex(coalesce({text_col}, ''), '\\s+'),
                         x -> x <> '') as t
      from {table}
    ), sized as (
      select {keep_cols}, t, cast(len(t) as bigint) as nt,
             greatest(cast(1 as bigint),
                      (cast(len(t) as bigint) - {overlap} + {stride - 1}) // {stride}) as nc
      from toks
    )
    select {keep_cols},
           cast(i as bigint) as chunk_idx,
           array_to_string(list_slice(t, i * {stride} + 1,
                                      least(i * {stride} + {chunk_tokens}, nt)), ' ')
             as chunk_text,
           least(cast({chunk_tokens} as bigint), nt - i * {stride}) as chunk_len
    from sized, unnest(generate_series(0, nc - 1)) as u(i)
    {where}
    """


# --- deterministic stratified sampling ---------------------------------------

_HEX_WIDTH = 8  # 32 bits of the md5 -> fraction resolution 2**-32


def _threshold_hex(fraction: float) -> str:
    """Lexicographic keep-threshold for a fraction: an md5 hex prefix is
    kept iff it sorts below this string. 'g' sorts above every hex
    digit, so fraction >= 1.0 keeps all rows."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    if fraction >= 1.0:
        return "g"
    return format(int(fraction * (16**_HEX_WIDTH)), f"0{_HEX_WIDTH}x")


def _hash_prefix(key: Column) -> Column:
    return F.substring(F.md5(key.cast("string").cast("binary")), 1, _HEX_WIDTH)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Keep each row iff ``md5(key)``'s 32-bit prefix falls below the
    stratum's threshold — deterministic, partition-independent, and
    monotone in the fraction (raising a stratum's rate supersets the
    earlier sample). Strata absent from ``fractions`` use
    ``default_fraction`` (0 = drop, 1 = keep all)."""
    thr = F.lit(_threshold_hex(default_fraction))
    for value, frac in sorted(fractions.items()):
        thr = F.when(F.col(strata_col) == value, F.lit(_threshold_hex(frac))).otherwise(thr)
    return df.filter(_hash_prefix(F.col(key_col)) < thr)


def stratified_sample_sql(
    table: str,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    select: str = "*",
    default_fraction: float = 0.0,
) -> str:
    """DuckDB twin of :func:`stratified_sample` (same md5 prefixes,
    same thresholds; string compare is byte-wise on both engines)."""
    arms = "".join(
        f" when {strata_col} = '{v}' then '{_threshold_hex(f)}'"
        for v, f in sorted(fractions.items())
    )
    case = f"case{arms} else '{_threshold_hex(default_fraction)}' end"
    return f"""
    select {select} from {table}
    where substring(md5(cast({key_col} as varchar)), 1, {_HEX_WIDTH}) < {case}
    """
