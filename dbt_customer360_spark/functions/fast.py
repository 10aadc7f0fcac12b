"""Arrow/pandas fast paths for the macro normalizers.

The ``*_sql`` builders in :mod:`normalize` transcribe the reference's
giant CASE chains — faithful, but a 215-branch CASE evaluated in Spark
blows Janino's 64 KB codegen limit and falls back to interpreted eval
(measured 116 s/1M rows for street_suffixes). These pandas-UDF twins
implement the SAME first-match-wins semantics with precompiled token
lookups (0.9 s/1M rows, 135x) and are the execution path of the
pipeline; equivalence against the SQL CASE chains, evaluated in Spark,
is fuzz-tested (tests/test_fast_normalize.py) AND enforced by the
driver gate (queries use these, oracles render the same SQL in
DuckDB).

Design: all are Series -> Series pandas UDFs (Arrow batches, zero
per-row Python at the DataFrame layer; inside the batch, per-row work
is dict lookups keyed by first/last token, not 200-way scans).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf

from dbt_customer360_spark.functions.normalize import (
    NAME_SUFFIXES,
    NAME_TITLES,
    ORG_SUFFIXES,
    SECONDARY_UNITS,
    STREET_SUFFIX_MAP,
)

# --- prebuilt lookup structures (module-level: built once per worker) ---------

# titles grouped by first word (with and without trailing dot variants),
# keeping global list order for first-match-wins
_TITLES_BY_FIRST: dict[str, list[tuple[int, str]]] = {}
for _i, _t in enumerate(NAME_TITLES):
    _first = _t.split(" ")[0]
    for key in {_first, _first + "."}:
        _TITLES_BY_FIRST.setdefault(key, []).append((_i, _t))

_NAME_SUFFIX_SET = {s.lower(): (i, s) for i, s in enumerate(NAME_SUFFIXES)}
_ORG_SUFFIX_SET = {s.lower(): (i, s) for i, s in enumerate(ORG_SUFFIXES)}

_STREET_ITEMS = list(STREET_SUFFIX_MAP.items())
_STREET_BY_ABBR: dict[str, tuple[int, str, str]] = {}
for _i, (_long, _ab) in enumerate(_STREET_ITEMS):
    _STREET_BY_ABBR.setdefault(_ab.lower(), (_i, _long, _ab))

_UNIT_ITEMS = list(SECONDARY_UNITS.items())


def _title_split(name: str | None) -> tuple[str | None, str | None]:
    """Mirror normalize.name_titles_sql: first matching title (list order)
    where name starts with 'T ' / 'T. ' followed by >= 2 more words;
    strip via global replace of the matched prefix token."""
    if name is None:
        return None, None
    first = name.split(" ", 1)[0]
    candidates = _TITLES_BY_FIRST.get(first)
    if not candidates and first.endswith("."):
        candidates = _TITLES_BY_FIRST.get(first[:-1])
    if not candidates:
        return name, None
    best = None
    for idx, t in candidates:
        for tok in (t + " ", t + ". "):
            if name.startswith(tok) and name[len(tok):].count(" ") >= 1:
                if best is None or idx < best[0]:
                    best = (idx, tok, t)
                break
    if best is None:
        return name, None
    _, tok, t = best
    return name.replace(tok, ""), t


def name_titles_fast(col) -> Column:
    """Struct column (no_title, title); lazy UDF build (needs a session)."""

    @pandas_udf("no_title string, title string")
    def _udf(names: pd.Series) -> pd.DataFrame:
        out = [_title_split(n) for n in names]
        return pd.DataFrame(out, columns=["no_title", "title"])

    return _udf(col)


def _name_suffix_split(name: str | None) -> tuple[str | None, str | None]:
    """Mirror normalize.name_suffixes_sql exactly: strip and tag are two
    INDEPENDENT first-match-wins chains over the suffix list (they can
    pick different suffixes — reference quirk preserved)."""
    if name is None:
        return None, None
    ln = name.lower()

    stripped, tag = name, None
    for s in NAME_SUFFIXES:
        sl = s.lower()
        # '% % sl': ends with ' sl', >=1 more space in the prefix
        cond_space = ln.endswith(" " + sl) and ln[: -len(sl) - 1].count(" ") >= 1
        # '% %, sl' (lowercase) or '% %,S' (case-sensitive, as written)
        cond_comma = (
            ln.endswith(", " + sl) and ln[: -len(sl) - 2].count(" ") >= 1
        ) or (name.endswith("," + s) and name[: -len(s) - 1].count(" ") >= 1)
        if cond_space:
            stripped = (
                name.replace(" " + s, "")
                .replace(" " + sl, "")
                .replace(" " + s.upper(), "")
            )
            break
        if cond_comma:
            stripped = name.replace("," + s, "")
            break
    for s in NAME_SUFFIXES:
        sl = s.lower()
        cond_space = ln.endswith(" " + sl) and ln[: -len(sl) - 1].count(" ") >= 1
        cond_comma_ns = ln.endswith("," + sl) and ln[: -len(sl) - 1].count(" ") >= 1
        if cond_space or cond_comma_ns:
            tag = s
            break
    return stripped, tag


def name_suffixes_fast(col) -> Column:
    @pandas_udf("no_suffix string, suffix string")
    def _udf(names: pd.Series) -> pd.DataFrame:
        out = [_name_suffix_split(n) for n in names]
        return pd.DataFrame(out, columns=["no_suffix", "suffix"])

    return _udf(col)


_ORG_CONTEXTS = [(" ", ""), ("_", ""), (" ", "."), (",", ""), (", ", "")]


def _org_suffix_split(org: str | None) -> tuple[str | None, str | None]:
    if org is None:
        return None, None
    lo = org.lower()
    best = None  # (suffix_idx, context_idx, s)
    for sl, (idx, s) in _ORG_SUFFIX_SET.items():
        for cidx, (pre, post) in enumerate(_ORG_CONTEXTS):
            pat = pre + sl + post
            if pre == "_":
                # LIKE '_' wildcard: any single char before the suffix
                ok = lo.endswith(sl + post) and len(lo) > len(sl + post)
            else:
                ok = lo.endswith(pat)
            if ok:
                if best is None or (idx, cidx) < (best[0], best[1]):
                    best = (idx, cidx, s)
                break
    if best is None:
        return org, None
    idx, cidx, s = best
    pre, post = _ORG_CONTEXTS[cidx]
    if pre == "_":
        # reference replaces the literal '_suf' tokens; if the wildcard
        # matched some other char, the replaces are no-ops
        reps = [("_" + s + post, ""), ("_" + s.upper() + post, ""), ("_" + s.lower() + post, "")]
    else:
        reps = [
            (pre + s + post, ""),
            (pre + s.upper() + post, ""),
            (pre + s.lower() + post, ""),
        ]
    out = org
    for a, b in reps:
        out = out.replace(a, b)
    return out, s


def org_suffixes_fast(col) -> Column:
    @pandas_udf("no_suffix string, suffix string")
    def _udf(orgs: pd.Series) -> pd.DataFrame:
        out = [_org_suffix_split(o) for o in orgs]
        return pd.DataFrame(out, columns=["no_suffix", "suffix"])

    return _udf(col)


def _street_expand(addr: str | None) -> str | None:
    """Mirror normalize.street_suffixes_sql: the LIKE patterns '% % al' /
    '% % al %' / '% % al,%' all put a literal space immediately before
    the abbr, so the abbr must be a whole space-delimited token (or a
    token's pre-comma head) with at least one more space earlier in
    the string. First map entry wins; then global 3-case replace."""
    if addr is None:
        return None
    la = addr.lower()
    best = None
    for word_start, word in _iter_words(la):
        cand = word
        hit = _STREET_BY_ABBR.get(cand)
        if hit is None and "," in cand:
            hit = _STREET_BY_ABBR.get(cand.split(",", 1)[0])
        if hit is not None and la[:word_start].count(" ") >= 2:
            if best is None or hit[0] < best[0]:
                best = hit
    if best is None:
        return addr
    _, long, ab = best
    return (
        addr.replace(ab, long).replace(ab.lower(), long).replace(ab.upper(), long)
    )


def _iter_words(s: str):
    start = None
    for i, ch in enumerate(s):
        if ch == " ":
            if start is not None:
                yield start, s[start:i]
                start = None
        elif start is None:
            start = i
    if start is not None:
        yield start, s[start:]


def street_suffixes_fast(col) -> Column:
    @pandas_udf("string")
    def _udf(addrs: pd.Series) -> pd.Series:
        return addrs.map(_street_expand)

    return _udf(col)


def _split_address(addr: str | None) -> tuple[str | None, str | None]:
    """Mirror normalize.split_address_lines_sql: comma split first, else the
    first secondary-unit designator (dict order, plain before dotted
    within an entry), case-insensitive match, split on the as-written
    token (missing-case split falls through like split_part does)."""
    if addr is None:
        return None, None
    if ", " in addr:
        parts = addr.split(", ")
        return parts[0], parts[1] if len(parts) > 1 else ""
    if "," in addr:
        parts = addr.split(",")
        return parts[0], parts[1] if len(parts) > 1 else ""
    la = addr.lower()
    for unit, needs_num in _UNIT_ITEMS:
        for dotted in (False, True):  # plain variant checked before dotted
            tok = unit + "." if dotted else unit
            tl = tok.lower()
            pat_hit = (
                (" " + tl + " ") in la if needs_num else la.endswith(" " + tl)
            )
            if pat_hit:
                parts = addr.split(tok)
                line1 = parts[0]
                line2 = unit + (parts[1] if len(parts) > 1 else "")
                return line1, line2
    return addr, None


def split_address_lines_fast(col) -> Column:
    @pandas_udf("line_1 string, line_2 string")
    def _udf(addrs: pd.Series) -> pd.DataFrame:
        out = [_split_address(a) for a in addrs]
        return pd.DataFrame(out, columns=["line_1", "line_2"])

    return _udf(col)
