"""Scalar normalizer library.

The reference implements the five macro normalizers (name titles,
name suffixes, org suffixes, street suffixes, address-line split) as
Jinja macros that expand into giant SQL CASE chains at compile time
(the reference's macros/*.sql). This module holds their word lists
and, for each, ONE reference implementation: a ``*_sql`` builder that
renders the same first-match-wins CASE chain as ANSI SQL over a
column name. DuckDB oracles render it (so an oracle is generated from
the SAME word lists and can never drift), and tests evaluate it in
Spark with ``F.expr`` to check the Arrow fast paths
(:mod:`functions.fast`), which are what the pipeline runs. The small
scalar helpers (``empty_to_null``, ``surrogate_key``, ...) are native
Column builders.

Faithfulness notes (quirks preserved deliberately):

- ``name_titles`` strips a title only when followed by >= 2 further
  words (LIKE 'Title % %'), and the strip is a *global* REPLACE of
  the 'Title ' token (macros/name_titles.sql:118-133).
- ``name_suffixes`` replaces in three case variants, matching
  macros/name_suffixes.sql:21-37.
- ``org_suffixes`` checks 5 punctuation contexts per suffix
  (macros/org_suffixes.sql:52-75).
- ``street_suffixes`` uses the *collapsed* 215-entry map: the
  reference's Jinja dict literal has 511 pairs but duplicate keys
  collapse so only the last abbreviation per long name survives
  (macros/street_suffixes.sql:3-36) — replicated exactly from the
  rendered-SQL behavior, stored as seeds/street_suffixes.json.
- ``split_address_lines`` splits on ', '/',' first, then before any
  of 29 secondary-unit designators (macros/split_address_lines.sql).

Deliberate semantic FIXES (documented deviations, round-2 advice):

- ``split_address_lines``: the reference macro's Jinja ternary renders
  the match pattern '% ' for every needs_num=False designator (the
  '{{ " %" if ... }}' lands on the wrong branch), so 'Basement',
  'Lobby', etc. effectively never match, and the reference splits on
  whichever case variant (as-written/lower/UPPER) matched. We match
  '% <unit lowercase>' against lower(address) and split on the
  canonical token — the macro's evident intent. The oracle twins are
  generated from THIS semantics (self-consistent, and flagged here as
  a deviation from the rendered reference SQL).
- ``org_suffixes`` suffix TAG: the reference macro compares
  lower(org) LIKE '% Agency' with the suffix NOT lowercased, so its
  _suffix tag can never fire (always NULL). We lowercase the pattern
  so the tag actually reports the stripped suffix; the *strip* itself
  is bug-for-bug identical. Set the tag aside if byte-parity with the
  reference's always-NULL column is required.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column
from pyspark.sql import functions as F

_HERE = os.path.dirname(__file__)
_SEEDS = os.path.join(_HERE, "..", "seeds")

# --- word lists (data, transcribed from the reference macros) ----------------

# macros/name_titles.sql:3-116 (113 honorifics)
NAME_TITLES: list[str] = [
    "Mr", "Mrs", "Master", "Mister", "Miss", "Ms", "Mx", "Dr", "Doctor",
    "Admiral", "Air Comm", "Ambassador", "Baron", "Baroness", "Brig Gen",
    "Brig. Gen", "Brigadier", "Brother", "Canon", "Capt", "Chief", "Cllr",
    "Col", "Commander", "Consul", "Consul General", "Count", "Countess",
    "Countess of", "Cpl", "Dame", "Deputy", "Drs", "Duchess", "Duke", "Earl",
    "Father", "General", "Gräfin", "HE", "HMA", "Her Grace", "His Excellency",
    "Ing", "Judge", "Justice", "Lady", "Lic", "Llc", "Lord", "Lord & Lady",
    "Lt", "Lt Col", "Lt Cpl", "Lt. Col", "Lt. Cpl", "M", "Madam", "Madame",
    "Major", "Major General", "Marchioness", "Marquis", "Minister", "Mme",
    "Prince", "Princess", "Professor", "Prof", "Prof Dame", "Prof Dr",
    "Prof. Dame", "Prof. Dr", "Pvt", "Rabbi", "Rear Admiral", "Rev",
    "Rev Canon", "Rev Dr", "Rev. Canon", "Rev. Dr", "Senator", "Sgt",
    "Sheriff", "Sir", "Sister", "Sqr Leader", "Sqr. Leader", "The Earl of",
    "The Hon", "The Hon Dr", "The Hon Lady", "The Hon Lord", "The Hon Mrs",
    "The Hon Sir", "The Hon. Dr", "The Hon. Lady", "The Hon. Lord",
    "The Hon. Mrs", "The Hon. Sir", "The Honourable", "The Rt Hon",
    "The Rt Hon Dr", "The Rt Hon Lord", "The Rt Hon Sir", "The Rt Hon Visc",
    "The Rt. Hon", "The Rt. Hon. Dr", "The Rt. Hon. Lord", "The Rt. Hon. Sir",
    "The Rt. Hon. Visc", "Viscount",
]

# macros/name_suffixes.sql:3-20 (16 generational/professional suffixes)
NAME_SUFFIXES: list[str] = [
    "Jr", "Junior", "Sr", "Senior", "i", "ii", "iii", "iv", "v", "vi", "vii",
    "viii", "ix", "x", "esq", "esquire",
]

# macros/org_suffixes.sql:3-49 (46 org suffixes; 'And' included — quirk)
ORG_SUFFIXES: list[str] = [
    "Agency", "And", "Assn", "Assoc", "Associates", "Association", "Bank",
    "Bv", "Co", "Comp", "Org", "Corp", "Corporation", "Dmd", "Enterprises",
    "Gmbh", "Group", "Hotel", "Hotels", "Inc", "Incorporated",
    "International", "Intl", "Limited", "Llc", "Llp", "Lp", "Ltd",
    "Manufacturing", "Mfg", "Pa", "Pc", "Pharmacy", "Plc", "Pllc",
    "Restaurant", "Sa", "Sales", "Service", "Services", "Store", "Svcs",
    "Travel", "Unlimited", "Ultd", "Unltd",
]

# macros/split_address_lines.sql:4-31 — designator -> needs unit number
SECONDARY_UNITS: dict[str, bool] = {
    "Apartment": True, "APT": True, "Basement": False, "BSMT": False,
    "Building": True, "BLDG": True, "Department": True, "DEPT": True,
    "Floor": True, "FL": True, "Front": False, "FRNT": False,
    "Hanger": True, "HNGR": True, "Key": True, "Lobby": False,
    "LBBY": False, "Lot": True, "Lower": False, "LOWR": False,
    "Office": False, "OFC": False, "Penthouse": False, "PH": False,
    "Pier": True, "Rear": False, "Room": True, "RM": True, "Side": False,
    "Slip": True, "Space": True, "SPC": True, "Stop": True, "Suite": True,
    "STE": True, "Trailer": True, "TRLR": True, "Unit": True,
    "Upper": False, "UPPR": False, "#": True,
}

with open(os.path.join(_SEEDS, "street_suffixes.json")) as _f:
    # long name -> surviving abbreviation (215 effective of 511 literal pairs)
    STREET_SUFFIX_MAP: dict[str, str] = json.load(_f)

# --- small helpers ------------------------------------------------------------


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def empty_to_null(c: Column | str) -> Column:
    """'' -> NULL (reference P2, int_customer360__stripe.sql:481-533)."""
    c = _col(c)
    return F.when(c == "", F.lit(None)).otherwise(c)


def null_sentinel(c: Column | str, source: str) -> Column:
    """NULL -> 'null_<source>' so cross-source NULL keys never equi-join
    (prep models, e.g. int_customer360__marketo_for_matching.sql:79-98)."""
    return F.coalesce(_col(c), F.lit(f"null_{source}"))


def sentinel_decode(c: Column | str, source: str) -> Column:
    """Inverse of :func:`null_sentinel` (source_matches.sql:48-49)."""
    c = _col(c)
    return F.when(c == f"null_{source}", F.lit(None)).otherwise(c)


def safe_divide(num: Column, den: Column) -> Column:
    """NULL on zero denominator (dbt_utils.safe_divide)."""
    return F.when(den != 0, num / den)


def levenshtein_similarity(a: Column | str, b: Column | str) -> Column:
    """1 - editdistance/greatest(len,len) (macros/levenshtein_distance.sql:27-30)."""
    a, b = _col(a), _col(b)
    return F.lit(1.0) - F.levenshtein(a, b) / F.greatest(F.length(a), F.length(b))


def levenshtein_similarity_sql(a: str, b: str) -> str:
    return f"1.0 - levenshtein({a}, {b}) / greatest(length({a}), length({b}))"


def surrogate_key(*cols: Column | str) -> Column:
    """dbt_utils.generate_surrogate_key: md5 of '-'-joined coalesced string
    casts with the literal '_dbt_utils_surrogate_key_null_' for NULLs
    (used at customer360__mapping.sql:107, 205)."""
    parts = [
        F.coalesce(_col(c).cast("string"), F.lit("_dbt_utils_surrogate_key_null_"))
        for c in cols
    ]
    return F.md5(F.concat_ws("-", *parts))


def surrogate_key_sql(*cols: str) -> str:
    parts = ", ".join(
        f"coalesce(cast({c} as varchar), '_dbt_utils_surrogate_key_null_')" for c in cols
    )
    return f"md5(concat_ws('-', {parts}))"


# --- name titles ---------------------------------------------------------------


def name_titles_sql(c: str) -> tuple[str, str]:
    """Strip honorifics: (no_title, title) CASE expressions over ``c``.

    macros/name_titles.sql:118-133: first matching title in list order
    wins; matches ``'T % %'`` / ``'T. % %'``; strip is a global replace
    of ``'T '`` / ``'T. '``.
    """
    strip_whens, tag_whens = [], []
    for t in NAME_TITLES:
        q = _sql_quote
        strip_whens.append(
            f"when {c} like {q(t + ' % %')} then replace({c}, {q(t + ' ')}, '')\n"
            f"when {c} like {q(t + '. % %')} then replace({c}, {q(t + '. ')}, '')"
        )
        tag_whens.append(
            f"when {c} like {q(t + ' % %')} or {c} like {q(t + '. % %')} then {q(t)}"
        )
    return (
        "case " + " ".join(strip_whens) + f" else {c} end",
        "case " + " ".join(tag_whens) + " else null end",
    )


# --- name suffixes --------------------------------------------------------------


def name_suffixes_sql(c: str) -> tuple[str, str]:
    """Strip generational suffixes: (no_suffix, suffix).

    macros/name_suffixes.sql:21-37: match '% % suf' (lowercased) or
    '% %, suf'/'% %,suf'; replacement removes the suffix token in
    as-written, lower, and UPPER variants.
    """
    q = _sql_quote
    strip_whens, tag_whens = [], []
    for s in NAME_SUFFIXES:
        sl, su = s.lower(), s.upper()
        strip_whens.append(
            f"when lower({c}) like {q('% % ' + sl)} then "
            f"replace(replace(replace({c}, {q(' ' + s)}, ''), {q(' ' + sl)}, ''), {q(' ' + su)}, '')\n"
            f"when lower({c}) like {q('% %, ' + sl)} or {c} like {q('% %,' + s)} "
            f"then replace({c}, {q(',' + s)}, '')"
        )
        tag_whens.append(
            f"when lower({c}) like {q('% % ' + sl)} or lower({c}) like {q('% %,' + sl)} then {q(s)}"
        )
    return (
        "case " + " ".join(strip_whens) + f" else {c} end",
        "case " + " ".join(tag_whens) + " else null end",
    )


# --- org suffixes ---------------------------------------------------------------

_ORG_CONTEXTS = [(" ", ""), ("_", ""), (" ", "."), (",", ""), (", ", "")]


def org_suffixes_sql(c: str) -> tuple[str, str]:
    """Strip org suffixes in 5 punctuation contexts
    (macros/org_suffixes.sql:52-75): ' suf', '_suf', ' suf.', ',suf',
    ', suf'; returns (no_suffix, suffix).
    """
    q = _sql_quote
    strip_whens, tag_whens = [], []
    for s in ORG_SUFFIXES:
        sl, su = s.lower(), s.upper()
        whens, conds = [], []
        for pre, post in _ORG_CONTEXTS:
            pat = q(f"%{pre}{sl}{post}")
            rep = (
                f"replace(replace(replace({c}, {q(pre + s + post)}, ''), "
                f"{q(pre + su + post)}, ''), {q(pre + sl + post)}, '')"
            )
            whens.append(f"when lower({c}) like {pat} then {rep}")
            conds.append(f"lower({c}) like {pat}")
        strip_whens.append("\n".join(whens))
        tag_whens.append(f"when {' or '.join(conds)} then {q(s)}")
    return (
        "case " + " ".join(strip_whens) + f" else {c} end",
        "case " + " ".join(tag_whens) + " else null end",
    )


# --- street suffixes -------------------------------------------------------------


def street_suffixes_sql(c: str) -> str:
    """Expand street abbreviations to long form ('St' -> 'Street').

    macros/street_suffixes.sql:518-526 over the COLLAPSED 215-entry
    map: match '% % abbr' / '% % abbr %' / '% % abbr,%' (lowercased),
    then global-replace abbr in as-written/lower/UPPER variants.
    First dict entry wins (insertion order preserved).
    """
    q = _sql_quote
    whens = []
    for long, abbr in STREET_SUFFIX_MAP.items():
        al, au = abbr.lower(), abbr.upper()
        cond = (
            f"lower({c}) like {q('% % ' + al)} or lower({c}) like {q('% % ' + al + ' %')} "
            f"or lower({c}) like {q('% % ' + al + ',%')}"
        )
        rep = (
            f"replace(replace(replace({c}, {q(abbr)}, {q(long)}), {q(al)}, {q(long)}), "
            f"{q(au)}, {q(long)})"
        )
        whens.append(f"when {cond} then {rep}")
    return "case " + " ".join(whens) + f" else {c} end"


# --- address line split -----------------------------------------------------------


def split_address_lines_sql(c: str) -> tuple[str, str]:
    """Split an address into (line_1, line_2).

    macros/split_address_lines.sql: split on ', ' / ',' first, else
    before the first secondary-unit designator in dict order, its
    plain form checked before its '.'-suffixed one (case-insensitive
    match, split on the as-written token); line_2 is prefixed with the
    canonical designator.
    """
    q = _sql_quote
    w1 = [
        f"when {c} like '%, %' then split_part({c}, ', ', 1)",
        f"when {c} like '%,%' then split_part({c}, ',', 1)",
    ]
    w2 = [
        f"when {c} like '%, %' then split_part({c}, ', ', 2)",
        f"when {c} like '%,%' then split_part({c}, ',', 2)",
    ]
    for unit, needs_num in SECONDARY_UNITS.items():
        for dotted in (False, True):  # plain variant checked before dotted
            tok = f"{unit}." if dotted else unit
            pat = q(f"% {tok.lower()} %" if needs_num else f"% {tok.lower()}")
            w1.append(f"when lower({c}) like {pat} then split_part({c}, {q(tok)}, 1)")
            w2.append(
                f"when lower({c}) like {pat} then {q(unit)} || split_part({c}, {q(tok)}, 2)"
            )
    return (
        "case " + " ".join(w1) + f" else {c} end",
        "case " + " ".join(w2) + " else null end",
    )
