"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark and its
``oracle_sql()`` twin on DuckDB, compares row count, column names,
and an order-insensitive value hash.

Round-5 rewrite: the driver compares **pandas frames**
(``sdf.toPandas()`` vs ``con.sql(...).df()``), so every pandas dtype
quirk — DuckDB HUGEINT→float64 (r4), list cells crashing the sorter
(r3), float repr width (r2) — must surface HERE, before the driver
sees it.  Both sides are therefore canonicalized through pandas with
*dtype-aware* stringification: an int64 ``49`` and a float64 ``49.0``
hash differently, exactly as the driver renders them.  NaN/None/NaT
all normalize to ``NULL`` (both engines produce a mix depending on
dtype); non-scalar cells (lists/arrays/maps) raise, because the
driver's pandas row-sorter crashes on them.

The full-run results are persisted to ``ORACLES_LOCAL.json`` at the
repo root so each round's local attestation ships alongside
CORRECTNESS_rNN.json.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import os
import sys
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents",
]
ARTIFACT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "ORACLES_LOCAL.json")


def _norm_obj(v):
    """Stringify one cell of an object-dtype column."""
    if v is None or v is pd.NaT or (isinstance(v, float) and np.isnan(v)):
        return "NULL"
    if isinstance(v, (list, tuple, set, dict, np.ndarray, bytes, bytearray)):
        # the driver's pandas canonicalizer CRASHES on array/map cells
        # (unhashable type) — str(v) here green-lit a driver-red row
        # twice; refuse so the roster projection serializes instead
        raise TypeError(
            f"non-scalar cell {type(v).__name__}: roster projections must "
            "serialize arrays/maps (e.g. F.array_join / array_to_string)"
        )
    if isinstance(v, bool) or isinstance(v, np.bool_):
        return str(bool(v)).lower()
    if isinstance(v, decimal.Decimal):
        # a Decimal cell renders with its full scale ("1.500000") while a
        # float64 renders "1.5" — keep them DISTINCT so a query that
        # returns DecimalType on one engine and DOUBLE on the other fails
        # locally (the fix is to cast, not to loosen the gate)
        return "dec:" + str(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (np.floating, float)):
        return repr(float(v))
    return str(v)


def canon_rows(pdf: pd.DataFrame) -> list[str]:
    """Canonicalize a pandas frame to sorted row-strings, dtype-aware.

    Columns are sorted by name (the driver does the same before
    hashing); each column stringifies per its pandas dtype so that
    int64 vs float64 — the r4 HUGEINT artifact — renders differently.
    """
    pdf = pdf[sorted(pdf.columns)]
    cols: list[list[str]] = []
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_bool_dtype(s):
            col = ["NULL" if pd.isna(v) else str(bool(v)).lower() for v in s]
        elif pd.api.types.is_integer_dtype(s):
            col = ["NULL" if pd.isna(v) else str(int(v)) for v in s]
        elif pd.api.types.is_float_dtype(s):
            # full-precision repr — %.9g masked a 1e-6 diff in round 2
            col = ["NULL" if pd.isna(v) else repr(float(v)) for v in s]
        elif pd.api.types.is_datetime64_any_dtype(s):
            col = ["NULL" if pd.isna(v) else pd.Timestamp(v).isoformat() for v in s]
        else:
            col = [_norm_obj(v) for v in s]
        cols.append(col)
    return sorted("|".join(cells) for cells in zip(*cols)) if cols else []


def table_hash(pdf: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for line in canon_rows(pdf):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def compare_frames(spdf: pd.DataFrame, opdf: pd.DataFrame):
    """Compare Spark-side and oracle-side pandas frames.

    Returns None on match, else a short failure string.  This is the
    single compare core — tests/test_gate.py pins that it reproduces
    the r4 driver verdict on the pre-fix rollup oracle.
    """
    if sorted(spdf.columns) != sorted(opdf.columns):
        return f"SCHEMA: spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}"
    if len(spdf) != len(opdf):
        return f"ROWS: spark={len(spdf)} oracle={len(opdf)}"
    try:
        sh, oh = table_hash(spdf), table_hash(opdf)
    except TypeError as e:
        return f"NON-SCALAR CELL (driver gate would crash): {e}"
    if sh != oh:
        srows, orows = set(canon_rows(spdf)), set(canon_rows(opdf))
        sonly = sorted(srows - orows)[:2]
        oonly = sorted(orows - srows)[:2]
        return f"HASH mismatch\n  spark-only: {sonly}\n  oracle-only: {oonly}"
    return None


def main(only: list[str] | None = None):
    from dbt_customer360_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{SF_DIR}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    ok, bad, rows_only = [], [], []
    if len(qs) > 50:
        # the external gate attests only the FIRST 50 registrations;
        # entries 51+ silently get NO verdict (round-3 failure mode)
        extra = list(qs)[50:]
        bad.append(("<roster>", f"{len(qs)} queries registered, cap is 50; dropped: {extra}"))
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spdf = fn(spark, SF_DIR).toPandas()
        except Exception:
            bad.append((name, "SPARK ERROR:\n" + traceback.format_exc(limit=4)))
            continue
        if name not in oracles:
            rows_only.append((name, len(spdf)))
            continue
        try:
            opdf = con.sql(oracles[name]).df()
        except Exception:
            bad.append((name, "ORACLE ERROR:\n" + traceback.format_exc(limit=2)))
            continue
        err = compare_frames(spdf, opdf)
        if err:
            bad.append((name, err))
        else:
            ok.append((name, len(spdf)))

    print("\n== OK ==")
    for n, c in ok:
        print(f"  {n}: {c} rows")
    print("== ROWS-ONLY ==")
    for n, c in rows_only:
        print(f"  {n}: {c} rows")
    print("== FAIL ==")
    for n, msg in bad:
        print(f"  {n}: {msg}")
    print(f"\n{len(ok)} ok, {len(rows_only)} rows-only, {len(bad)} fail")

    if not only:  # persist full-run attestation
        art = {
            "sf_dir": SF_DIR,
            "comparator": "pandas-dtype-canonical (round 5)",
            "results": {
                **{n: {"status": "ok", "rows": c} for n, c in ok},
                **{n: {"status": "rows_only", "rows": c} for n, c in rows_only},
                **{n: {"status": "fail", "detail": m.splitlines()[0]} for n, m in bad},
            },
        }
        with open(ARTIFACT, "w") as f:
            json.dump(art, f, indent=1, sort_keys=True)
        print(f"wrote {ARTIFACT}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
