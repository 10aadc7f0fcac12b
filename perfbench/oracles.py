"""Independent checks of the CDC outputs against DuckDB.

The reference is a plain last-LSN-wins reduction of the staged event
parquet, computed by DuckDB with no code shared with the engine. Rows
are compared by the sha256 of ``(repo, path, commit, lang, content)``,
the per-row invariant the engine promises (BASELINE.json input_hint).
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter

import duckdb

ROW = ["repo", "path", "commit", "lang", "content"]


def row_hash(values) -> str:
    return hashlib.sha256(json.dumps(list(values)).encode()).hexdigest()


def _events(events_glob: str) -> str:
    return f"read_parquet('{events_glob}', hive_partitioning = false)"


def check_state(events_glob: str, lsn_bound: int, state_rows: list) -> int:
    """Mismatching rows between the engine's live state and the last
    non-delete event per key among events with ``lsn < lsn_bound``
    (multiset symmetric difference of row hashes)."""
    con = duckdb.connect()
    try:
        want = con.execute(
            f"""
            SELECT {", ".join(ROW)}, op FROM {_events(events_glob)}
            WHERE lsn < ?
            QUALIFY row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) = 1
            """,
            [lsn_bound],
        ).fetchall()
    finally:
        con.close()
    expected = Counter(row_hash(r[:5]) for r in want if r[5] != "delete")
    got = Counter(row_hash(r) for r in state_rows)
    return sum((expected - got).values()) + sum((got - expected).values())


def check_gets(events_glob: str, gets: list[dict]) -> list[bool]:
    """For each GET ``{repo, path, bound, rows}`` (rows as returned by
    ``read_point``: ROW + ``__deleted`` + ``__max_lsn``), whether it
    equals the key's last event with ``lsn < bound``: no row for a key
    never written, a tombstone for a deleted key, else the live row."""
    if not gets:
        return []
    import pandas as pd

    probe = pd.DataFrame(
        [(i, g["repo"], g["path"], g["bound"]) for i, g in enumerate(gets)],
        columns=["gid", "repo", "path", "bound"],
    )
    con = duckdb.connect()
    try:
        con.register("probe", probe)
        want = {
            r[0]: r[1:]
            for r in con.execute(
                f"""
                SELECT p.gid, {", ".join("e." + c for c in ROW)}, e.op, e.lsn
                FROM probe p JOIN {_events(events_glob)} e
                  ON e.repo = p.repo AND e.path = p.path AND e.lsn < p.bound
                QUALIFY row_number() OVER (PARTITION BY p.gid ORDER BY e.lsn DESC) = 1
                """
            ).fetchall()
        }
    finally:
        con.close()
    ok = []
    for i, g in enumerate(gets):
        w, rows = want.get(i), g["rows"]
        if w is None:
            ok.append(not rows)
            continue
        if len(rows) != 1:
            ok.append(False)
            continue
        r = rows[0]
        ok.append(
            row_hash(r[:5]) == row_hash(w[:5])
            and bool(r[5]) == (w[5] == "delete")
            and r[6] == w[6]
        )
    return ok
