"""Which package modules the engine's entry points reach.

A static walk of ``import`` statements (function-level imports
included) from the ingest path, the identity path, the query roster,
the spark-submit job, the driver entry point and the benchmark's
workloads. A package module none of them reaches serves neither path;
the ones left are ROADMAP open item 5's leftover analytics operators,
and each deletion shortens the list below.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "dbt_customer360_spark"
ROOTS = [
    PKG / "streaming" / "apply.py",
    PKG / "pipeline.py",
    PKG / "plans" / "queries.py",
    REPO / "jobs" / "cdc_replay_job.py",
    REPO / "__spark_entry__.py",
    REPO / "perfbench" / "workloads.py",
]
UNREACHED = {
    f"dbt_customer360_spark.operators.{m}"
    for m in ("profile", "textstats", "chunking", "asof", "rangejoin", "scd2")
}


def _resolve(name: str, here: Path) -> set[Path]:
    """The files that importing dotted ``name`` runs: every package
    ``__init__.py`` on the way and the module itself, under the repo
    root or, for a script's sibling import, next to ``here``."""
    parts = name.split(".")
    found = set()
    for base in (REPO, here.parent):
        for i in range(1, len(parts) + 1):
            stem = base.joinpath(*parts[:i])
            found |= {f for f in (stem.with_suffix(".py"), stem / "__init__.py") if f.is_file()}
    return found


def _imports(path: Path) -> set[Path]:
    """Repo files that ``path``'s import statements run, at any depth."""
    out = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            # ``from pkg import mod`` imports a submodule when one exists;
            # the repo has no relative imports
            names = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            out |= _resolve(name, path)
    return out


def _module(path: Path) -> str:
    rel = path.relative_to(REPO).with_suffix("")
    return ".".join(rel.parts[:-1] if rel.name == "__init__" else rel.parts)


def test_only_the_leftover_analytics_modules_are_unreached():
    reached, todo = set(), list(ROOTS)
    while todo:
        path = todo.pop()
        if path not in reached:
            reached.add(path)
            todo.extend(_imports(path))
    unreached = {_module(p) for p in PKG.rglob("*.py") if p not in reached}
    assert unreached == UNREACHED
