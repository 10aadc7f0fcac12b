"""Incremental view maintenance: a grouped-aggregate table kept in
sync with a source LakeTable by folding its CDC changelog — never
rescanning the source.

The reference rebuilds every summary model from scratch each run
(models/customer360__*.sql are full ``group by`` selects over the
whole mapped history); at 100 TB a downstream rollup that re-reads the
world per refresh IS the bottleneck. Here the rollup folds the span's
changed-bucket (old, new) sides (:meth:`LakeTable.changelog_sides`)
directly: new-side rows contribute +1-weighted, old-side rows
-1-weighted, ONE aggregation reduces the span to per-group deltas —
O(|changed buckets|), not O(|source|), and WITHOUT the row-level
changelog's full-outer key join (rows common to both sides cancel
exactly inside the aggregation) — and
:meth:`LakeTable.merge_additive` folds them into the stored totals,
deleting groups whose live row count hits zero.

Only aggregates forming an abelian group under row retraction are
self-maintainable this way: ``count(*)``, ``count(col)``, ``sum(col)``
— and anything derivable from them at read time (``avg`` =
sum/count, emitted by :meth:`read`). ``min``/``max`` are NOT (a
deleted minimum needs the source re-scanned for the affected groups),
so requesting them raises rather than silently drifting.

Exactly-once end to end, at-least-once in the middle: ``refresh()``
polls the changelog, applies the delta under a deterministic batch id
``ivm:<from>-<to>``, and only then commits the cursor. A crash between
the two re-delivers the span; the rollup's batch ledger makes the
re-apply a no-op. ``sum`` over float/double inputs is refused: the
+v/-v cancellation is reordered arithmetic, so untouched groups of a
rewritten bucket would surface spurious non-zero deltas. Sum integer or
decimal columns (cast floats to decimal first); the tests pin
bit-equality on longs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from dbt_customer360_spark.lake.table import ChangelogReader, LakeTable

__all__ = ["AggSpec", "IncrementalRollup"]

_LIVE = "__live_rows"


@dataclass(frozen=True)
class AggSpec:
    """One maintained aggregate: ``kind`` in count|count_col|sum.
    ``col`` may be any deterministic SQL expression over the source
    columns (e.g. ``length(content)``) — it is evaluated on the
    changelog rows, so pre/post images contribute the derived value
    the stored row had."""

    out: str
    kind: str
    col: str | None = None

    def __post_init__(self):
        if self.kind not in ("count", "count_col", "sum"):
            raise ValueError(
                f"aggregate {self.kind!r} is not incrementally maintainable "
                "under deletes (only count/count_col/sum form a group); "
                "min/max need a source re-scan of affected groups"
            )
        if self.kind != "count" and not self.col:
            raise ValueError(f"{self.kind} needs a source column")


class IncrementalRollup:
    def __init__(
        self,
        source: LakeTable,
        rollup: LakeTable,
        group_by: list[str],
        aggs: list[AggSpec],
        cursor_path: str,
        row_filter: str | None = None,
    ):
        """``row_filter``: optional SQL predicate — the maintained view
        is ``SELECT group_by, aggs FROM source WHERE row_filter GROUP
        BY group_by``. Applied per change-row image, so an update
        moving a row across the predicate boundary nets out as an
        insert into / retraction from the view (how a merge-on-read
        tombstone flip leaves the live-rows rollup)."""
        names = [a.out for a in aggs]
        if len(set(names)) != len(names) or _LIVE in names:
            raise ValueError(f"duplicate/reserved output names in {names}")
        clash = [a.out for a in aggs if a.out in group_by]
        if clash:
            raise ValueError(f"agg outputs collide with group keys: {clash}")
        self.source = source
        self.rollup = rollup
        self.group_by = group_by
        self.aggs = aggs
        self.row_filter = row_filter
        self.reader = ChangelogReader(source, cursor_path)
        # refused here when the source schema is known, else by refresh
        m = source._read_manifest()
        if m["schema"]:
            self._refuse_float_sums(source._read_paths(m, []))

    def _refuse_float_sums(self, rows: DataFrame) -> None:
        """Raise ValueError for a ``sum`` whose input resolves to
        float/double over ``rows``' schema (analysis only, no job): its
        retraction would not cancel exactly (module docstring)."""
        for a in self.aggs:
            if a.kind != "sum":
                continue
            t = rows.select(F.expr(a.col)).schema[0].dataType
            if isinstance(t, (FloatType, DoubleType)):
                raise ValueError(
                    f"sum aggregate {a.out!r} over {a.col!r} has floating "
                    f"type {t.simpleString()}; incremental float sums drift "
                    "— sum an integer or decimal column instead"
                )

    def _delta(self, old: DataFrame, new: DataFrame) -> DataFrame:
        """Signed per-group deltas straight from the span's (old, new)
        changed-bucket sides: new rows contribute +1-weighted, old rows
        -1-weighted, ONE aggregation nets them out. Because every
        maintained aggregate forms a group under retraction, a row
        common to both sides cancels exactly (+v + -v; long/decimal
        sums are exact, and long wrap-around is mod-2^64 arithmetic,
        which is associative), so the changelog's full-outer key join +
        per-row change classification — previously the refresh's
        dominant shuffle — is unnecessary. Group rows whose every
        contribution nets to zero are dropped before the merge so
        untouched groups in changed buckets don't rewrite rollup
        buckets. The cancellation is exact only for integer/decimal
        sums, which is why float sums are refused up front."""
        if self.row_filter:
            old = old.filter(F.expr(self.row_filter))
            new = new.filter(F.expr(self.row_filter))
        unioned = new.withColumn("__w", F.lit(1)).unionByName(
            old.withColumn("__w", F.lit(-1))
        )
        exprs = [F.sum(F.col("__w")).cast("long").alias(_LIVE)]
        for a in self.aggs:
            if a.kind == "count":
                e = F.sum(F.col("__w")).cast("long")
            elif a.kind == "count_col":
                e = F.sum(
                    F.when(F.expr(a.col).isNotNull(), F.col("__w")).otherwise(F.lit(0))
                ).cast("long")
            else:
                e = F.sum(F.expr(a.col) * F.col("__w"))
            exprs.append(e.alias(a.out))
        delta = unioned.groupBy(*self.group_by).agg(*exprs)
        net_zero = F.col(_LIVE) == 0
        for a in self.aggs:
            net_zero = net_zero & (
                F.col(a.out).isNull() | (F.col(a.out) == 0)
            )
        return delta.filter(~net_zero)

    def refresh(self) -> int | None:
        """Fold all source commits since the cursor into the rollup.
        Returns the rollup snapshot id, or None when caught up."""
        frm, to = self.reader.position(), self.source.current_snapshot_id()
        if to <= frm:
            return None
        old, new = self.source.changelog_sides(frm, to)
        self._refuse_float_sums(new)
        sid = self.rollup.merge_additive(
            self._delta(old, new),
            self.group_by,
            liveness_col=_LIVE,
            batch_id=f"ivm:{frm}-{to}",
        )
        self.reader.commit(to)
        return sid

    def read(self, avg: dict[str, tuple[str, str]] | None = None) -> DataFrame:
        """The maintained rollup. ``avg`` adds derived means at read
        time: ``{out: (sum_col, count_col)}`` — one exact double
        division per row, nothing extra maintained."""
        df = self.rollup.read().drop(_LIVE)
        for out, (s, c) in (avg or {}).items():
            df = df.withColumn(
                out,
                F.when(
                    F.col(c) > 0, F.col(s).cast("double") / F.col(c).cast("double")
                ),
            )
        return df
