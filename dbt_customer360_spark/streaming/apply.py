"""CDC applier: LSN-ordered change stream -> lake-table MERGE.

The north_star pipeline (BASELINE.json:6):

    readStream -> foreachBatch(batch_df, epoch_id):
        resolve renamed feed columns (column mapping)
        dedup to max-LSN row per (repo, path)        # row_number window
        reject events at-or-below the table's high-watermark LSN
        salted repartition by (repo, path)           # hot-repo skew
        MERGE INTO repos                             # delete/upsert
        append per-partition lineage rows            # offset range, counts
        record epoch id                              # exactly-once

Exactly-once: foreachBatch is at-least-once; idempotence comes from
(a) the LakeTable batch-id commit log (re-applying a committed
epoch is a no-op) and (b) the per-key max-LSN high-watermark column
stored in the table (stale replays lose the row_number race and are
additionally filtered by lsn > watermark).

Batch mode (``replay_batch``) drives the same ``apply_batch`` over
LSN-range slices — used by tests and the scaling bench so both paths
share one code path.
"""

from __future__ import annotations

import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_customer360_spark.lake.table import LakeTable

KEYS = ["repo", "path"]
LINEAGE_SCHEMA = pa.schema(
    [
        ("epoch", pa.string()),
        ("row_kind", pa.string()),
        ("partition", pa.string()),
        ("rows_applied", pa.int64()),
        ("deletes", pa.int64()),
        ("min_lsn", pa.int64()),
        ("max_lsn", pa.int64()),
        ("snapshot_id", pa.int64()),
    ]
)


def _epoch_stats(is_batch: F.Column) -> list[F.Column]:
    """An epoch's lineage stats as ``merge_lsn(observe=...)``
    aggregates over the merge's write stage: the batch rows' count,
    deletes and LSN range — the pre-merge aggregation's epoch row
    (``n``, ``d``, ``lo``, ``hi``)."""
    lsn = F.when(is_batch, F.col("__max_lsn"))
    return [
        F.count_if(is_batch).alias("n"),
        F.count_if(is_batch & F.col("__deleted")).alias("d"),
        F.min(lsn).alias("lo"),
        F.max(lsn).alias("hi"),
    ]


class CDCApplier:
    def __init__(
        self,
        spark: SparkSession,
        table_root: str,
        lineage_root: str | None = None,
        buckets: int | None = None,
        bucket_cols: list[str] | None = None,
        assume_dense_batches: bool = False,
        hot_key_salt: int | None = None,
        maintenance_every: int | None = None,
        max_files_per_bucket: int = 8,
        keep_snapshots: int = 4,
        lineage_grain: str = "epoch",
        partition_col: str = "source_connector",
        quarantine_root: str | None = None,
        expectations: list[tuple[str, str, str]] | None = None,
        rollup=None,
        rollup_every: int = 1,
        write_mode: str = "cow",
    ):
        """``assume_dense_batches``: declare that every micro-batch
        touches (essentially) every hash bucket — true for high-volume
        streams whose batch key count >> bucket count. It acts only on
        the observed-stats path (see ``apply_batch``): the merge there
        reads every target bucket instead of first finding the touched
        set, which saves that job pair on a multi-bucket copy-on-write
        table (merge_lsn's stray-bucket guard still holds: the declared
        set is the full bucket range). An epoch that runs the pre-merge
        aggregation gets the exact touched set from it for free, so it
        rewrites only the buckets its rows land in, flag or not.

        ``hot_key_salt``: explicit two-phase salted merge (see
        LakeTable.merge_lsn) for streams where one (repo, path)
        dominates whole micro-batches. Its epochs take their stats from
        the pre-merge aggregation: the salted merge's batch rows only
        pass through a map stage, which cannot be observed exactly.

        ``maintenance_every``: run auto-maintenance after every N
        applied (non-skipped) batches — cost-gated compaction
        (``maybe_compact``, a no-op while every bucket holds at most
        ``max_files_per_bucket`` files and its bytes fit its bucket
        count; it splits the repos layout once the table outgrows that
        count) plus snapshot expiry down to
        ``keep_snapshots`` (at least 1, checked here before any table is
        opened), on both the repos and lineage tables.
        Keeps file and snapshot counts bounded over an unbounded
        stream; None (default) leaves maintenance to the operator.
        Tombstones are deliberately KEPT by auto-compaction — a
        tombstone carries the deleted key's __max_lsn so a stale
        replayed update can never resurrect it; dropping them is an
        explicit manual compact(drop_tombstones_col=...) decision.

        ``lineage_grain``: 'epoch' (default) writes one lineage row per
        micro-batch; 'partition' additionally writes one row per source
        partition (``partition_col``, the feed's Kafka-partition analog)
        carrying that partition's offset range / rows / deletes — the
        north_star's per-partition lineage. Epoch grain observes its one
        row on the merge's own write; partition grain needs a grouping,
        so its rows come from the pre-merge aggregation (two more jobs,
        see ``apply_batch``). A partition-grain batch without
        ``partition_col`` raises before any write.

        ``quarantine_root``: dead-letter table for malformed events.
        When set, rows that cannot merge (NULL lsn, NULL merge key,
        unknown op) are appended there with a ``__reason`` + ``epoch``
        instead of poisoning or failing the batch; valid rows proceed.
        Exactly-once: the quarantine append carries its own idempotent
        batch id, so a replayed epoch re-quarantines nothing. The
        violation counts come from the pre-merge aggregation, which
        every epoch then runs; only an epoch that quarantines rows pays
        one more job (the dead-letter append), and a clean batch adds NO
        filter to the merge plan.

        ``expectations``: user data-quality rules evaluated per batch —
        ``(name, sql_predicate, action)`` with action ``'quarantine'``
        (violating rows go to the dead-letter table, valid rows merge —
        requires ``quarantine_root``) or ``'fail'`` (ANY violation
        aborts the epoch BEFORE any write, so a retry after fixing the
        feed is exactly-once clean). The predicate states what must
        HOLD; evaluation is strict — a NULL predicate result counts as
        a violation (ingest gates want missing-data rows caught, unlike
        SQL CHECK's pass-on-NULL). Rules are checked in order after the
        built-in malformed-event rules, and per-rule violation counts
        ride the lineage stats (``violations``) from the pre-merge
        aggregation, which every epoch then runs.

        ``buckets``: the repos table's bucket count at creation. None
        (default) sizes it from the data (LakeTable ``buckets``): the
        first epoch's commit picks the smallest power of two that keeps
        a bucket at or under
        ``spark.sql.adaptive.advisoryPartitionSizeInBytes``. Only
        maintenance grows it later: with ``maintenance_every`` None the
        count stays where the first epoch put it (every later epoch
        rewrites the whole table if that was 1) until an operator calls
        ``table.maybe_compact()``, so a stream that starts small and
        grows should set ``maintenance_every``. An explicit N creates
        the table with N.

        ``bucket_cols``: bucket the repos table on a key-subset prefix
        (e.g. ['repo']) for prefix locality — see LakeTable.bucket_cols;
        the one-shuffle merge and exactly-once semantics are unchanged.

        ``write_mode``: 'cow' (default) rewrites touched buckets per
        epoch (read-optimized); 'mor' appends bucket-aligned delta
        files instead (merge-on-read, LakeTable.merge_lsn(mor=True)) —
        write cost O(batch) regardless of how many buckets the batch
        touches, with reads paying one LWW resolution until
        ``maintenance_every``'s cost-gated compaction folds the deltas
        (delta files count as full compaction debt). The right mode for
        update-heavy feeds whose every epoch touches most buckets."""
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be 'cow' or 'mor': {write_mode!r}")
        if keep_snapshots < 1:
            raise ValueError(f"keep_snapshots must be >= 1: {keep_snapshots!r}")
        if lineage_grain not in ("epoch", "partition"):
            raise ValueError(
                f"lineage_grain must be 'epoch' or 'partition': {lineage_grain!r}"
            )
        self.spark = spark
        self.table = LakeTable(
            spark, table_root, buckets=buckets, bucket_cols=bucket_cols
        )
        self.assume_dense_batches = assume_dense_batches
        self.hot_key_salt = hot_key_salt
        self.lineage = (
            LakeTable(spark, lineage_root, buckets=1) if lineage_root else None
        )
        self.quarantine = (
            LakeTable(spark, quarantine_root, buckets=1) if quarantine_root else None
        )
        self.expectations = list(expectations or [])
        seen_names: set[str] = set()
        for name, _pred, action in self.expectations:
            if action not in ("quarantine", "fail"):
                raise ValueError(
                    f"expectation {name!r}: action must be 'quarantine' or "
                    f"'fail', got {action!r}"
                )
            if action == "quarantine" and self.quarantine is None:
                raise ValueError(
                    f"expectation {name!r} quarantines rows but no "
                    "quarantine_root was configured"
                )
            if name in seen_names:
                raise ValueError(f"duplicate expectation name {name!r}")
            seen_names.add(name)
        self.lineage_grain = lineage_grain
        self.partition_col = partition_col
        self.maintenance_every = maintenance_every
        self.max_files_per_bucket = max_files_per_bucket
        self.keep_snapshots = keep_snapshots
        self._applied_since_maintenance = 0
        # streaming IVM (lake/ivm.py IncrementalRollup): refresh the
        # downstream rollup every N applied epochs, BEFORE the
        # maintenance tick — so the changelog cursor never falls
        # behind snapshot expiry and spans never cross a compaction
        # (which would degrade the diff to a full-table scan)
        self.rollup = rollup
        self.rollup_every = rollup_every
        self._applied_since_rollup = 0
        self.write_mode = write_mode

    def maybe_maintain(self) -> bool:
        """Cost-gated compaction + snapshot expiry on repos (and
        lineage, whose per-epoch appends are the worst file churn).
        Exactly-once survives both: committed batch_ids ride every
        manifest, so expiry never forgets an applied epoch."""
        self.table.maybe_compact(max_files_per_bucket=self.max_files_per_bucket)
        self.table.expire_snapshots(keep_last=self.keep_snapshots)
        if self.lineage is not None:
            self.lineage.maybe_compact(max_files_per_bucket=self.max_files_per_bucket)
            self.lineage.expire_snapshots(keep_last=self.keep_snapshots)
        self._applied_since_maintenance = 0
        return True

    # --- one micro-batch ---------------------------------------------------------

    def apply_batch(self, batch: DataFrame, epoch_id: int | str) -> dict:
        """Apply one micro-batch exactly-once; returns lineage stats.

        Where the lineage stats come from decides the job count (under
        AQE each shuffle's map side runs as its own job, so a shuffle is
        a map job plus a result job), batch replay or foreachBatch alike:
          * observed (default: epoch grain, no ``quarantine_root``, no
            ``expectations``, no ``hot_key_salt``): the merge's own
            write stage observes the batch rows' count, deletes and LSN
            range (``merge_lsn(observe=...)``), so the merge is the
            epoch's only step — 1 job on a one-bucket table (its merge
            coalesces instead of shuffling), 2 on a multi-bucket one
            that is dense or MoR, 4 when a pruned copy-on-write merge
            first finds its touched buckets (one ``distinct`` job pair);
          * aggregated (partition grain, validation or salting — what an
            observation cannot give exactly): ONE aggregation of the
            batch runs first, before any write, column-pruned to the
            merge keys, (lsn, op), ``partition_col`` and the expectation
            inputs — never the content payload. Its grouping sets
            return, together, the per-reason violation counts, the
            touched hash-buckets of the valid rows, and their epoch and
            per-partition (rows, deletes, LSN range): O(buckets +
            partitions x reasons) rows on the driver. 2 jobs, then the
            merge's 1 (one bucket) or 2.
        The merge itself (union touched target + batch, ``max_by``
        reduce, bucketed write) does within-batch dedup, stale-replay
        rejection (high-watermark), and the upsert with one comparator
        (hot-key skew: ``salt`` in LakeTable.merge_lsn). The lineage
        rows are written by pyarrow on the driver after the merge's
        commit — no job. A fail-expectation raises after the
        aggregation, before any write; an epoch that quarantines rows
        adds one job for the dead-letter append, and the rollup refresh
        and maintenance add theirs when they are due. A merge that finds
        the epoch already committed (a concurrent writer won the race)
        observes nothing, and the epoch returns as skipped.

        Deletes become TOMBSTONES (not physical removals): the row keeps
        carrying its __max_lsn watermark so a stale replayed update with
        a lower LSN can never resurrect a deleted key — merge-on-read
        semantics; physical cleanup is compaction's job.
        """
        batch_id = f"epoch-{epoch_id}"
        if batch_id in self.table.committed_batch_ids():
            return {"epoch": str(epoch_id), "skipped": True, "rows_applied": 0}

        batch = self.table.resolve_feed_columns(batch)
        partition_rows = self.lineage is not None and self.lineage_grain == "partition"
        if partition_rows and self.partition_col not in batch.columns:
            raise ValueError(
                f"epoch {epoch_id}: lineage_grain='partition' needs the batch "
                f"column {self.partition_col!r}; nothing written"
            )
        if partition_rows or self.quarantine is not None or self.expectations or self.hot_key_salt:
            batch, touched, per_part, violations = self._aggregate_batch(
                batch, epoch_id, batch_id, partition_rows
            )
            observe = None
        else:
            touched = (
                list(range(self.table.bucket_count())) if self.assume_dense_batches else None
            )
            per_part, violations = [], {}
            observe = (_epoch_stats, per_part.append)
        upserts = (
            batch.withColumn("__deleted", F.col("op") == "delete")
            .withColumn("__max_lsn", F.col("lsn"))
            .drop("op", "lsn")
        )
        sid = self.table.merge_lsn(
            upserts,
            KEYS,
            lsn_col="__max_lsn",
            batch_id=batch_id,
            touched=touched,
            salt=self.hot_key_salt,
            mor=self.write_mode == "mor",
            observe=observe,
        )
        if observe is not None and not per_part:
            # another writer committed this epoch after the check above:
            # merge_lsn wrote nothing, so nothing was observed
            return {"epoch": str(epoch_id), "skipped": True, "rows_applied": 0}
        los = [r["lo"] for r in per_part if r["lo"] is not None]
        his = [r["hi"] for r in per_part if r["hi"] is not None]
        lineage = {
            "epoch": str(epoch_id),
            "skipped": False,
            "rows_applied": sum(r["n"] for r in per_part),
            "quarantined": sum(violations.values()),
            "violations": violations,
            "deletes": sum(r["d"] for r in per_part),
            "min_lsn": min(los, default=None),
            "max_lsn": max(his, default=None),
            "snapshot_id": sid,
            "committed_at": time.time(),
        }
        if self.lineage is not None:
            rows = [
                (
                    "epoch",  # row_kind: the epoch-total row
                    None,
                    lineage["rows_applied"],
                    lineage["deletes"],
                    lineage["min_lsn"],
                    lineage["max_lsn"],
                )
            ]
            if partition_rows:
                # row_kind distinguishes these from the epoch-total row,
                # so a genuinely-NULL partition value stays NULL; a
                # partition whose lsn values are all NULL keeps NULL lo/hi
                rows += [
                    (
                        "partition",
                        str(r["__part"]) if r["__part"] is not None else None,
                        r["n"],
                        r["d"],
                        r["lo"],
                        r["hi"],
                    )
                    for r in per_part
                ]
            # the rows already live on the driver, so pyarrow writes
            # them in-process: no Spark job per epoch
            self.lineage.append(
                pa.Table.from_pylist(
                    [dict(zip(LINEAGE_SCHEMA.names, (str(epoch_id), *r, sid))) for r in rows],
                    schema=LINEAGE_SCHEMA,
                ),
                batch_id=f"lineage-{batch_id}",
            )
        self._applied_since_maintenance += 1
        self._applied_since_rollup += 1
        if self.rollup is not None and self._applied_since_rollup >= self.rollup_every:
            self.rollup.refresh()
            self._applied_since_rollup = 0
        if (
            self.maintenance_every
            and self._applied_since_maintenance >= self.maintenance_every
        ):
            self.maybe_maintain()
        return lineage

    def _aggregate_batch(
        self, batch: DataFrame, epoch_id: int | str, batch_id: str, partition_rows: bool
    ) -> tuple[DataFrame, list[int], list, dict[str, int]]:
        """The pre-merge aggregation (``apply_batch`` step 1): validates
        the batch, quarantines its invalid rows, and returns the valid
        rows, their touched buckets, their per-partition stats rows
        (``n``, ``d``, ``lo``, ``hi``; one row at epoch grain) and the
        per-reason violation counts. Raises before any write when a
        fail-expectation is violated."""
        # ONE reason chain, first match wins: fail-rules outrank
        # drop-rules (a row violating both must abort, not slip into
        # the dead-letter table), built-ins rank between. NULL = valid.
        reason = F.lit(None).cast("string")
        for name, pred, action in self.expectations:
            if action != "fail":
                continue
            reason = F.when(reason.isNotNull(), reason).otherwise(
                F.when(~F.coalesce(F.expr(pred), F.lit(False)), F.lit(name))
            )
        if self.quarantine is not None:
            chain = F.when(F.col("lsn").isNull(), F.lit("null_lsn"))
            for k in KEYS:
                chain = chain.when(F.col(k).isNull(), F.lit(f"null_key_{k}"))
            chain = chain.when(
                F.col("op").isNull() | ~F.col("op").isin("insert", "update", "delete"),
                F.lit("bad_op"),
            )
            for name, pred, action in self.expectations:
                if action != "quarantine":
                    continue
                chain = chain.when(~F.coalesce(F.expr(pred), F.lit(False)), F.lit(name))
            reason = F.when(reason.isNotNull(), reason).otherwise(chain)
        # grouping set (reason, partition) carries the violation counts
        # and the valid rows' stats; grouping set (bucket) the touched
        # buckets (a NULL bucket is the invalid rows'). Epoch grain
        # groups on a constant partition, so the stats are one row.
        part = F.col(self.partition_col) if partition_rows else F.lit(None).cast("string")
        groups = (
            batch.select(
                reason.alias("__reason"),
                part.alias("__part"),
                F.when(reason.isNull(), self.table.bucket_column(KEYS)).alias("__bucket"),
                "lsn",
                F.when(F.col("op") == "delete", 1).otherwise(0).alias("__del"),
            )
            .groupingSets([["__reason", "__part"], ["__bucket"]], "__reason", "__part", "__bucket")
            .agg(
                F.grouping("__bucket").alias("by_part"),
                F.count(F.lit(1)).alias("n"),
                F.sum("__del").alias("d"),
                F.min("lsn").alias("lo"),
                F.max("lsn").alias("hi"),
            )
            .collect()
        )
        by_part = [r for r in groups if r["by_part"]]
        per_part = [r for r in by_part if r["__reason"] is None]
        violations: dict[str, int] = {}
        for r in by_part:
            if r["__reason"] is not None:
                violations[r["__reason"]] = violations.get(r["__reason"], 0) + r["n"]
        fail_names = {n for n, _p, a in self.expectations if a == "fail"}
        failed = {k: v for k, v in violations.items() if k in fail_names}
        if failed:
            raise ValueError(
                f"epoch {epoch_id}: fail-expectation violated, nothing "
                f"written: {failed}"
            )
        n_quarantined = sum(violations.values())
        if n_quarantined:
            flagged = batch.withColumn("__reason", reason)
            self.quarantine.append(
                flagged.filter(F.col("__reason").isNotNull()).withColumn(
                    "epoch", F.lit(str(epoch_id))
                ),
                batch_id=f"quarantine-{batch_id}",
            )
            batch = flagged.filter(F.col("__reason").isNull()).drop("__reason")
        # clean batch: keep the original plan — no residual filter
        touched = [r["__bucket"] for r in groups if r["__bucket"] is not None]
        return batch, touched, per_part, violations

    def quarantined(self) -> DataFrame:
        """Dead-letter rows (original event columns + __reason + epoch)."""
        if self.quarantine is None:
            raise ValueError("CDCApplier was built without quarantine_root")
        return self.quarantine.read()

    def state(self) -> DataFrame:
        """Live table state: tombstones filtered, internal columns hidden."""
        df = self.table.read()
        if "__deleted" in df.columns:
            df = df.filter(~F.coalesce(F.col("__deleted"), F.lit(False)))
        return df.drop("__deleted", "__max_lsn")

    # --- structured streaming ------------------------------------------------------

    def stream(
        self,
        events_path: str,
        checkpoint_dir: str,
        schema: str | None = None,
        max_files_per_trigger: int = 4,
    ):
        """readStream over an event-parquet directory; foreachBatch apply.

        Resumable from ``checkpoint_dir``; restart-safe because
        ``apply_batch`` is idempotent per epoch id.
        """
        reader = self.spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        if schema:
            reader = reader.schema(schema)
        events = reader.parquet(events_path)
        return (
            events.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


def replay_batch(
    applier: CDCApplier, events: DataFrame, n_batches: int = 4
) -> list[dict]:
    """Split an LSN-ordered event set into n contiguous micro-batches and
    apply them in order through the same apply_batch path."""
    bounds = events.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    if lo is None:
        return []
    span = (hi - lo + 1) / n_batches
    out = []
    for i in range(n_batches):
        a = int(lo + i * span)
        b = int(lo + (i + 1) * span) if i < n_batches - 1 else hi + 1
        out.append(
            applier.apply_batch(events.filter((F.col("lsn") >= a) & (F.col("lsn") < b)), i)
        )
    return out
