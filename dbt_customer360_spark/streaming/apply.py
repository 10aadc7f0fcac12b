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
from pyspark.sql import DataFrame, Observation, SparkSession
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


class CDCApplier:
    def __init__(
        self,
        spark: SparkSession,
        table_root: str,
        lineage_root: str | None = None,
        buckets: int = 16,
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
        streams whose batch key count >> bucket count. Skips the
        per-batch touched-bucket discovery scan; the merge then reads
        every target bucket, which it would have done anyway for a
        dense batch (merge_lsn's stray-bucket guard still holds: the
        declared set is the full bucket range). Leave False for sparse/
        trickle streams where bucket pruning pays.

        ``hot_key_salt``: explicit two-phase salted merge (see
        LakeTable.merge_lsn) for streams where one (repo, path)
        dominates whole micro-batches.

        ``maintenance_every``: run auto-maintenance after every N
        applied (non-skipped) batches — cost-gated compaction
        (``maybe_compact``, a no-op while every bucket holds at most
        ``max_files_per_bucket`` files) plus snapshot expiry down to
        ``keep_snapshots``, on both the repos and lineage tables.
        Keeps file and snapshot counts bounded over an unbounded
        stream; None (default) leaves maintenance to the operator.
        Tombstones are deliberately KEPT by auto-compaction — a
        tombstone carries the deleted key's __max_lsn so a stale
        replayed update can never resurrect it; dropping them is an
        explicit manual compact(drop_tombstones_col=...) decision.

        ``lineage_grain``: 'epoch' (default) writes one lineage row per
        micro-batch with global stats riding the merge Observation;
        'partition' additionally writes one row per source partition
        (``partition_col``, the feed's Kafka-partition analog) carrying
        that partition's offset range / rows / deletes — the north_star's
        per-partition lineage. Partition grain costs one extra
        column-pruned aggregation job over the batch (Observations are
        global-only); epochs stay the default for throughput.

        ``quarantine_root``: dead-letter table for malformed events.
        When set, rows that cannot merge (NULL lsn, NULL merge key,
        unknown op) are appended there with a ``__reason`` + ``epoch``
        instead of poisoning or failing the batch; valid rows proceed.
        Exactly-once: the quarantine append carries its own idempotent
        batch id, so a replayed epoch re-quarantines nothing. Cost: one
        extra column-pruned validation job per batch (keys/lsn/op only,
        never content); a clean batch adds NO filter to the merge plan,
        and None (default) skips validation entirely.

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
        ride the lineage stats (``violations``) from the same single
        validation job the quarantine path already pays for.

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

    def apply_batch(
        self, batch: DataFrame, epoch_id: int | str, use_observation: bool = True
    ) -> dict:
        """Apply one micro-batch exactly-once; returns lineage stats.

        Four Spark jobs per pruned batch, none a full-width re-scan —
        under AQE every shuffle's map side runs as its own job, so each
        of the two steps below is a map job plus a result job:
          1. distinct touched hash-buckets (inside ``merge_lsn``): the
             scan is column-pruned to the merge KEYS + (lsn, op) for the
             riding observation — never the content payload. Skipped
             under ``assume_dense_batches`` and ``write_mode='mor'``,
             which leaves two jobs per batch;
          2. the LSN merge itself (union touched target + batch,
             ``max_by`` reduce, bucketed write) — within-batch dedup,
             stale-replay rejection (high-watermark), and the upsert are
             all one comparator; map-side partial aggregation absorbs
             hot-key skew (see LakeTable.merge_lsn).
        Lineage stats (row counts, LSN range, deletes) ride the merge
        job itself via ``Observation``, and the lineage rows are written
        by pyarrow on the driver — no job. Options add jobs: the
        explicit stats aggregation below (two), validation for
        quarantine/expectations (two, plus one quarantine append when
        rows are rejected), per-partition lineage on the batch path
        (two), and the rollup refresh and maintenance when they are due.

        ``use_observation=False`` computes those stats with an explicit
        column-pruned (lsn, op) aggregation job instead. The streaming
        path REQUIRES this: ``Observation.get`` completes via a
        QueryExecutionListener event, and listener events for actions
        run inside a foreachBatch callback are not reliably delivered
        (micro-batch executions are tagged streaming) — observed hang:
        ``obs.get`` blocks forever mid-stream. Batch replay keeps the
        free Observation.

        Deletes become TOMBSTONES (not physical removals): the row keeps
        carrying its __max_lsn watermark so a stale replayed update with
        a lower LSN can never resurrect a deleted key — merge-on-read
        semantics; physical cleanup is compaction's job.
        """
        batch_id = f"epoch-{epoch_id}"
        if batch_id in self.table.committed_batch_ids():
            return {"epoch": str(epoch_id), "skipped": True, "rows_applied": 0}

        batch = self.table.resolve_feed_columns(batch)
        n_quarantined = 0
        violations: dict[str, int] = {}
        fail_names = {n for n, _p, a in self.expectations if a == "fail"}
        if self.quarantine is not None or fail_names:
            # ONE reason chain, first match wins: fail-rules outrank
            # drop-rules (a row violating both must abort, not slip
            # into the dead-letter table), built-ins rank between.
            reason = F.lit(None).cast("string")
            for name, pred, action in self.expectations:
                if action != "fail":
                    continue
                reason = F.when(
                    reason.isNotNull(), reason
                ).otherwise(
                    F.when(~F.coalesce(F.expr(pred), F.lit(False)), F.lit(name))
                )
            if self.quarantine is not None:
                chain = F.when(F.col("lsn").isNull(), F.lit("null_lsn"))
                for k in KEYS:
                    chain = chain.when(F.col(k).isNull(), F.lit(f"null_key_{k}"))
                chain = chain.when(
                    F.col("op").isNull()
                    | ~F.col("op").isin("insert", "update", "delete"),
                    F.lit("bad_op"),
                )
                for name, pred, action in self.expectations:
                    if action != "quarantine":
                        continue
                    chain = chain.when(
                        ~F.coalesce(F.expr(pred), F.lit(False)), F.lit(name)
                    )
                reason = F.when(reason.isNotNull(), reason).otherwise(chain)
            flagged = batch.withColumn("__reason", reason)
            bad = flagged.filter(F.col("__reason").isNotNull())
            # one validation job: per-reason counts (column-pruned to
            # keys/lsn/op + expectation inputs)
            violations = {
                r["__reason"]: r["n"]
                for r in bad.groupBy("__reason").agg(F.count(F.lit(1)).alias("n")).collect()
            }
            failed = {k: v for k, v in violations.items() if k in fail_names}
            if failed:
                raise ValueError(
                    f"epoch {epoch_id}: fail-expectation violated, nothing "
                    f"written: {failed}"
                )
            n_quarantined = sum(violations.values())
            if n_quarantined:
                self.quarantine.append(
                    bad.withColumn("epoch", F.lit(str(epoch_id))),
                    batch_id=f"quarantine-{batch_id}",
                )
                batch = flagged.filter(F.col("__reason").isNull()).drop("__reason")
            # clean batch: keep the original plan — no residual filter
        stat_aggs = [
            F.count(F.lit(1)).alias("rows_applied"),
            F.min("lsn").alias("min_lsn"),
            F.max("lsn").alias("max_lsn"),
            F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("deletes"),
        ]
        if use_observation:
            obs = Observation(f"cdc-{batch_id}")
            observed = batch.observe(obs, *stat_aggs)
        else:
            obs = None
            observed = batch
        upserts = (
            observed.withColumn("__deleted", F.col("op") == "delete")
            .withColumn("__max_lsn", F.col("lsn"))
            .drop("op", "lsn")
        )
        mor = self.write_mode == "mor"
        sid = self.table.merge_lsn(
            upserts,
            KEYS,
            lsn_col="__max_lsn",
            batch_id=batch_id,
            touched=None
            if mor
            else (
                list(range(self.table.bucket_count()))
                if self.assume_dense_batches
                else None
            ),
            salt=self.hot_key_salt,
            mor=mor,
        )
        want_partition_rows = (
            self.lineage is not None
            and self.lineage_grain == "partition"
            and self.partition_col in batch.columns
        )
        per_part = None
        if obs is not None:
            stats = obs.get  # blocks until the merge's first action finishes
        else:
            if want_partition_rows:
                # ONE rollup job yields the per-partition rows AND the
                # grand total (grouping()==1 distinguishes the total row
                # from a genuine NULL-partition group) — instead of a
                # stats agg plus a separate per-partition agg per batch
                rolled = (
                    batch.rollup(self.partition_col)
                    .agg(
                        F.grouping(self.partition_col).alias("gid"),
                        F.count(F.lit(1)).alias("n"),
                        F.sum(
                            F.when(F.col("op") == "delete", 1).otherwise(0)
                        ).alias("d"),
                        F.min("lsn").alias("lo"),
                        F.max("lsn").alias("hi"),
                    )
                    .collect()
                )
                total = next(r for r in rolled if r["gid"] == 1)
                per_part = [r for r in rolled if r["gid"] == 0]
                stats = {
                    "rows_applied": total["n"],
                    "deletes": total["d"],
                    "min_lsn": total["lo"],
                    "max_lsn": total["hi"],
                }
            else:
                stats = batch.select("lsn", "op").agg(*stat_aggs).first().asDict()

        lineage = {
            "epoch": str(epoch_id),
            "skipped": False,
            "rows_applied": stats["rows_applied"] or 0,
            "quarantined": n_quarantined,
            "violations": violations,
            "deletes": stats["deletes"] or 0,
            "min_lsn": stats["min_lsn"],
            "max_lsn": stats["max_lsn"],
            "snapshot_id": sid,
            "committed_at": time.time(),
        }
        if self.lineage is not None:
            rows = [
                (
                    str(epoch_id),
                    "epoch",  # row_kind: the epoch-total row
                    None,
                    int(lineage["rows_applied"]),
                    int(lineage["deletes"]),
                    int(lineage["min_lsn"]) if lineage["min_lsn"] is not None else None,
                    int(lineage["max_lsn"]) if lineage["max_lsn"] is not None else None,
                    int(sid),
                )
            ]
            if want_partition_rows:
                if per_part is None:
                    # batch path: the epoch totals rode the merge via
                    # Observation (free), so per-partition offset ranges
                    # are the ONE extra aggregation job — column-pruned
                    # to (partition_col, lsn, op), never the content
                    # payload. (The streaming path already collected
                    # them in the single rollup job above.)
                    per_part = (
                        batch.groupBy(self.partition_col)
                        .agg(
                            F.count(F.lit(1)).alias("n"),
                            F.sum(
                                F.when(F.col("op") == "delete", 1).otherwise(0)
                            ).alias("d"),
                            F.min("lsn").alias("lo"),
                            F.max("lsn").alias("hi"),
                        )
                        .collect()
                    )
                rows += [
                    (
                        str(epoch_id),
                        # row_kind distinguishes these from the epoch-total
                        # row, so a genuinely-NULL partition value stays
                        # NULL (the r4 '__null_partition__' sentinel could
                        # collide with a real partition of that name)
                        "partition",
                        str(r[0]) if r[0] is not None else None,
                        int(r["n"]),
                        int(r["d"]),
                        # a partition whose lsn values are all NULL yields
                        # NULL lo/hi — mirror the epoch-total row's guards
                        int(r["lo"]) if r["lo"] is not None else None,
                        int(r["hi"]) if r["hi"] is not None else None,
                        int(sid),
                    )
                    for r in per_part
                ]
            # the rows already live on the driver, so pyarrow writes
            # them in-process: no Spark job per epoch
            self.lineage.append(
                pa.Table.from_pylist(
                    [dict(zip(LINEAGE_SCHEMA.names, r)) for r in rows],
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
            events.writeStream.foreachBatch(
                lambda df, epoch_id: self.apply_batch(
                    df, epoch_id, use_observation=False
                )
            )
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
