"""spark-submit entry point for the CDC replay engine (north_rule).

Cluster usage:

    zip -r engine.zip dbt_customer360_spark
    spark-submit --py-files engine.zip jobs/cdc_replay_job.py \
        --events /path/to/event_parquet_dir \
        --table  /lake/repos --lineage /lake/lineage \
        --checkpoint /chk/cdc --mode stream

Sandbox smoke (generated events, batch mode):

    python jobs/cdc_replay_job.py --generate 100000 --table /tmp/lake/repos

Modes:
- ``stream``: Structured Streaming over the event directory with
  availableNow + checkpoint (resumable, exactly-once).
- ``batch``: LSN-range micro-batches through the same apply path.

Memory: pass ``--driver-memory`` / ``--executor-memory`` on the
spark-submit command line. The session factory's
``spark.driver.memory`` config is applied only when plain ``python``
launches the JVM; under spark-submit the JVM is already up, the
setting is silently ignored, and the job runs on the 1g default
(observed failure mode: heap OOM surfacing as task aborts and
phantom missing shuffle temp files).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# when run as a plain script (not via --py-files), resolve the package
# from the repo root next to jobs/
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", help="event parquet directory")
    ap.add_argument("--generate", type=int, default=0, help="generate N synthetic events instead")
    ap.add_argument("--table", required=True, help="repos lake-table root")
    ap.add_argument("--lineage", default=None, help="lineage lake-table root")
    ap.add_argument(
        "--quarantine",
        default=None,
        help="dead-letter lake-table root: malformed events (NULL lsn/key, "
        "unknown op) are appended there with a reason instead of failing "
        "the batch",
    )
    ap.add_argument("--checkpoint", default=None, help="streaming checkpoint dir")
    ap.add_argument("--mode", choices=["batch", "stream"], default="batch")
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument(
        "--buckets", type=int, default=None,
        help="bucket count of newly created tables (default: sized from the "
        "data - the smallest power of two keeping a bucket at or under "
        "spark.sql.adaptive.advisoryPartitionSizeInBytes, split as the "
        "table grows); existing tables keep their recorded layout",
    )
    ap.add_argument(
        "--hot-key-salt", type=int, default=None,
        help="two-phase salted merge width for streams with one dominant key",
    )
    ap.add_argument(
        "--dense-batches", action="store_true",
        help="batches touch every bucket: an epoch that takes its lineage "
        "stats from the merge reads every bucket instead of first finding the "
        "touched set; epochs that run the pre-merge aggregation (partition "
        "grain, quarantine, expectations, salting) rewrite only their "
        "touched buckets either way",
    )
    ap.add_argument(
        "--write-mode", choices=["cow", "mor"], default="cow",
        help="'mor' appends bucket-aligned delta files per epoch "
        "(merge-on-read: no target-bucket read/rewrite, O(batch) write "
        "cost) instead of copy-on-write bucket rewrites; reads resolve "
        "deltas until compaction folds them",
    )
    ap.add_argument(
        "--final-compact", action="store_true",
        help="fold pending merge-on-read deltas into the base after the "
        "replay (one compaction; returns reads to base-only scans)",
    )
    ap.add_argument(
        "--rollback-to", type=int, default=None, metavar="SNAPSHOT_ID",
        help="ops command: roll the table back to SNAPSHOT_ID (forward-history "
        "rollback; reverts files, schema AND the exactly-once batch ledger, "
        "refuses past the expiry horizon) and exit without replaying",
    )
    ap.add_argument(
        "--maintenance-every", type=int, default=8,
        help="auto-compact + expire snapshots every N applied batches (0 = off)",
    )
    ap.add_argument(
        "--keep-snapshots", type=int, default=4,
        help="snapshots retained by auto-maintenance expiry (at least 1)",
    )
    ap.add_argument(
        "--lineage-grain", choices=["epoch", "partition"], default="epoch",
        help="'partition' adds per-source-partition offset-range lineage rows",
    )
    ap.add_argument(
        "--emit-changes", metavar="OUT_DIR", default=None,
        help="ops command: write the row-level changelog since --cursor's "
        "position to OUT_DIR as parquet, advance the cursor, and exit "
        "(downstream CDC-out sync; at-least-once - the cursor commits only "
        "after the write lands)",
    )
    ap.add_argument(
        "--cursor", default=None,
        help="cursor file for --emit-changes (created at first use; position "
        "0 emits the whole table as inserts = initial sync)",
    )
    ap.add_argument(
        "--rollup", metavar="ROOT", default=None,
        help="maintain a per-repo rollup table at ROOT (n_paths, "
        "total_content_chars) incrementally from the repos table's CDC "
        "changelog after the replay — O(changes) per refresh, the repos "
        "table is never rescanned (lake/ivm.py)",
    )
    ap.add_argument(
        "--rollup-cursor", default=None,
        help="changelog cursor file for --rollup (default ROOT/cursor.json)",
    )
    ap.add_argument(
        "--join-view", metavar="ROOT", default=None,
        help="maintain a materialized repos ⋈ dim enrichment at ROOT "
        "incrementally from both tables' changelogs after each epoch "
        "(lake/joinview.py); requires --join-dim",
    )
    ap.add_argument(
        "--join-dim", metavar="DIM_ROOT", default=None,
        help="repo-keyed dim lake table joined by --join-view",
    )
    ap.add_argument(
        "--join-payload", default=None,
        help="comma-separated dim columns carried onto the view "
        "(default: every dim column except the key)",
    )
    ap.add_argument(
        "--expect", action="append", default=[], metavar="NAME:ACTION:PREDICATE",
        help="data-quality expectation (repeatable): ACTION is 'quarantine' "
        "(violating rows dead-letter; requires --quarantine) or 'fail' "
        "(any violation aborts the epoch before any write). PREDICATE is a "
        "SQL boolean over the feed columns; NULL results count as "
        "violations. Example: --expect content_present:quarantine:'content "
        "is not null'",
    )
    args = ap.parse_args(argv)

    expectations = []
    for spec in args.expect:
        parts = spec.split(":", 2)
        if len(parts) != 3:
            print(f"--expect must be NAME:ACTION:PREDICATE, got {spec!r}",
                  file=sys.stderr)
            return 2
        name, action, pred = parts
        expectations.append((name, pred, action))

    from dbt_customer360_spark.session import get_spark
    from dbt_customer360_spark.streaming.apply import CDCApplier, replay_batch

    spark = get_spark(app="cdc-replay")
    jvm_max_gb = spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / (1 << 30)
    if jvm_max_gb < 2:
        print(
            f"WARNING: driver JVM heap is {jvm_max_gb:.1f} GiB — under spark-submit "
            "the session factory's spark.driver.memory is ignored; pass "
            "--driver-memory on the submit command line (1g default OOMs on "
            "real replay volumes)",
            file=sys.stderr,
        )
    if args.rollback_to is not None:
        from dbt_customer360_spark.lake.table import LakeTable

        table = LakeTable(spark, args.table, buckets=args.buckets)
        sid = table.rollback_to(args.rollback_to)
        print(
            json.dumps(
                {
                    "mode": "rollback",
                    "rolled_back_to": args.rollback_to,
                    "snapshot_id": sid,
                    "final_rows": table.read().count(),
                }
            )
        )
        return 0

    if args.emit_changes is not None:
        from dbt_customer360_spark.lake.table import ChangelogReader, LakeTable

        if not args.cursor:
            print("--emit-changes requires --cursor", file=sys.stderr)
            return 2
        table = LakeTable(spark, args.table, buckets=args.buckets)
        reader = ChangelogReader(table, args.cursor)
        polled = reader.poll()
        if polled is None:
            print(json.dumps({"mode": "emit-changes", "caught_up": True,
                              "position": reader.position()}))
            return 0
        changes, to_sid = polled
        from_sid = reader.position()
        changes.write.mode("overwrite").parquet(args.emit_changes)
        n = spark.read.parquet(args.emit_changes).count()
        reader.commit(to_sid)  # at-least-once: only after the write landed
        print(json.dumps({"mode": "emit-changes", "caught_up": False,
                          "from_snapshot": from_sid, "to_snapshot": to_sid,
                          "rows": n, "out": args.emit_changes}))
        return 0

    applier = CDCApplier(
        spark,
        args.table,
        args.lineage,
        buckets=args.buckets,
        assume_dense_batches=args.dense_batches,
        hot_key_salt=args.hot_key_salt,
        maintenance_every=args.maintenance_every or None,
        keep_snapshots=args.keep_snapshots,
        lineage_grain=args.lineage_grain,
        quarantine_root=args.quarantine,
        expectations=expectations,
        write_mode=args.write_mode,
    )
    ivm = None
    if args.rollup:
        from dbt_customer360_spark.lake.ivm import AggSpec, IncrementalRollup
        from dbt_customer360_spark.lake.table import LakeTable

        ivm = IncrementalRollup(
            applier.table,
            LakeTable(
                spark,
                args.rollup,
                buckets=None if args.buckets is None else min(args.buckets, 16),
            ),
            ["repo"],
            [
                AggSpec("n_paths", "count"),
                AggSpec("total_content_chars", "sum", "coalesce(length(content), 0)"),
            ],
            cursor_path=args.rollup_cursor or os.path.join(args.rollup, "cursor.json"),
            # merge-on-read tombstones are stored rows; the rollup
            # tracks the LIVE view, so a tombstone flip retracts
            row_filter="not coalesce(__deleted, false)",
        )
        # per-epoch freshness in BOTH modes: the applier refreshes the
        # rollup after each applied batch, before its maintenance tick
        applier.rollup = ivm
    if args.join_view:
        if not args.join_dim:
            print("--join-view requires --join-dim", file=sys.stderr)
            return 2
        from dbt_customer360_spark.lake.joinview import IncrementalJoinView
        from dbt_customer360_spark.lake.table import LakeTable

        dim_table = LakeTable(spark, args.join_dim, buckets=4)
        if args.join_payload:
            payload = [c.strip() for c in args.join_payload.split(",") if c.strip()]
        else:
            payload = [
                n for n, _ in dim_table._read_manifest()["schema"] if n != "repo"
            ]
        jv = IncrementalJoinView(
            applier.table,
            dim_table,
            LakeTable(spark, args.join_view, buckets=args.buckets),
            ["repo", "path"],
            "repo",
            "repo",
            payload,
            os.path.join(args.join_view, "cursors"),
            fact_row_filter="not coalesce(__deleted, false)",
        )
        if applier.rollup is not None:
            # chain both per-epoch maintainers behind one hook
            prev = applier.rollup

            class _Both:
                def refresh(self_inner):
                    prev.refresh()
                    jv.refresh()

            applier.rollup = _Both()
        else:
            applier.rollup = jv

    t0 = time.time()
    if args.mode == "stream":
        if not args.events or not args.checkpoint:
            ap.error("--mode stream requires --events and --checkpoint")
        q = applier.stream(args.events, args.checkpoint)
        q.awaitTermination()
        n = None
    else:
        if args.generate:
            from dbt_customer360_spark.sources.cdc import generate_change_events

            events = generate_change_events(spark, n_events=args.generate).persist()
        else:
            if not args.events:
                ap.error("--mode batch requires --events or --generate")
            events = spark.read.parquet(args.events)
        stats = replay_batch(applier, events, n_batches=args.batches)
        n = sum(s["rows_applied"] for s in stats)
    if args.final_compact:
        applier.table.compact(["repo", "path"])
    dt = time.time() - t0
    out = {
        "mode": args.mode,
        "rows_applied": n,
        "wall_sec": round(dt, 2),
        "final_rows": applier.state().count(),
        "snapshot_id": applier.table.current_snapshot_id(),
    }
    if ivm is not None:
        # catch-up refresh (no-op when the per-epoch hook kept pace)
        rsid = ivm.refresh()
        out["rollup"] = {
            "snapshot_id": rsid,
            "caught_up": rsid is None,
            "repos": ivm.read().count(),
        }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
