"""LakeTable — a minimal snapshot-based lake table with Iceberg semantics.

The target design (north_rule) is Iceberg ``MERGE INTO`` executed from
``foreachBatch``. The Iceberg runtime jars are not available in this
sandbox, so this module implements the same contract as a
self-contained format the engine can swap for a real Iceberg catalog
on a cluster (the call-sites only use the API below):

- **data files**: immutable parquet files under ``<root>/data/``.
- **snapshots**: JSON manifests under ``<root>/snapshots/`` listing
  the live data files + schema + properties. The table state IS the
  highest-numbered manifest; writing a manifest is the atomic commit
  (tempfile + ``os.link`` create-if-absent — readers never see a
  partial commit, and a concurrent writer racing for the same
  snapshot id gets ``CommitConflict`` instead of a silent overwrite,
  Iceberg's optimistic-concurrency model).
- **idempotent commits**: every commit carries an optional
  ``batch_id``; committed batch ids are recorded in the manifest, and
  re-applying an already-committed ``batch_id`` is a no-op. This is
  the exactly-once half that Structured Streaming's at-least-once
  ``foreachBatch`` needs (SURVEY.md §2.10).
- **MERGE upsert**: ``merge(batch, keys)`` rewrites the table as
  ``(target anti-join batch-keys) union (batch upserts)`` — a
  copy-on-write MERGE, which is exactly what Iceberg CoW does, minus
  file-level pruning. Partition-level pruning is kept: data files are
  written bucketed by hash of the merge keys, and only buckets
  touched by the batch are rewritten (the untouched buckets'
  files are carried over into the new snapshot unchanged).
- **schema evolution**: new columns in a batch are added to the table
  schema (NULL-backfilled lazily at read), and renames are resolved
  through a versioned column-mapping (``rename_column``), mirroring
  Iceberg's name-mapping.

Scale notes: the bucket layout means a MERGE touching k of B buckets
reads/writes only k/B of the table; B is chosen at create time
(``buckets``) and should be sized so one bucket ≈ a few GB at target
scale. All data movement is Spark jobs — the driver only manipulates
manifest JSON (O(#files), not O(rows)) — except an ``append`` of a
``pyarrow.Table``, whose rows already live on the driver (lineage).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_customer360_spark.session import local_df

if TYPE_CHECKING:
    import pyarrow as pa


class CommitConflict(RuntimeError):
    """A concurrent writer published the snapshot id this commit was
    about to take. The attempted commit is NOT applied; re-read the
    manifest and retry (idempotent batch_ids make retries safe)."""


class LakeTable:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        buckets: int = 16,
        stats_cols: list[str] | None = None,
        bucket_cols: list[str] | None = None,
    ):
        """``stats_cols``: columns whose per-file min/max are recorded
        in the manifest at commit time (read straight off the parquet
        footers — no Spark job) and used by :meth:`read_where` to skip
        files a range predicate cannot match — Iceberg-manifest-style
        data skipping. Sticky: recorded on the first commit that sees
        it and honored by every later writer of the table.

        ``bucket_cols``: bucket the physical layout on a SUBSET of the
        merge keys (Iceberg's partition-spec-vs-identifier-fields
        split). Default None buckets on the full merge key. Bucketing
        a (repo, path)-keyed table on [repo] co-locates every path of
        a repo in one bucket: joins against repo-keyed dims are
        co-partitioned, and :meth:`read_prefix` serves whole-repo
        lookups from ONE bucket. The one-shuffle merge is preserved —
        HashPartitioning on a key subset still satisfies the merge
        groupBy's clustering — but bucket skew now follows the prefix
        distribution: a whale repo is a whale bucket, so keep the full
        key (default) when no access pattern needs prefix locality.
        Sticky like ``buckets``: recorded at creation, honored by
        every later writer; change it with :meth:`rebucket`."""
        self.spark = spark
        self.root = root
        self.buckets = buckets
        self.stats_cols = stats_cols
        self.bucket_cols = bucket_cols
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)

    # --- snapshot bookkeeping -------------------------------------------------

    def _snapshot_ids(self) -> list[int]:
        snaps = []
        for f in os.listdir(os.path.join(self.root, "snapshots")):
            if f.endswith(".json"):
                snaps.append(int(f.split(".")[0]))
        return sorted(snaps)

    def current_snapshot_id(self) -> int:
        ids = self._snapshot_ids()
        return ids[-1] if ids else 0

    def _read_manifest(self, sid: int | None = None) -> dict:
        sid = sid if sid is not None else self.current_snapshot_id()
        if sid == 0:
            return {
                "snapshot_id": 0,
                "files": {},          # bucket(str) -> [relative parquet paths]
                # merge-on-read ledger: bucket(str) -> pending delta
                # paths appended by merge_lsn(mor=True), folded into
                # "files" by compact(); "lsn_col" names the ordering
                # column the read-time LWW resolution uses
                "delta_files": {},
                "lsn_col": None,
                "schema": [],          # ordered [(name, spark ddl type)]
                "batch_ids": [],
                "column_mapping": {},  # logical feed name -> physical name
                "mapping_version": 0,
                # murmur3 == Spark's shuffle HashPartitioning hash, so a
                # repartition(buckets, *keys) IS the bucket layout and the
                # merge write needs no second shuffle; tables created
                # before this field default to the legacy xxhash64 layout
                "bucket_fn": "murmur3",
                # the bucket COUNT is part of the physical layout and
                # rides the manifest: a writer opening the table with a
                # different constructor value would otherwise compute a
                # different pmod layout — touched-bucket pruning then
                # reads the wrong files and a merge can DUPLICATE a key
                # (one row per layout). Readers honor the manifest.
                "buckets": self.buckets,
                # bucket on a key subset (None = the full merge key);
                # part of the physical layout, sticky like "buckets"
                "bucket_cols": self.bucket_cols,
            }
        with open(os.path.join(self.root, "snapshots", f"{sid}.json")) as f:
            return json.load(f)

    def _commit(self, manifest: dict) -> int:
        """Atomic optimistic-concurrency publish (Iceberg-style): the
        new snapshot file is linked into place with an O_EXCL-like
        primitive that FAILS if the id was taken, so a concurrent
        writer that committed since this writer read its manifest
        surfaces as CommitConflict instead of silently overwriting a
        snapshot — the caller re-reads and re-applies (CDC epochs are
        idempotent, so a retry is safe)."""
        # target id = BASE + 1 (not current + 1): a manifest derived from
        # snapshot N must land exactly at N+1, so a writer that raced
        # past us fails the create instead of silently discarding the
        # winner's file lists under a higher id
        if self.stats_cols and not manifest.get("stats_cols"):
            manifest["stats_cols"] = list(self.stats_cols)
        self._reconcile_file_stats(manifest)
        sid = manifest["snapshot_id"] + 1
        path = os.path.join(self.root, "snapshots", f"{sid}.json")
        fd, tmp = tempfile.mkstemp(dir=os.path.join(self.root, "snapshots"))
        with os.fdopen(fd, "w") as f:
            # serialize a COPY carrying the new id; the caller's dict is
            # only bumped after the link lands, so a conflicted manifest
            # still targets the same sid and a naive retry re-conflicts
            # instead of landing at winner+1 and clobbering the winner's
            # file lists
            json.dump({**manifest, "snapshot_id": sid}, f)
        try:
            os.link(tmp, path)  # atomic create-if-absent (fails on conflict)
        except FileExistsError:
            os.remove(tmp)
            raise CommitConflict(
                f"snapshot {sid} already committed by a concurrent writer; "
                "re-read the table state and retry the operation"
            )
        os.remove(tmp)
        manifest["snapshot_id"] = sid
        return sid

    @staticmethod
    def _stat_json(v):
        """Footer stat value -> JSON-comparable scalar. datetimes/dates
        become isoformat strings (Python isoformat is lexicographically
        chronological: fractions are either absent or 6 digits); bytes
        decode best-effort; unsupported types return None (= no stat
        recorded, file always read)."""
        if isinstance(v, bool) or v is None:
            return None
        if isinstance(v, (int, float, str)):
            return v
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, (bytes, bytearray)):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        return None

    def _reconcile_file_stats(self, manifest: dict) -> None:
        """Commit-time hook: drop stats of removed file entries, read
        footer min/max for live entries that lack them. Footer-only —
        pyarrow metadata reads, NO Spark job, O(new entries)."""
        cols = manifest.get("stats_cols") or []
        if not cols:
            return
        fs = manifest.setdefault("file_stats", {})
        live = {p for paths in manifest["files"].values() for p in paths}
        for k in list(fs):
            if k not in live:
                del fs[k]
        import pyarrow.parquet as pq

        for rel in live:
            if rel in fs:
                continue
            root = os.path.join(self.root, "data", rel)
            parts = (
                [
                    os.path.join(root, f)
                    for f in os.listdir(root)
                    if f.endswith(".parquet")
                ]
                if os.path.isdir(root)
                else [root]
            )
            mins: dict[str, object] = {}
            maxs: dict[str, object] = {}
            dropped: set[str] = set()
            for part in parts:
                md = pq.ParquetFile(part).metadata
                for rg in range(md.num_row_groups):
                    row_group = md.row_group(rg)
                    for ci in range(row_group.num_columns):
                        col = row_group.column(ci)
                        name = col.path_in_schema
                        if name not in cols or name in dropped:
                            continue
                        st = col.statistics
                        lo = self._stat_json(st.min) if st and st.has_min_max else None
                        hi = self._stat_json(st.max) if st and st.has_min_max else None
                        if lo is None or hi is None:
                            # a single stat-less row group poisons the
                            # whole entry for this column (conservative)
                            dropped.add(name)
                            mins.pop(name, None)
                            maxs.pop(name, None)
                            continue
                        mins[name] = lo if name not in mins else min(mins[name], lo)
                        maxs[name] = hi if name not in maxs else max(maxs[name], hi)
            fs[rel] = {c: [mins[c], maxs[c]] for c in mins}

    def read_where(
        self,
        ranges: dict[str, tuple],
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Data-skipping scan: ``ranges`` maps column -> (lo, hi)
        (either bound None = unbounded). File entries whose recorded
        min/max cannot intersect a bound are NEVER opened — the
        manifest prune that makes a point/range lookup on a 100 TB
        table touch a handful of files instead of every bucket. The
        residual predicate is still applied, so results are exact
        regardless of stats coverage (entries without stats are always
        read). SQL range semantics: NULLs never match."""
        m = self._read_manifest(snapshot_id)
        stats = m.get("file_stats", {})

        def bound(v):
            return self._stat_json(v) if not isinstance(v, (int, float, str)) else v

        keep: list[str] = []
        for paths in m["files"].values():
            for p in paths:
                s = stats.get(p, {})
                skip = False
                for c, (lo, hi) in ranges.items():
                    if c not in s:
                        continue
                    mn, mx = s[c]
                    lo_j, hi_j = bound(lo), bound(hi)
                    if (hi_j is not None and mn is not None and mn > hi_j) or (
                        lo_j is not None and mx is not None and mx < lo_j
                    ):
                        skip = True
                        break
                if not skip:
                    keep.append(p)
        delta_paths = [p for b in (m.get("delta_files") or {}).values() for p in b]
        if delta_paths:
            # merge-on-read pending deltas SUSPEND manifest pruning:
            # range stats describe stored values, not resolution
            # winners — a pruned base file could hide a row NEWER than
            # a pending delta for the same key (CoW/MoR commits
            # interleave), and dropping it would resurrect the stale
            # delta. Read everything, resolve, then filter — exact,
            # and compact() restores pruned scans.
            keep = [p for paths in m["files"].values() for p in paths]
            df = self._mor_resolve(
                m, self._read_paths(m, keep), self._read_paths(m, delta_paths)
            )
        else:
            df = self._read_paths(m, keep)
        for c, (lo, hi) in ranges.items():
            if lo is not None:
                df = df.filter(F.col(c) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(c) <= F.lit(hi))
        return df

    def committed_batch_ids(self) -> set[str]:
        return set(self._read_manifest()["batch_ids"])

    def _layout_cols(self, manifest: dict, keys: list[str]) -> list[str]:
        """The columns the physical bucket layout hashes — the
        manifest's recorded ``bucket_cols`` subset, else the full
        merge key."""
        return list(manifest.get("bucket_cols") or keys)

    def _bucket_expr(self, keys: list[str], manifest: dict) -> F.Column:
        """bucket id for a row, per the manifest's recorded hash family
        and layout columns. murmur3 (F.hash, seed 42) is bit-identical
        to the hash inside Spark's HashPartitioning, so
        pmod(hash(layout_cols), buckets) equals the partition id of
        repartition(buckets, *layout_cols) — the property the
        one-shuffle merge write relies on."""
        bcols = self._layout_cols(manifest, keys)
        if manifest.get("bucket_fn", "xxhash64") == "murmur3":
            h = F.hash(*[F.col(k) for k in bcols])
        else:
            h = F.xxhash64(*[F.col(k) for k in bcols])
        return F.pmod(h, F.lit(manifest.get("buckets", self.buckets)))

    # --- reads ------------------------------------------------------------------

    def exists(self) -> bool:
        return self.current_snapshot_id() > 0

    def _read_paths(self, m: dict, rel_paths: list[str]) -> DataFrame:
        """Read a list of manifest-relative parquet paths under the
        manifest schema (NULL-backfills columns added after a file was
        written — no mergeSchema footer pass needed)."""
        schema_ddl = ", ".join(f"`{n}` {t}" for n, t in m["schema"])
        if not rel_paths:
            return local_df(self.spark, [], schema_ddl or "dummy string")
        df = self.spark.read.schema(schema_ddl).parquet(
            *[os.path.join(self.root, "data", p) for p in rel_paths]
        )
        return df.select(*[n for n, _ in m["schema"]])

    def _mor_resolve(
        self,
        m: dict,
        base: DataFrame,
        delta: DataFrame,
        cols: list[str] | None = None,
    ) -> DataFrame:
        """Merge-on-read resolution: one last-writer-wins aggregation
        over base ∪ delta rows — the same ``max_by(row, (lsn,
        is_base))`` comparator the copy-on-write merge uses, applied at
        READ time instead of write time. Base wins LSN ties so a replay
        that was also compacted stays byte-stable."""
        keys = m.get("keys") or []
        lsn_col = m.get("lsn_col") or "__max_lsn"
        if not keys:
            raise ValueError(
                "merge-on-read resolution requires merge keys in the manifest"
            )
        cols = cols if cols is not None else [n for n, _ in m["schema"]]
        unioned = base.withColumn("__is_base", F.lit(1)).unionByName(
            delta.withColumn("__is_base", F.lit(0))
        )
        row = F.struct(*[F.col(c) for c in cols])
        order = F.struct(F.col(lsn_col), F.col("__is_base"))
        return (
            unioned.groupBy(*[F.col(k) for k in keys])
            .agg(F.max_by(row, order).alias("__w"))
            .select("__w.*")
        )

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """Table state at a snapshot. On a merge-on-read table (pending
        ``merge_lsn(mor=True)`` delta files) the scan resolves base +
        deltas with one LWW aggregation — the Iceberg/Hudi MoR read
        path; ``compact()`` folds the deltas away and returns reads to
        zero-overhead base-only scans."""
        m = self._read_manifest(snapshot_id)
        base_paths = [p for b in m["files"].values() for p in b]
        delta_paths = [p for b in (m.get("delta_files") or {}).values() for p in b]
        base = self._read_paths(m, base_paths)
        if not delta_paths:
            return base
        return self._mor_resolve(m, base, self._read_paths(m, delta_paths))

    def read_point(
        self, key_values: dict, snapshot_id: int | None = None
    ) -> DataFrame:
        """Point lookup by full merge key — the serving GET of the CDC
        state store. Reads ONLY the key's hash bucket (base files +
        that bucket's pending MoR deltas), so the scan is O(table /
        buckets) no matter how big the table is; at the 100 TB layout
        (~32–64k buckets, a few GB each) that's one or two parquet
        dirs instead of the table.

        The key's bucket id is computed with the SAME hash family the
        layout was written under (``_bucket_expr`` over a 1-row JVM
        LocalRelation — murmur3/xxhash64 are not reimplemented
        driver-side, so the lookup can never drift from the writer).
        Bucket pruning is exact even while deltas are pending: deltas
        are bucket-aligned by the same expression, so every version of
        the key lives in this one bucket — unlike value-stats pruning,
        which ``read_where`` suspends under pending deltas. The
        key-equality filter is applied BEFORE the LWW resolve (it
        commutes with the per-key aggregation), so the resolve touches
        only the key's rows. Tombstones are returned as-is (caller
        filters ``__deleted``) — a GET must be able to distinguish
        "deleted" from "never existed"."""
        m = self._read_manifest(snapshot_id)
        keys = m.get("keys") or []
        if not keys:
            raise ValueError("read_point requires a merged table (no keys recorded)")
        if set(key_values) != set(keys):
            raise ValueError(
                f"read_point needs the FULL merge key {keys}, got "
                f"{sorted(key_values)}"
            )
        types = dict(m["schema"])
        ddl = ", ".join(f"`{k}` {types[k]}" for k in keys)
        probe = local_df(self.spark, [tuple(key_values[k] for k in keys)], ddl)
        bucket = str(probe.select(self._bucket_expr(keys, m)).first()[0])
        pred = None
        for k in keys:
            c = F.col(k).eqNullSafe(F.lit(key_values[k]))
            pred = c if pred is None else (pred & c)
        base = self._read_paths(m, m["files"].get(bucket, [])).filter(pred)
        delta_rel = (m.get("delta_files") or {}).get(bucket, [])
        if not delta_rel:
            return base
        delta = self._read_paths(m, delta_rel).filter(pred)
        return self._mor_resolve(m, base, delta)

    def read_prefix(
        self, prefix_values: dict, snapshot_id: int | None = None
    ) -> DataFrame:
        """All rows whose layout-prefix columns equal ``prefix_values``
        — e.g. every path of one repo on a table bucketed with
        ``bucket_cols=['repo']``. The whole prefix lives in ONE bucket
        (its id is a pure function of the prefix columns), so the scan
        is O(table / buckets) like :meth:`read_point`, without needing
        the full merge key. Requires the table's ``bucket_cols`` to
        exactly match the prefix keys: on a full-key layout the prefix
        does not determine a bucket, and a silent full scan here would
        hide the missing layout — refuse instead. Pending MoR deltas
        resolve LWW, prefix-filtered before the aggregation."""
        m = self._read_manifest(snapshot_id)
        keys = m.get("keys") or []
        bcols = self._layout_cols(m, keys)
        if not keys:
            raise ValueError("read_prefix requires a merged table (no keys)")
        if set(prefix_values) != set(bcols):
            raise ValueError(
                f"read_prefix needs exactly the layout columns {bcols} "
                f"(table bucket_cols), got {sorted(prefix_values)}"
            )
        types = dict(m["schema"])
        ddl = ", ".join(f"`{k}` {types[k]}" for k in bcols)
        probe = local_df(self.spark, [tuple(prefix_values[k] for k in bcols)], ddl)
        bucket = str(probe.select(self._bucket_expr(keys, m)).first()[0])
        pred = None
        for k in bcols:
            c = F.col(k).eqNullSafe(F.lit(prefix_values[k]))
            pred = c if pred is None else (pred & c)
        base = self._read_paths(m, m["files"].get(bucket, [])).filter(pred)
        delta_rel = (m.get("delta_files") or {}).get(bucket, [])
        if not delta_rel:
            return base
        delta = self._read_paths(m, delta_rel).filter(pred)
        return self._mor_resolve(m, base, delta)

    def changelog(
        self,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        include_preimage: bool = True,
    ) -> DataFrame:
        """Row-level change feed between two snapshots (CDC *out* — the
        downstream half of a CDC lake; Iceberg/Delta "table changes").
        Returns the net effect of every commit in the span as rows
        shaped by the to-snapshot schema plus ``_change_type`` in
        ``insert | update_preimage | update_postimage | delete``
        (preimage rows carry the from-snapshot values; suppress them
        with ``include_preimage=False``).

        Scale design: snapshots share the files of every bucket a
        merge didn't touch, so only buckets whose file LISTS differ
        between the manifests are read and diffed — a span touching 3
        of 4096 buckets scans 3 buckets, not the table. Within them,
        ONE full-outer join on the merge keys + a conditional
        array/explode classifies every row in a single pass (no
        self-union re-reads). Both sides come off the same murmur3
        bucket layout, so the join's shuffle is the minimal
        keys-partitioning exchange. Net-effect semantics: a row
        inserted then deleted inside the span emits nothing; replaying
        per-commit history is ``changelog(s-1, s)`` per snapshot.
        ``compact()``/``overwrite`` rewrite file lists wholesale, so a
        span crossing them degrades to a full diff (correct, just not
        pruned). Physical-row semantics: merge-on-read tombstones kept
        by ``merge_lsn`` surface as updates to their op column, like
        any other stored row.
        """
        _m_from, m_to, keys, cols, old_side, new_side = self._changelog_sides(
            from_snapshot_id, to_snapshot_id
        )
        old = old_side.select(
            *[F.col(c).alias(f"__o_{c}") for c in cols], F.lit(True).alias("__in_old")
        )
        new = new_side.select(
            *[F.col(c).alias(f"__n_{c}") for c in cols], F.lit(True).alias("__in_new")
        )
        j = old.join(
            new,
            [F.col(f"__o_{k}").eqNullSafe(F.col(f"__n_{k}")) for k in keys],
            "full_outer",
        )
        in_old = F.coalesce(F.col("__in_old"), F.lit(False))
        in_new = F.coalesce(F.col("__in_new"), F.lit(False))
        nonkeys = [c for c in cols if c not in keys]
        row_changed = (
            ~F.struct(*[F.col(f"__o_{c}") for c in nonkeys]).eqNullSafe(
                F.struct(*[F.col(f"__n_{c}") for c in nonkeys])
            )
            if nonkeys
            else F.lit(False)
        )

        def tagged(tag: str, prefix: str) -> F.Column:
            return F.struct(
                F.lit(tag).alias("_change_type"),
                F.struct(*[F.col(f"{prefix}_{c}").alias(c) for c in cols]).alias("v"),
            )

        upd = (
            F.array(tagged("update_preimage", "__o"), tagged("update_postimage", "__n"))
            if include_preimage
            else F.array(tagged("update_postimage", "__n"))
        )
        empty = F.slice(F.array(tagged("insert", "__n")), 1, 0)
        entries = (
            F.when(in_new & ~in_old, F.array(tagged("insert", "__n")))
            .when(in_old & ~in_new, F.array(tagged("delete", "__o")))
            .when(in_old & in_new & row_changed, upd)
            .otherwise(empty)
        )
        return (
            j.select(F.explode(entries).alias("e"))
            .select(F.col("e._change_type").alias("_change_type"), "e.v.*")
        )

    def changelog_sides(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> tuple[DataFrame, DataFrame]:
        """(old_rows, new_rows) of the buckets whose file lists differ
        between the two snapshots — the raw inputs :meth:`changelog`
        joins, without the join. For consumers folding the span into
        aggregates that form a group under retraction (count/sum, see
        lake/ivm.py) the per-row diff is unnecessary: every row common
        to both sides cancels exactly in ``agg(new) - agg(old)``, so
        handing out the two sides lets them skip the full-outer
        key join entirely. Same bucket pruning, merge-on-read
        resolution, to-snapshot schema alignment, and expired-span
        errors as :meth:`changelog`."""
        _m_from, _m_to, _keys, _cols, old_side, new_side = self._changelog_sides(
            from_snapshot_id, to_snapshot_id
        )
        return old_side, new_side

    def _changelog_sides(
        self, from_snapshot_id: int, to_snapshot_id: int | None
    ) -> tuple[dict, dict, list[str], list[str], DataFrame, DataFrame]:
        """Shared half of :meth:`changelog` / :meth:`changelog_sides`:
        manifest span validation, changed-bucket discovery, and the
        (old, new) bucket-pruned MoR-resolved reads under the
        to-snapshot schema."""
        try:
            m_to = self._read_manifest(to_snapshot_id)
            m_from = self._read_manifest(from_snapshot_id)
        except FileNotFoundError as e:
            raise ValueError(
                "changelog: snapshot manifest expired (expire_snapshots); "
                f"narrow the span or raise keep_last ({e})"
            ) from e
        if m_from["snapshot_id"] > m_to["snapshot_id"]:
            raise ValueError(
                f"changelog: from_snapshot {m_from['snapshot_id']} is newer "
                f"than to_snapshot {m_to['snapshot_id']}"
            )
        keys = m_to.get("keys") or m_from.get("keys")
        if not keys:
            raise ValueError(
                "changelog requires key-merged snapshots (no 'keys' in manifest); "
                "append-only tables have no row identity to diff on"
            )
        cols = [n for n, _ in m_to["schema"]]
        ddl = ", ".join(f"`{n}` {t}" for n, t in m_to["schema"])
        def _deltas(m: dict) -> dict:
            return m.get("delta_files") or {}

        changed = sorted(
            b
            for b in set(m_from["files"])
            | set(m_to["files"])
            | set(_deltas(m_from))
            | set(_deltas(m_to))
            if m_from["files"].get(b) != m_to["files"].get(b)
            or _deltas(m_from).get(b) != _deltas(m_to).get(b)
        )

        def side(m: dict) -> DataFrame:
            base_rel = [p for b in changed for p in m["files"].get(b, [])]
            delta_rel = [p for b in changed for p in _deltas(m).get(b, [])]
            missing = [
                p
                for p in base_rel + delta_rel
                if not os.path.exists(os.path.join(self.root, "data", p))
            ]
            if missing:
                raise ValueError(
                    f"changelog({m['snapshot_id']}): {len(missing)} data file(s) "
                    "expired (expire_snapshots); narrow the span or raise keep_last"
                )

            def rd(rel: list[str]) -> DataFrame:
                if not rel:
                    return local_df(self.spark, [], ddl)
                # the to-schema read NULL-backfills columns added inside
                # the span, so both sides align without a footer merge
                return (
                    self.spark.read.schema(ddl)
                    .parquet(*[os.path.join(self.root, "data", p) for p in rel])
                    .select(*cols)
                )

            base = rd(base_rel)
            if not delta_rel:
                return base
            # merge-on-read snapshot: a side's visible state is the LWW
            # resolution of its base + pending deltas; buckets partition
            # the key space, so resolving the changed-bucket subset is
            # the same as resolving the whole table then filtering.
            # cols override: both sides read under the TO-schema.
            return self._mor_resolve(m, base, rd(delta_rel), cols=cols)

        return m_from, m_to, keys, cols, side(m_from), side(m_to)

    # --- writes ------------------------------------------------------------------

    def _write_tasks(self, df: DataFrame, n_buckets: int) -> int:
        """Write-task count for ``n_buckets`` bucket partitions of
        ``df`` (rule in :meth:`_write_bucket_files`). Reads Spark's
        ``sizeInBytes`` estimate on the driver and runs no job. The
        estimate comes off the already-analyzed plan: it matches the
        optimized plan's for these writes (the same statistics visitor
        over file sizes and local rows), without an extra optimizer pass
        per write (10-20 ms for a merge plan on a 4-vCPU host)."""
        jconf = self.spark._jsparkSession.sessionState().conf()
        est = df._jdf.queryExecution().analyzed().stats().sizeInBytes()
        if est >= jconf.defaultSizeInBytes():
            return n_buckets
        advisory = self.spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            self.spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        )
        want = max(self.spark.sparkContext.defaultParallelism, -(-est // advisory))
        return min(n_buckets, want)

    def _write_bucket_files(
        self,
        df: DataFrame,
        keys: list[str],
        manifest: dict | None = None,
        pre_partitioned: bool = False,
        max_records_per_file: int | None = None,
    ) -> dict[str, list[str]]:
        """Write df as one parquet dir per hash-bucket of the merge keys.

        One Spark write job partitioned by bucket id; each bucket's rows
        land under ``__bucket=<i>/``. On a murmur3-layout table the
        repartition is by the KEYS themselves (partition i == bucket i,
        see _bucket_expr), so a caller whose plan is already
        hash-partitioned on the keys — merge_lsn repartitions BEFORE its
        aggregation — passes ``pre_partitioned=True`` and the write adds
        NO shuffle at all; the legacy xxhash64 layout shuffles on the
        computed bucket column as before.

        Each bucket is written by exactly one task, as one file (or one
        run of ``max_records_per_file`` parts). The B bucket partitions
        are coalesced — whole partitions merged, never split — into
        ``k = min(B, max(defaultParallelism, ceil(est / advisory)))``
        write tasks, where ``est`` is Spark's ``sizeInBytes`` estimate
        for ``df`` and ``advisory`` is
        ``spark.sql.adaptive.advisoryPartitionSizeInBytes``: AQE's own
        parallelism-first sizing, which it never applies to a
        ``repartition(B, keys)`` shuffle. A small table then pays for
        ``defaultParallelism`` task launches instead of B; an unknown
        estimate (Spark's default-size sentinel) or GB-sized buckets
        keep one task per bucket.

        When the manifest carries a ``sort_order`` (set by
        ``compact(sort_by=...)``) every write — merges included — sorts
        rows WITHIN each bucket partition on those columns before
        writing (a per-partition sort, no extra exchange), so parquet
        row groups stay range-disjoint on the sort columns and the
        scan-side predicate pushdown keeps skipping row groups between
        compactions. ``max_records_per_file`` additionally splits each
        bucket into several part files and records EACH PART as its own
        manifest entry, giving the commit-time footer stats — and
        therefore :meth:`read_where`'s manifest prune — split-level
        grain (Iceberg sort-order + split-planning analogue).
        """
        manifest = manifest if manifest is not None else self._read_manifest()
        out_id = uuid.uuid4().hex[:12]
        out_rel = f"w{out_id}"
        out_abs = os.path.join(self.root, "data", out_rel)
        n_buckets = manifest.get("buckets", self.buckets)
        tasks = self._write_tasks(df, n_buckets)
        bucket_col = self._bucket_expr(keys, manifest)
        df = df.withColumn("__bucket", bucket_col)
        if not pre_partitioned:
            if manifest.get("bucket_fn", "xxhash64") == "murmur3":
                df = df.repartition(n_buckets, *self._layout_cols(manifest, keys))
            else:
                df = df.repartition(n_buckets, "__bucket")
        if tasks < n_buckets:
            df = df.coalesce(tasks)
        sort_by = manifest.get("sort_order") or []
        if sort_by:
            df = df.sortWithinPartitions("__bucket", *sort_by)
        elif manifest.get("zorder"):
            df = (
                df.withColumn("__zv", self._zorder_expr(manifest))
                .sortWithinPartitions("__bucket", "__zv")
                .drop("__zv")
            )
        writer = df.write.partitionBy("__bucket").mode("overwrite")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.parquet(out_abs)
        split_entries = bool(max_records_per_file)
        files: dict[str, list[str]] = {}
        for entry in os.listdir(out_abs):
            if entry.startswith("__bucket="):
                b = entry.split("=")[1]
                if split_entries:
                    parts = sorted(
                        f
                        for f in os.listdir(os.path.join(out_abs, entry))
                        if f.endswith(".parquet")
                    )
                    files[b] = [f"{out_rel}/{entry}/{p}" for p in parts]
                else:
                    files[b] = [f"{out_rel}/{entry}"]
        return files

    @staticmethod
    def _znum(col: str, typ: str) -> F.Column:
        # boundary/rank space is epoch-seconds double for timestamps,
        # plain double otherwise (exact for the long/int/double cols
        # z-ordering supports)
        c = F.col(col)
        if "timestamp" in typ:
            return c.cast("timestamp").cast("double")
        return c.cast("double")

    def _estimate_zorder(
        self, df: DataFrame, cols: list[str], bits: int, manifest: dict
    ) -> dict:
        """Quantile boundaries per z-column, estimated from the current
        table contents (one approxQuantile pass) and persisted so later
        merges rank against the SAME space."""
        types = dict(manifest["schema"])
        bad = [c for c in cols if c not in types]
        if bad:
            raise ValueError(f"zorder_by columns not in table schema: {bad}")
        nonnum = [
            c
            for c in cols
            if not (
                "timestamp" in types[c]
                or any(t in types[c] for t in ("int", "long", "float", "double", "decimal", "short", "byte"))
            )
        ]
        if nonnum:
            raise ValueError(
                f"zorder_by supports numeric/timestamp columns only, got: "
                f"{[(c, types[c]) for c in nonnum]}"
            )
        if not 1 <= bits <= 8 or bits * len(cols) > 63:
            raise ValueError(f"zorder bits={bits} x {len(cols)} cols out of range")
        probs = [i / (1 << bits) for i in range(1, 1 << bits)]
        proj = df.select(
            *[self._znum(c, types[c]).alias(f"__zq_{i}") for i, c in enumerate(cols)]
        )
        qs = proj.approxQuantile(
            [f"__zq_{i}" for i in range(len(cols))], probs, 0.001
        )
        return {"cols": cols, "bits": bits, "boundaries": qs}

    def _zorder_expr(self, manifest: dict) -> F.Column:
        """Morton key from the persisted quantile boundaries: rank each
        column (monotone sum of `value > boundary` flags — a flat
        comparison chain, codegen-friendly), then interleave rank bits.
        NULLs rank 0 (cluster together at the low end)."""
        z = manifest["zorder"]
        types = dict(manifest["schema"])
        cols, bits = z["cols"], z["bits"]
        key = F.lit(0).cast("long")
        for j, (c, bounds) in enumerate(zip(cols, z["boundaries"])):
            v = self._znum(c, types[c])
            rank = F.lit(0)
            for b in bounds:
                rank = rank + F.when(v > F.lit(b), 1).otherwise(0)
            rank = rank.cast("long")
            for i in range(bits):
                bit = F.shiftright(rank, i).bitwiseAND(F.lit(1).cast("long"))
                key = key + F.shiftleft(bit, i * len(cols) + j)
        return key

    def _merge_schema(self, manifest: dict, df: DataFrame) -> list[str]:
        known = {n for n, _ in manifest["schema"]}
        for field in df.schema.fields:
            if field.name not in known and field.name != "__bucket":
                manifest["schema"].append([field.name, field.dataType.simpleString()])
        return [n for n, _ in manifest["schema"]]

    def overwrite(self, df: DataFrame, keys: list[str], batch_id: str | None = None) -> int:
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["snapshot_id"]
        cols = self._merge_schema(m, df)
        df = self._conform(df, m)
        m["files"] = self._write_bucket_files(df.select(cols), keys, m)
        m["delta_files"] = {}
        m["lsn_col"] = None
        m["keys"] = keys
        if batch_id is not None:
            m["batch_ids"].append(batch_id)
        return self._commit(m)

    def _conform(self, df: DataFrame, manifest: dict) -> DataFrame:
        for n, t in manifest["schema"]:
            if n not in df.columns:
                df = df.withColumn(n, F.lit(None).cast(t))
        return df.select(*[n for n, _ in manifest["schema"]])

    def merge(
        self,
        batch: DataFrame,
        keys: list[str],
        batch_id: str | None = None,
        delete_col: str | None = None,
    ) -> int:
        """Copy-on-write MERGE: upsert ``batch`` rows by ``keys``.

        Rows where ``delete_col`` is true delete the matching target
        row. Only hash-buckets containing batch keys are rewritten;
        untouched buckets' files carry over. Re-running with an
        already-committed ``batch_id`` is a no-op (exactly-once).
        """
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["snapshot_id"]
        self._refuse_pending_deltas(m, "merge")
        if not self.exists() or not m["files"]:
            if delete_col is not None:
                batch = batch.filter(~F.coalesce(F.col(delete_col), F.lit(False))).drop(
                    delete_col
                )
            return self.overwrite(batch, keys, batch_id)

        self._check_merge_keys(m, keys)
        self._merge_schema(m, batch.drop(delete_col) if delete_col else batch)

        bucket_col = self._bucket_expr(keys, m)
        batch = batch.withColumn("__bucket", bucket_col)
        touched = sorted(
            r["__bucket"] for r in batch.select("__bucket").distinct().collect()
        )
        touched_set = {str(b) for b in touched}

        target_files = [
            os.path.join(self.root, "data", p)
            for b, paths in m["files"].items()
            if b in touched_set
            for p in paths
        ]
        upserts = batch
        if delete_col is not None:
            upserts = batch.filter(~F.coalesce(F.col(delete_col), F.lit(False))).drop(
                delete_col
            )
        upserts = self._conform(upserts, m)

        if target_files:
            ddl = ", ".join(f"`{n}` {t}" for n, t in m["schema"])
            target = self.spark.read.schema(ddl).parquet(*target_files)
            keep = target.join(batch.select(*keys).distinct(), on=keys, how="left_anti")
            merged = keep.unionByName(upserts)
        else:
            merged = upserts

        new_files = self._write_bucket_files(merged, keys, m)
        files = {b: paths for b, paths in m["files"].items() if b not in touched_set}
        files.update(new_files)
        m["files"] = files
        m["keys"] = keys
        if batch_id is not None:
            m["batch_ids"].append(batch_id)
        return self._commit(m)

    def merge_lsn(
        self,
        batch: DataFrame,
        keys: list[str],
        lsn_col: str = "__max_lsn",
        batch_id: str | None = None,
        touched: list[int] | None = None,
        salt: int | None = None,
        mor: bool = False,
    ) -> int:
        """Last-writer-wins MERGE: one aggregation replaces batch-dedup,
        high-watermark filtering, and the upsert in a single pass.

        ``union(touched target rows, batch rows)`` is grouped by key and
        reduced with ``max_by(row, (lsn, is_target))`` — so within-batch
        duplicates, stale replays (lower LSN than the stored watermark),
        and the upsert itself are all decided by one comparator. Because
        it is a hash aggregation, Spark applies map-side partial
        aggregation: hot keys combine locally before the shuffle. Ties
        (same LSN, e.g. exact replay under a new epoch) go to the
        target row, keeping replays byte-stable.

        ``salt``: explicit two-phase salted reduce for pathological hot
        keys (north_star: "skewed hot repos are split via key salting
        with a two-phase merge"). Phase 1 groups by (keys, salt) where
        salt = pmod(xxhash64(lsn), salt) — a hot key's rows split
        across ``salt`` reducers and collapse to at most ``salt``
        candidates; phase 2 reduces those per key. Identical result to
        the unsalted plan (max_by is associative/commutative across
        disjoint row sets; ties on LSN are impossible within a key and
        the target-preference bit rides the comparator into phase 2);
        the per-key shuffle weight drops from #rows to ``salt``. The
        default (None) relies on map-side partial aggregation + AQE
        skew handling, which is the right call when keys are merely
        warm; reach for salt when one key dominates whole partitions.

        ``mor=True`` switches this commit to MERGE-ON-READ (Hudi MoR /
        Iceberg v2 positional-delta analogue): the deduped batch is
        appended as bucket-aligned DELTA files and NO target bucket is
        read or rewritten — write cost is O(batch) instead of
        O(touched buckets), the win for update-heavy streams whose
        batches touch most buckets (a 10^10-event replay into a hot
        table rewrites each bucket hundreds of times under CoW).
        Reads resolve base+deltas with one LWW aggregation until
        ``compact()`` folds them; ``maybe_compact`` counts delta files
        as compaction debt, so a streaming job's periodic maintenance
        bounds the read tax automatically. CoW and MoR commits can be
        freely interleaved on one table and produce byte-identical
        state (tests/test_lake_mor.py pins CoW ≡ MoR ≡ oracle).
        ``salt`` is a CoW-path knob and is ignored under ``mor``: the
        MoR aggregation reduces only the batch (map-side combine
        absorbs within-batch hot keys); plain non-LSN writes
        (``merge``/``merge_additive``) refuse while deltas are pending.
        """
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["snapshot_id"]
        self._check_merge_keys(m, keys)
        self._merge_schema(m, batch)
        batch = self._conform(batch, m)

        if mor:
            prev_lsn = m.get("lsn_col")
            if prev_lsn is not None and prev_lsn != lsn_col:
                raise ValueError(
                    f"merge_lsn(mor): table's pending deltas use lsn_col "
                    f"{prev_lsn!r}, got {lsn_col!r}; compact() before switching"
                )
            cols = [n for n, _ in m["schema"]]
            row = F.struct(*[F.col(c) for c in cols])
            pre_part = m.get("bucket_fn", "xxhash64") == "murmur3"
            if pre_part:
                batch = batch.repartition(
                    m.get("buckets", self.buckets),
                    *[F.col(k) for k in self._layout_cols(m, keys)],
                )
            # within-batch dedup only — the target is never read; stale
            # replays below a key's stored LSN are suppressed at read
            # time by the same comparator
            deduped = (
                batch.groupBy(*[F.col(k) for k in keys])
                .agg(F.max_by(row, F.col(lsn_col)).alias("__w"))
                .select("__w.*")
            )
            new_files = self._write_bucket_files(
                deduped, keys, m, pre_partitioned=pre_part
            )
            deltas = m.get("delta_files") or {}
            for b, paths in new_files.items():
                deltas[b] = deltas.get(b, []) + paths
            m["delta_files"] = deltas
            m["lsn_col"] = lsn_col
            m["keys"] = keys
            if batch_id is not None:
                m["batch_ids"].append(batch_id)
            return self._commit(m)

        bucket_col = self._bucket_expr(keys, m)
        if touched is None:
            touched = sorted(
                r["__b"]
                for r in batch.select(bucket_col.alias("__b")).distinct().collect()
            )
        touched_set = {str(b) for b in touched}
        target_files = [
            os.path.join(self.root, "data", p)
            for b, paths in m["files"].items()
            if b in touched_set
            for p in paths
        ]
        cols = [n for n, _ in m["schema"]]
        batch_side = batch.withColumn("__is_target", F.lit(0))
        if target_files:
            ddl = ", ".join(f"`{n}` {t}" for n, t in m["schema"])
            target = self.spark.read.schema(ddl).parquet(*target_files)
            unioned = target.withColumn("__is_target", F.lit(1)).unionByName(batch_side)
        else:
            unioned = batch_side
        row = F.struct(*[F.col(c) for c in cols])
        order = F.struct(F.col(lsn_col), F.col("__is_target"))
        pre_part = False
        if salt and salt > 1:
            # phase 1: per-(key, salt) partial winners — hot keys fan
            # out over `salt` reducers
            salt_col = F.pmod(F.xxhash64(F.col(lsn_col)), F.lit(salt))
            phase1 = (
                unioned.withColumn("__salt", salt_col)
                .groupBy(*[F.col(k) for k in keys], F.col("__salt"))
                .agg(F.max_by(row, order).alias("__w"), F.max(order).alias("__o"))
            )
            # phase 2: collapse the <= salt candidates per key
            merged = (
                phase1.groupBy(*[F.col(k) for k in keys])
                .agg(F.max_by(F.col("__w"), F.col("__o")).alias("__w"))
                .select("__w.*")
            )
        else:
            pre_part = m.get("bucket_fn", "xxhash64") == "murmur3"
            if pre_part:
                # ONE shuffle for the whole merge: hash-partition the
                # union by the merge keys up front — the groupBy then
                # adds no exchange (HashPartitioning(keys) satisfies its
                # clustering) and, since partition i == bucket i under
                # the murmur3 layout, neither does the bucketed write.
                # This trades away map-side combine, which only ever
                # helped within-batch duplicate keys (target rows are
                # unique per key) and measured 1.7x faster end-to-end;
                # a stream with one pathological hot key should use
                # ``salt``, which keeps the combine-first shape.
                unioned = unioned.repartition(
                    m.get("buckets", self.buckets),
                    *[F.col(k) for k in self._layout_cols(m, keys)],
                )
            merged = (
                unioned.groupBy(*[F.col(k) for k in keys])
                .agg(F.max_by(row, order).alias("__w"))
                .select("__w.*")
            )
        new_files = self._write_bucket_files(merged, keys, m, pre_partitioned=pre_part)
        # guard against a caller-supplied `touched` that misses buckets
        # actually present in the batch: those buckets' target rows were
        # never read, so replacing their file lists would silently drop
        # pre-existing rows. Fail the commit instead (round-1 advice).
        stray = set(new_files.keys()) - touched_set
        if stray:
            raise ValueError(
                f"merge_lsn: batch rows landed in buckets {sorted(stray)} outside "
                f"the declared touched set {sorted(touched_set)}; refusing to "
                "commit a merge that would overwrite unread target buckets"
            )
        files = {b: p for b, p in m["files"].items() if b not in touched_set}
        files.update(new_files)
        m["files"] = files
        m["keys"] = keys
        if batch_id is not None:
            m["batch_ids"].append(batch_id)
        return self._commit(m)

    def merge_additive(
        self,
        delta: DataFrame,
        keys: list[str],
        liveness_col: str,
        batch_id: str | None = None,
    ) -> int:
        """Additive MERGE: fold signed per-group deltas into stored
        totals — ``MERGE ... WHEN MATCHED THEN UPDATE SET c = t.c + s.c
        WHEN NOT MATCHED THEN INSERT ... `` plus ``DELETE WHERE
        liveness = 0``, the write half of incremental view maintenance
        (lake/ivm.py).

        ``delta`` carries the group ``keys`` plus signed numeric
        columns; every non-key column in the table schema must be
        summable. ``liveness_col`` is the delta column counting live
        source rows per group (+1 insert/postimage, -1
        delete/preimage): groups whose stored liveness reaches 0 are
        physically deleted, so a fully-retracted group vanishes instead
        of lingering as a zero row.

        Same one-shuffle shape as :meth:`merge_lsn`: union (touched
        target rows ∪ delta rows), pre-partition by the keys on the
        murmur3 bucket layout, and ONE groupBy-sum both combines and
        lands rows in their write buckets — NULL group keys fold
        together natively (groupBy, not a join, so no null-safe
        equality dance). Only buckets containing delta keys are
        rewritten; exactly-once via the ``batch_id`` ledger, which is
        what makes at-least-once changelog redelivery safe upstream.
        """
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["snapshot_id"]
        self._refuse_pending_deltas(m, "merge_additive")
        if not self.exists() or not m["files"]:
            live = delta.filter(F.col(liveness_col) > 0)
            return self.overwrite(live, keys, batch_id)
        self._check_merge_keys(m, keys)
        self._merge_schema(m, delta)
        delta = self._conform(delta, m)
        schema = m["schema"]
        val_cols = [n for n, _ in schema if n not in keys]
        if liveness_col not in val_cols:
            raise ValueError(f"liveness_col {liveness_col!r} not a value column")

        bucket_col = self._bucket_expr(keys, m)
        touched = sorted(
            r["__b"]
            for r in delta.select(bucket_col.alias("__b")).distinct().collect()
        )
        touched_set = {str(b) for b in touched}
        target_files = [
            os.path.join(self.root, "data", p)
            for b, paths in m["files"].items()
            if b in touched_set
            for p in paths
        ]
        if target_files:
            ddl = ", ".join(f"`{n}` {t}" for n, t in schema)
            unioned = (
                self.spark.read.schema(ddl)
                .parquet(*target_files)
                .unionByName(delta)
            )
        else:
            unioned = delta
        types = dict(schema)
        pre_part = m.get("bucket_fn", "xxhash64") == "murmur3"
        if pre_part:
            unioned = unioned.repartition(
                m.get("buckets", self.buckets),
                *[F.col(k) for k in self._layout_cols(m, keys)],
            )
        combined = (
            unioned.groupBy(*[F.col(k) for k in keys])
            .agg(
                *[
                    F.sum(F.col(c)).cast(types[c]).alias(c)
                    for c in val_cols
                ]
            )
            .filter(F.col(liveness_col) > 0)
            .select(*[n for n, _ in schema])
        )
        new_files = self._write_bucket_files(combined, keys, m, pre_partitioned=pre_part)
        stray = set(new_files.keys()) - touched_set
        if stray:
            raise ValueError(
                f"merge_additive: delta rows landed in buckets {sorted(stray)} "
                f"outside the touched set {sorted(touched_set)}; refusing to "
                "overwrite unread target buckets"
            )
        files = {b: p for b, p in m["files"].items() if b not in touched_set}
        files.update(new_files)
        m["files"] = files
        m["keys"] = keys
        if batch_id is not None:
            m["batch_ids"].append(batch_id)
        return self._commit(m)

    def append(self, df: DataFrame | pa.Table, batch_id: str | None = None) -> int:
        """Append-only commit (no key semantics): one new file added to
        bucket '0'. Used for lineage/metrics tables.

        ``df`` is a Spark DataFrame, or a ``pyarrow.Table`` for rows
        that already live on the driver (a lineage row): pyarrow writes
        that file in-process, so the commit runs no Spark job. Both
        writers record the same Spark DDL types in the manifest and
        produce a one-file dir entry, so readers and compaction cannot
        tell them apart."""
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["snapshot_id"]
        if m.get("keys"):
            # appending to a key-merged table would silently break the
            # one-row-per-key invariant every reader relies on
            raise ValueError(
                f"append-only commit on a table merged by keys {m['keys']}; "
                "use merge()/merge_lsn() so key semantics hold"
            )
        out_rel = f"a{uuid.uuid4().hex[:12]}"
        out_abs = os.path.join(self.root, "data", out_rel)
        if isinstance(df, DataFrame):
            self._merge_schema(m, df)
            df = self._conform(df, m)
            df.coalesce(1).write.mode("overwrite").parquet(out_abs)
        else:
            self._write_arrow(df, m, out_abs)
        m["files"].setdefault("0", []).append(out_rel)
        if batch_id is not None:
            m["batch_ids"].append(batch_id)
        return self._commit(m)

    def _write_arrow(self, tbl: pa.Table, manifest: dict, out_abs: str) -> None:
        """Driver-side twin of the Spark append write: add ``tbl``'s new
        columns to the manifest schema as Spark DDL types, conform it to
        that schema (NULL-fill missing columns, cast the rest), and
        write it as the single parquet file of the dir ``out_abs``."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_type, to_arrow_schema
        from pyspark.sql.types import StructType

        known = {n for n, _ in manifest["schema"]}
        for field in tbl.schema:
            if field.name not in known:
                manifest["schema"].append(
                    [field.name, from_arrow_type(field.type).simpleString()]
                )
        ddl = ", ".join(f"`{n}` {t}" for n, t in manifest["schema"])
        schema = to_arrow_schema(StructType.fromDDL(ddl))
        cols = [
            tbl.column(f.name).cast(f.type)
            if f.name in tbl.column_names
            else pa.nulls(tbl.num_rows, f.type)
            for f in schema
        ]
        os.makedirs(out_abs)
        pq.write_table(
            pa.Table.from_arrays(cols, schema=schema),
            os.path.join(out_abs, f"part-00000-{uuid.uuid4()}.parquet"),
            compression="zstd",
            coerce_timestamps="us",
        )

    def compact(
        self,
        keys: list[str] | None = None,
        drop_tombstones_col: str | None = None,
        sort_by: list[str] | None = None,
        max_records_per_file: int | None = None,
        zorder_by: list[str] | None = None,
        zorder_bits: int = 4,
    ) -> int:
        """Rewrite the table into fresh bucket files: merges the small
        files accumulated by appends/merges and optionally drops
        merge-on-read tombstone rows (physical cleanup of logical
        deletes — safe once no replayable stream can carry LSNs at or
        below the live watermark).

        ``sort_by`` declares a PERSISTED secondary sort order (Iceberg
        sort-order analogue): this rewrite and every later write sort
        rows within each bucket on those columns (per-partition sort,
        no extra shuffle), so scans filtering on them skip parquet row
        groups. ``max_records_per_file`` splits each bucket into
        range-disjoint part files recorded as individual manifest
        entries, so :meth:`read_where` prunes at split grain — a point
        or range lookup on the sort column opens ~one part per bucket
        instead of the whole bucket. Pass ``sort_by=[]`` to drop a
        previously persisted order.

        ``zorder_by`` persists MULTI-column clustering instead
        (Iceberg/Delta Z-ORDER analogue): each column is quantile-
        bucketed into ``2**zorder_bits`` ranks (boundaries estimated
        once here, stored in the manifest) and the rank bits are
        interleaved into one Morton key the within-bucket sort runs
        on — so part files stay simultaneously tight on EVERY listed
        column and :meth:`read_where` prunes on any of them, where a
        lexicographic ``sort_by`` only ever helps its prefix. Numeric/
        timestamp columns only; quantile (not min/max) ranks keep
        skewed distributions from collapsing into one bucket. Later
        merges recompute the Morton key from the STORED boundaries —
        cheap, shuffle-free, and consistent until the next compact
        re-estimates. Mutually exclusive with ``sort_by``;
        ``zorder_by=[]`` clears it."""
        m = self._read_manifest()
        explicit = keys is not None
        keys = keys or m.get("keys") or [m["schema"][0][0]]
        if sort_by is not None and zorder_by:
            raise ValueError("sort_by and zorder_by are mutually exclusive")
        if sort_by is not None:
            known = {n for n, _ in m["schema"]}
            bad = [c for c in sort_by if c not in known]
            if bad:
                raise ValueError(f"sort_by columns not in table schema: {bad}")
            m["sort_order"] = sort_by
            if sort_by:
                m["zorder"] = None
            # a sort order without footer stats on its columns can't feed
            # the manifest prune — record them from this commit onward
            missing_stats = [c for c in sort_by if c not in (m.get("stats_cols") or [])]
            if missing_stats:
                m["stats_cols"] = (m.get("stats_cols") or []) + missing_stats
        df = self.read()
        if zorder_by is not None:
            if not zorder_by:
                m["zorder"] = None
            else:
                m["zorder"] = self._estimate_zorder(df, zorder_by, zorder_bits, m)
                m["sort_order"] = []
                missing_stats = [
                    c for c in zorder_by if c not in (m.get("stats_cols") or [])
                ]
                if missing_stats:
                    m["stats_cols"] = (m.get("stats_cols") or []) + missing_stats
        if drop_tombstones_col and drop_tombstones_col in df.columns:
            df = df.filter(~F.coalesce(F.col(drop_tombstones_col), F.lit(False)))
        m["files"] = self._write_bucket_files(
            df, keys, m, max_records_per_file=max_records_per_file
        )
        # self.read() above resolved any pending merge-on-read deltas,
        # so this rewrite folds them into the base — clear the ledger
        m["delta_files"] = {}
        m["lsn_col"] = None
        if explicit or m.get("keys"):
            # record merge keys only where key semantics exist — an
            # append-only table (lineage/metrics) compacts under a
            # default layout column WITHOUT acquiring keys, which would
            # make its next append() refuse
            m["keys"] = keys
        return self._commit(m)

    @staticmethod
    def _refuse_pending_deltas(m: dict, op: str) -> None:
        """Plain (non-LSN) write paths have 'batch wins unconditionally'
        semantics that read-time LWW resolution would silently override
        whenever a pending delta carries a higher LSN — refuse instead
        of corrupting; merge_lsn (both modes) interleaves fine."""
        if m.get("delta_files"):
            raise ValueError(
                f"{op}: table has pending merge-on-read delta files; "
                "compact() to fold them before a non-LSN write"
            )

    def _check_merge_keys(self, m: dict, keys: list[str]) -> None:
        """Incremental merges prune by the bucket layout, which is a
        function of the KEYS the files were written under — merging by
        different keys would read the wrong buckets and duplicate or
        drop rows (same corruption class as a bucket-count mismatch).
        Refuse; an intentional re-layout is compact(keys=...) or
        rebucket(), both full rewrites."""
        if m.get("keys") and list(m["keys"]) != list(keys) and m["files"]:
            raise ValueError(
                f"merge keys {list(keys)} differ from the table's bucket-layout "
                f"keys {list(m['keys'])}; an incremental merge would prune the "
                "wrong buckets. Re-layout explicitly with compact(keys=...) or "
                "rebucket(new_buckets, keys=...)."
            )
        bcols = m.get("bucket_cols") or self.bucket_cols
        if bcols and not set(bcols) <= set(keys):
            raise ValueError(
                f"bucket_cols {list(bcols)} must be a subset of the merge "
                f"keys {list(keys)}; re-layout with rebucket(..., "
                "bucket_cols=...)"
            )

    def bucket_count(self, snapshot_id: int | None = None) -> int:
        """The table's COMMITTED bucket count (manifests created before
        the field fall back to the constructor value)."""
        return self._read_manifest(snapshot_id).get("buckets", self.buckets)

    def rebucket(
        self,
        new_buckets: int,
        keys: list[str] | None = None,
        bucket_cols: list[str] | None = None,
    ) -> int:
        """Change the bucket layout — the operational move when a table
        outgrows its create-time count (a 100 TB table wants a bucket
        ~ a few GB), or when an access pattern wants a different
        ``bucket_cols`` prefix. One full rewrite under the new layout;
        the recorded count/columns and the rewritten file lists change
        in the SAME atomic commit, so concurrent writers either see
        the old layout whole or the new one (a racer committing
        against the old manifest gets CommitConflict and re-reads)."""
        m = self._read_manifest()
        keys = keys or m.get("keys") or [m["schema"][0][0]]
        if bucket_cols is not None:
            if not set(bucket_cols) <= set(keys):
                raise ValueError(
                    f"bucket_cols {bucket_cols} must be a subset of keys {keys}"
                )
            m["bucket_cols"] = list(bucket_cols)
        elif m.get("bucket_cols") and not set(m["bucket_cols"]) <= set(keys):
            m["bucket_cols"] = None  # old prefix no longer applies
        df = self.read()
        m["buckets"] = new_buckets
        m["files"] = self._write_bucket_files(df, keys, m)
        m["delta_files"] = {}
        m["lsn_col"] = None
        m["keys"] = keys
        return self._commit(m)

    def maybe_compact(
        self,
        max_files_per_bucket: int = 8,
        keys: list[str] | None = None,
        drop_tombstones_col: str | None = None,
    ) -> int | None:
        """Cost-gated auto-compaction: rewrite only when some bucket has
        accumulated more than ``max_files_per_bucket`` files (append
        churn / lineage tables). Returns the new snapshot id, or None
        when the layout is already tight — the maintenance hook a
        streaming job calls every N epochs without paying a rewrite
        each time.

        Split part files (``compact(max_records_per_file=...)``, entries
        ending in .parquet) are an INTENTIONAL layout, not debt — a
        bucket's split parts count as one; only dir entries (merge
        rewrites, appends) accumulate toward the threshold."""
        m = self._read_manifest()
        deltas = m.get("delta_files") or {}

        def debt(b: str, paths: list[str]) -> int:
            dirs = sum(1 for p in paths if not p.endswith(".parquet"))
            has_split_parts = dirs < len(paths)
            # every pending merge-on-read delta file is read tax on
            # EACH scan of its bucket — full debt, never layout
            return dirs + (1 if has_split_parts else 0) + len(deltas.get(b, []))

        worst = max(
            (debt(b, m["files"].get(b, [])) for b in set(m["files"]) | set(deltas)),
            default=0,
        )
        if worst <= max_files_per_bucket:
            return None
        return self.compact(keys=keys, drop_tombstones_col=drop_tombstones_col)

    def expire_snapshots(self, keep_last: int = 2) -> list[str]:
        """Iceberg-style snapshot expiry: drop all but the newest
        ``keep_last`` manifests and physically remove data directories
        no kept snapshot references (the vacuum that bounds storage
        under copy-on-write churn — every merge rewrites touched
        buckets into fresh files and strands the old ones).

        Returns the removed top-level data dirs. Time travel remains
        available for the kept snapshots only; committed batch_ids are
        carried in every manifest, so exactly-once replay protection
        survives expiry."""
        ids = self._snapshot_ids()
        keep = set(ids[-keep_last:]) if keep_last > 0 else set(ids)
        referenced: set[str] = set()
        for sid in keep:
            m = self._read_manifest(sid)
            for fset in (m["files"], m.get("delta_files") or {}):
                for paths in fset.values():
                    for p in paths:
                        referenced.add(p.split("/")[0])
        for sid in ids:
            if sid not in keep:
                os.remove(os.path.join(self.root, "snapshots", f"{sid}.json"))
        removed = []
        data_dir = os.path.join(self.root, "data")
        for entry in sorted(os.listdir(data_dir)):
            if entry not in referenced:
                shutil.rmtree(os.path.join(data_dir, entry), ignore_errors=True)
                removed.append(entry)
        return removed

    def rollback_to(self, snapshot_id: int) -> int:
        """Iceberg-style rollback: make the table state equal to an
        older kept snapshot by committing a NEW snapshot that carries
        that manifest's files/schema/keys/batch_ids — history moves
        forward (time travel to the interim snapshots still works until
        expiry), the optimistic-concurrency protocol is untouched, and
        the batch_id ledger reverts with the data so a replayed stream
        re-applies everything after the rollback point exactly once.

        Refuses when the target snapshot's manifest or any data file it
        references has been removed by :meth:`expire_snapshots`
        (rollback past the expiry horizon is impossible under vacuum,
        as in Iceberg)."""
        try:
            target = self._read_manifest(snapshot_id)
        except FileNotFoundError:
            raise ValueError(
                f"rollback_to({snapshot_id}): snapshot manifest expired; "
                "cannot roll back past the expiry horizon"
            ) from None
        missing = [
            p
            for fset in (target["files"], target.get("delta_files") or {})
            for paths in fset.values()
            for p in paths
            if not os.path.exists(os.path.join(self.root, "data", p))
        ]
        if missing:
            raise ValueError(
                f"rollback_to({snapshot_id}): {len(missing)} data file(s) expired, "
                f"e.g. {missing[0]}; cannot roll back past the expiry horizon"
            )
        # Build the new manifest FROM the target (not by patching the
        # current one field-by-field): fields that exist now but not at
        # the target — e.g. "keys" when rolling back to a pre-first-merge
        # snapshot — must revert too, and future manifest fields revert
        # automatically. Only the snapshot_id is taken from the current
        # head so _commit lands at head+1 (optimistic concurrency keeps
        # protecting against a racing writer). rollback_to(0) works as
        # truncate-to-empty: _read_manifest(0) synthesizes the empty
        # manifest, so the committed snapshot carries no files.
        head = self.current_snapshot_id()
        new_manifest = {**target, "snapshot_id": head}
        return self._commit(new_manifest)

    # --- schema evolution ----------------------------------------------------------

    def ops_report(self, count_tombstones_col: str | None = None) -> dict:
        """Table-health summary for operators: manifest-only (no Spark
        job) unless ``count_tombstones_col`` is given, which adds ONE
        column-pruned count. The numbers an on-call actually pages on:
        file churn (compaction debt), snapshot retention (rollback
        horizon), and tombstone load (merge-on-read read tax)."""
        m = self._read_manifest()
        per_bucket = {b: len(v) for b, v in m["files"].items()}
        report = {
            "snapshot_id": m["snapshot_id"],
            "snapshots_retained": len(self._snapshot_ids()),
            "buckets": m.get("buckets", self.buckets),
            "buckets_with_files": len(per_bucket),
            "data_files": sum(per_bucket.values()),
            "max_files_per_bucket": max(per_bucket.values(), default=0),
            "schema_columns": len(m["schema"]),
            "committed_batches": len(m["batch_ids"]),
            "delta_files": sum(
                len(v) for v in (m.get("delta_files") or {}).values()
            ),
            "mapping_version": m.get("mapping_version", 0),
            "keys": m.get("keys"),
            "stats_cols": m.get("stats_cols"),
            "sort_order": m.get("sort_order"),
            "zorder": (m.get("zorder") or {}).get("cols"),
        }
        if count_tombstones_col and any(
            n == count_tombstones_col for n, _ in m["schema"]
        ):
            df = self.read()
            report["tombstones"] = df.filter(
                F.coalesce(F.col(count_tombstones_col), F.lit(False))
            ).count()
            report["live_rows"] = df.count() - report["tombstones"]
        return report

    def rename_column(self, old: str, new: str) -> int:
        """Record a feed-side rename: feed column ``new`` maps to the
        physical column ``old``. Versioned — every call bumps
        ``mapping_version`` (SURVEY.md §2.10 schema-evolution row)."""
        m = self._read_manifest()
        m["column_mapping"][new] = old
        m["mapping_version"] += 1
        return self._commit(m)

    def resolve_feed_columns(self, df: DataFrame) -> DataFrame:
        """Apply the column mapping to an incoming feed batch, so a
        renamed feed column lands in its physical column."""
        m = self._read_manifest()
        for feed_name, physical in m["column_mapping"].items():
            if feed_name in df.columns and physical not in df.columns:
                df = df.withColumnRenamed(feed_name, physical)
        return df

    def drop(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


class ChangelogReader:
    """Incremental CDC-out consumer over :meth:`LakeTable.changelog`.

    Tracks the last snapshot it delivered in a cursor file and hands
    out the net row-level diff since then — the polling analog of a
    Kafka consumer group on a change topic, for downstream syncs that
    want "what changed since I last looked" without re-scanning the
    table. At-least-once: process the polled frame FIRST, then
    :meth:`commit`; a crash before commit re-delivers the same span on
    the next poll (changelog spans are deterministic, so redelivery is
    byte-identical). The cursor write is atomic (tmp + rename).

    Keep the consumer inside the producer's snapshot-retention window
    (``expire_snapshots(keep_last=...)``): a cursor older than the
    oldest retained manifest refuses with the changelog's clear
    expired error rather than mis-diffing.
    """

    def __init__(self, table: LakeTable, cursor_path: str):
        self.table = table
        self.cursor_path = cursor_path

    def position(self) -> int:
        """Last committed snapshot (0 = never consumed)."""
        try:
            with open(self.cursor_path) as f:
                return json.load(f)["snapshot_id"]
        except FileNotFoundError:
            return 0

    def poll(self, include_preimage: bool = False) -> tuple[DataFrame, int] | None:
        """(changes, to_snapshot) since the cursor, or None if caught
        up. A cursor of 0 yields the whole table as inserts (initial
        sync and incremental consumption are the same code path)."""
        frm, to = self.position(), self.table.current_snapshot_id()
        if to <= frm:
            return None
        return self.table.changelog(frm, to, include_preimage=include_preimage), to

    def commit(self, snapshot_id: int) -> None:
        os.makedirs(os.path.dirname(self.cursor_path) or ".", exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(self.cursor_path) or ".")
        with os.fdopen(fd, "w") as f:
            json.dump({"snapshot_id": snapshot_id}, f)
        os.replace(tmp, self.cursor_path)
