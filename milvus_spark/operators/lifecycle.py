"""Collection storage lifecycle: append / upsert / delete / MVCC read / compact.

Reference parity (file:line into /root/reference):
  - Insert (WAL append, ts assignment): internal/proxy/task_insert.go,
    task_insert_streaming.go — here: parquet segment append stamped with a
    monotonically increasing batch timestamp ``_ts``.
  - Upsert = delete-by-pk + insert, atomic per batch: internal/proxy/
    task_upsert.go — here: tombstone the incoming pks at ts, append new rows.
  - Delete (simple pk list / complex filter → pks): internal/proxy/
    task_delete.go:426-716 — here: tombstone table append (pk, _del_ts).
  - MVCC snapshot read: internal/core/src/exec/operator/MvccNode.cpp:56 and
    DeletedRecord.h:69 — here: ``_ts <= as_of`` filter + anti-join of
    tombstones with ``_del_ts <= as_of``.
  - Compaction (mix + L0): internal/datanode/compactor/mix_compactor.go,
    l0_compactor.go — here: read segments, anti-join tombstones, rewrite
    sorted-by-pk segments, drop tombstones.
  - Sort compaction: sort_compaction.go — ``sortWithinPartitions(pk)``.

Scale notes: every read is ``segments LEFT ANTI JOIN tombstones`` on the pk.
Tombstones are small (delete deltas) → broadcast anti-join, no shuffle of the
data side. Compaction repartitions by pk range and sorts within partitions —
the same layout clustering compaction produces, which gives parquet min/max
pruning on pk for free.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TS_COL = "_ts"
DEL_TS_COL = "_del_ts"

# merged segment schemas memoized per seg_dir, validated by the (path,
# size, mtime) signature of every segment file — see Collection._read_segments
_SEGMENT_SCHEMA_MEMO: dict = {}


def atomic_write_json(path: str, obj, **dump_kw) -> None:
    """Write JSON so readers see the old file or the new one, never a
    torn one: dump to a temp file in the same directory, fsync it, then
    ``os.replace`` it over ``path``."""
    fd, tmp = tempfile.mkstemp(
        prefix=os.path.basename(path) + ".", suffix=".tmp",
        dir=os.path.dirname(path) or ".",
    )
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, **dump_kw)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise


def _iter_parquet_files(root: str):
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                yield os.path.join(dirpath, f)


class Collection:
    """A parquet-backed collection with MVCC timestamps and delete tombstones."""

    def __init__(
        self, spark: SparkSession, path: str, pk: str, partition_key: str | None = None
    ):
        self.spark = spark
        self.path = path
        self.pk = pk
        # partition-key mode: a designated field routes rows to physical
        # partitions (is_partition_key, plan.proto:112; resolution
        # task_search.go:196-225) → partitionBy layout, pruning at the scan
        self.partition_key = partition_key
        self.seg_dir = os.path.join(path, "segments")
        self.tomb_dir = os.path.join(path, "tombstones")

    # -- DML ------------------------------------------------------------------
    def append(self, df: DataFrame, ts: int) -> None:
        """Insert a row batch stamped with write timestamp ``ts``."""
        w = df.withColumn(TS_COL, F.lit(int(ts)).cast("long")).write.mode("append")
        if self.partition_key:
            w = w.partitionBy(self.partition_key)
        w.parquet(self.seg_dir)

    def delete_pks(self, pks_df: DataFrame, ts: int) -> None:
        """Simple delete: tombstone an explicit pk set (fast path)."""
        pks_df.select(F.col(self.pk)).withColumn(
            DEL_TS_COL, F.lit(int(ts)).cast("long")
        ).write.mode("append").parquet(self.tomb_dir)

    def delete_where(self, cond, ts: int) -> None:
        """Complex delete: filter resolves pks (internal query), then tombstone.

        Pks resolve against the snapshot STRICTLY BEFORE ``ts`` (as_of=ts-1):
        the read-side kill condition is ``_ts < _del_ts``, so a row written
        AT ts can never be killed by a ts tombstone (that ordering is what
        keeps upsert's delete-then-insert at one ts atomic) — resolving at
        as_of=ts would emit inert tombstones for same-ts rows."""
        self.delete_pks(self.read(as_of=int(ts) - 1).filter(cond).select(self.pk), ts)

    def upsert(self, df: DataFrame, ts: int) -> None:
        """Delete-by-pk + insert, atomic per batch (MERGE semantics)."""
        self.delete_pks(df.select(self.pk), ts)
        self.append(df, ts)

    def upsert_partial(
        self, df: DataFrame, ts: int, field_ops: dict[str, str] | None = None
    ) -> None:
        """Partial-field update (task_upsert_partial_op.go): ``df`` carries the
        pk plus a subset of columns; unspecified columns keep their current
        values. Read-modify-write per batch: fetch the touched rows' visible
        state, overlay the new values, then normal upsert. The fetch is a
        broadcast semi-join on the (small) update batch — the corpus is never
        shuffled.

        ``field_ops`` maps an ARRAY column to ``"array_append"`` /
        ``"array_remove"`` (FieldOp, test_milvus_client_partial_update_array_op.py,
        issue #49241): instead of replacing the stored array, append the
        batch's elements to it, or remove ALL occurrences of each batch
        element (duplicates of non-removed values survive — higher-order
        filter, not array_except which would dedup)."""
        field_ops = field_ops or {}
        current = self.read().drop(TS_COL)
        touched = current.join(F.broadcast(df.select(self.pk)), self.pk, "left_semi")
        updated_cols = [c for c in df.columns if c != self.pk]

        def merged_col(c: str):
            old, new = F.col(f"old.{c}"), F.col(f"new.{c}")
            op = field_ops.get(c)
            if op == "array_append":
                empty = F.array().cast(current.schema[c].dataType)
                return F.concat(F.coalesce(old, empty), F.coalesce(new, empty))
            if op == "array_remove":
                # keep an element unless array_contains is definitively
                # TRUE — a bare ~contains would also drop stored NULL
                # elements (contains(new, null) is NULL, ~NULL is NULL)
                return F.when(new.isNull(), old).otherwise(
                    F.filter(
                        old,
                        lambda x: ~F.coalesce(F.array_contains(new, x), F.lit(False)),
                    )
                )
            if c in updated_cols:
                return new
            return old

        overlay = touched.alias("old").join(df.alias("new"), self.pk)
        merged = overlay.select(
            self.pk,
            *[merged_col(c).alias(c) for c in current.columns if c != self.pk],
        )
        # tombstone from the (small) incoming batch, not from merged — going
        # through upsert(merged) would materialize merged's corpus-join
        # lineage twice (once for its delete leg, once for append). Batch pks
        # absent from the store leave inert tombstones; merged holds exactly
        # the existing ones.
        self.delete_pks(df.select(self.pk), ts)
        self.append(merged, ts)

    # -- read -----------------------------------------------------------------
    def _tombstones(self) -> DataFrame | None:
        if not os.path.isdir(self.tomb_dir):
            return None
        return self.spark.read.parquet(self.tomb_dir)

    def read(self, as_of: int | None = None) -> DataFrame:
        """Snapshot read at MVCC timestamp ``as_of`` (None = latest).

        A row is visible iff its insert ts ≤ as_of and no tombstone for its pk
        exists in (insert_ts, as_of]. Tombstones only kill rows written at or
        before the delete — an upsert re-inserting the same pk at the delete
        ts stays visible (delete-then-insert batch ordering, task_upsert.go).
        """
        self._recover_segments()
        df = self._read_segments()
        if as_of is not None:
            df = df.filter(F.col(TS_COL) <= int(as_of))
        tombs = self._tombstones()
        if tombs is None:
            return df
        if as_of is not None:
            tombs = tombs.filter(F.col(DEL_TS_COL) <= int(as_of))
        cond = (df[self.pk] == tombs[self.pk]) & (df[TS_COL] < tombs[DEL_TS_COL])
        return df.join(F.broadcast(tombs), cond, "left_anti")

    def _read_segments(self) -> DataFrame:
        """Segment scan with the MERGED schema (segments written before an
        add_field lack the new column; the merged schema surfaces it as null
        there — the add_field/drop_field evolution analog).

        r12 (guide §5 — the driver should do almost no data work): the old
        ``mergeSchema=true`` read swept EVERY segment file's footer on the
        driver on EVERY read() call — ~40-80 ms per call locally and linear
        in segment count at scale. The merged schema is instead derived once
        per distinct segment-file signature (path, size, mtime of every
        file) and re-reads pass it explicitly: parquet's per-file schema
        clipping yields exactly the mergeSchema semantics for the
        engine-written evolution shapes (a file missing a merged column
        reads as null there), because segments only ever differ by
        added/removed columns."""
        sig = tuple(
            sorted(
                (f, st.st_size, st.st_mtime_ns)
                for f, st in (
                    (p, os.stat(p))
                    for p in _iter_parquet_files(self.seg_dir)
                )
            )
        )
        cached = _SEGMENT_SCHEMA_MEMO.get(self.seg_dir)
        if cached is None or cached[0] != sig:
            schema = (
                self.spark.read.option("mergeSchema", "true")
                .parquet(self.seg_dir)
                .schema
            )
            if len(_SEGMENT_SCHEMA_MEMO) > 4096:  # bound stale growth
                _SEGMENT_SCHEMA_MEMO.clear()
            _SEGMENT_SCHEMA_MEMO[self.seg_dir] = (sig, schema)
        else:
            schema = cached[1]
        return self.spark.read.schema(schema).parquet(self.seg_dir)

    # -- maintenance ----------------------------------------------------------
    def _segment_files(self) -> set:
        import glob

        return {
            os.path.relpath(f, self.seg_dir)
            for f in glob.glob(
                os.path.join(self.seg_dir, "**", "*.parquet"), recursive=True
            )
        }

    def _record_cdc_watermark(self) -> None:
        """Compaction folds tombstones into data and drops them — change
        history at or before this moment is no longer reconstructible. The
        watermark (max folded ts) lets changes() fail loudly instead of
        silently omitting pre-compaction deletes."""
        segs = self.spark.read.option("mergeSchema", "true").parquet(self.seg_dir)
        wm = segs.agg(F.max(TS_COL)).first()[0] or 0
        tombs = self._tombstones()
        if tombs is not None:
            tw = tombs.agg(F.max(DEL_TS_COL)).first()[0] or 0
            wm = max(int(wm), int(tw))
        atomic_write_json(
            os.path.join(self.path, "cdc_watermark.json"),
            {"compacted_through_ts": int(wm)},
        )

    def _cdc_watermark(self) -> int:
        p = os.path.join(self.path, "cdc_watermark.json")
        if not os.path.exists(p):
            return 0
        with open(p) as f:
            return int(json.load(f)["compacted_through_ts"])

    def _recover_segments(self) -> None:
        """Crash recovery for _swap_segments: if a kill (or a concurrent
        reader) lands in the instant between renaming live → .old and
        renaming the rewrite in, seg_dir is briefly missing. On the next
        access, restore whichever survivor exists — the fully-written
        rewrite (tombstones already folded in) wins over .old (pre-rewrite
        state, tombstone dir still intact); both are complete snapshots."""
        if os.path.isdir(self.seg_dir):
            return
        for suffix in (".compacting", ".clustering", ".old"):
            cand = self.seg_dir + suffix
            # only promote a COMPLETE snapshot: a crash during the aside
            # write leaves a partial tmp dir with no _SUCCESS commit marker
            # (the live dir and any finished rewrite always carry one) —
            # promoting it would silently drop rows
            if os.path.isdir(cand) and os.path.exists(
                os.path.join(cand, "_SUCCESS")
            ):
                os.rename(cand, self.seg_dir)
                return

    def _swap_segments(self, df: DataFrame, suffix: str) -> None:
        """Write ``df`` as the new segment set and swap it in crash-safely:
        write aside → rename live out of the way → rename new in → drop the
        old set + folded tombstones. A kill at any point leaves either the
        old live dir or the fully-written new one on disk under a known
        name; the residual window is the instant between the two renames,
        where seg_dir itself is missing — _recover_segments() (run at every
        read) restores the surviving snapshot, so nothing is lost and the
        next access self-heals."""
        import shutil

        tmp = self.seg_dir + suffix
        w = df.write.mode("overwrite").option(
            f"parquet.bloom.filter.enabled#{self.pk}", "true"
        )
        if self.partition_key:
            # the rewrite must preserve the hive layout (a flat rewrite
            # would mix directory depths with later partitioned appends and
            # break partition discovery)
            w = w.partitionBy(self.partition_key)
        w.parquet(tmp)
        self._record_cdc_watermark()
        old = self.seg_dir + ".old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(self.seg_dir, old)
        os.rename(tmp, self.seg_dir)
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(self.tomb_dir):
            shutil.rmtree(self.tomb_dir)

    def compact(self, num_partitions: int = 4, exclude_ts: list[int] | None = None) -> None:
        """Mix+L0 compaction: fold tombstones into data, rewrite sorted by pk.

        ``exclude_ts``: write timestamps to reclaim permanently (TTL-expired
        batches — compaction is where Milvus physically drops expired rows).

        Output files are range-partitioned and sorted on the pk with a parquet
        bloom filter on the pk column — so post-compaction point lookups get
        both min/max row-group pruning (SkipIndex.h analog) and bloom pruning
        (pkoracle/bloom_filter_set.go analog) for free at the scan.
        """
        live = self.read()
        if exclude_ts:
            live = live.filter(~F.col(TS_COL).isin([int(t) for t in exclude_ts]))
        compacted = (
            live.repartitionByRange(num_partitions, F.col(self.pk))
            .sortWithinPartitions(self.pk)
        )
        self._swap_segments(compacted, ".compacting")

    def compact_clustering(self, key: str, num_partitions: int = 8) -> dict:
        """Clustering compaction by a scalar clustering key
        (internal/datanode/compactor/clustering_compactor.go:64,249 — range
        mode; the vector/k-means mode is operators/ivf.py's centroid layout).

        Rewrites all live rows range-partitioned + sorted by ``key`` and
        records a per-file [min, max] manifest — the PartitionStatsSnapshot
        analog — so range predicates on the clustering key can skip whole
        files before Spark even lists them (delegator/segment_pruner.go:36).
        Parquet row-group min/max still prunes inside each file; the manifest
        saves the file-open round trips, which is what matters when a 100 TB
        collection has tens of thousands of files on object storage.
        """
        if key == self.partition_key:
            # hive files don't carry the partition column in their footers,
            # so no per-file [min,max] could be recorded — and directory
            # pruning already covers equality/range on the partition key
            raise ValueError(
                f"clustering key {key!r} is the partition key; the hive "
                f"layout already prunes on it"
            )
        live = self.read()
        if key not in live.columns:
            raise ValueError(f"unknown clustering key {key!r}")
        clustered = live.repartitionByRange(num_partitions, F.col(key)).sortWithinPartitions(key)
        self._swap_segments(clustered, ".clustering")
        # per-file stats from parquet footers only — no data scan; recursive
        # glob + relative names so hive-partitioned layouts manifest too
        import pyarrow.parquet as pq

        stats: dict[str, list] = {}
        for rel in sorted(self._segment_files()):
            f = os.path.join(self.seg_dir, rel)
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[key]
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is not None and st.has_min_max:
                    mins.append(st.min)
                    maxs.append(st.max)
            if mins:
                stats[os.path.relpath(f, self.seg_dir)] = [min(mins), max(maxs)]
        manifest = {"key": key, "files": stats}
        atomic_write_json(
            os.path.join(self.path, "partition_stats.json"),
            manifest, indent=2, default=str,
        )
        return manifest

    def read_pruned(self, lo, hi) -> DataFrame:
        """Range read on the clustering key using the partition-stats manifest
        to skip non-overlapping files (segment_pruner.go range pruning), then
        the exact ``key BETWEEN lo AND hi`` filter on the survivors.

        Defense-in-depth vs a stale manifest (segment set changed without
        invalidating it): if any manifest file is missing from disk, OR any
        on-disk segment file is absent from the manifest (a post-clustering
        append), the stats no longer describe the segment set — fall back
        to the exact full scan rather than resurrect/skip rows. The pruned
        path also applies tombstones, exactly like read(): deletes recorded
        AFTER the clustering compaction must stay invisible here too."""
        mpath = os.path.join(self.path, "partition_stats.json")
        with open(mpath) as f:
            manifest = json.load(f)
        key = manifest["key"]
        if set(manifest["files"]) != self._segment_files():
            return self.read().filter(F.col(key).between(lo, hi))
        keep = [
            os.path.join(self.seg_dir, fname)
            for fname, (fmin, fmax) in manifest["files"].items()
            if not (fmax < lo or fmin > hi)
        ]
        if not keep:
            return self.read().filter(F.lit(False))
        # basePath keeps hive partition discovery alive when explicit leaf
        # files are listed — without it a partition-key collection's
        # partition column silently vanishes from the pruned frame
        df = self.spark.read.option("basePath", self.seg_dir).parquet(*keep)
        tombs = self._tombstones()
        if tombs is not None:
            cond = (df[self.pk] == tombs[self.pk]) & (df[TS_COL] < tombs[DEL_TS_COL])
            df = df.join(F.broadcast(tombs), cond, "left_anti")
        return df.filter(F.col(key).between(lo, hi))

    # -- CDC -------------------------------------------------------------------
    def changes(self, since: int, until: int) -> DataFrame:
        """Change-data-capture stream for the window (since, until]
        (internal/cdc/ replication; Delta CDF analog). Emits the pk-level
        change log: op ∈ {insert, delete} with the change timestamp. An upsert
        appears as delete+insert at the same ts (task_upsert.go batch order).
        Segments/tombstones are append-only BETWEEN compactions, so a
        replicator tails this incrementally; a compaction folds tombstones
        away, so a window reaching at or before the recorded compaction
        watermark cannot be reconstructed and raises instead of silently
        omitting the folded deletes.
        """
        wm = self._cdc_watermark()
        if int(since) < wm:
            raise ValueError(
                f"change window since={since} predates the last compaction "
                f"(watermark ts={wm}); deltas up to the watermark were "
                f"folded — re-sync from a snapshot instead"
            )
        segs = self.spark.read.option("mergeSchema", "true").parquet(self.seg_dir)
        ins = segs.filter(
            (F.col(TS_COL) > int(since)) & (F.col(TS_COL) <= int(until))
        ).select(
            F.lit("insert").alias("op"), F.col(self.pk), F.col(TS_COL).alias("change_ts")
        )
        tombs = self._tombstones()
        if tombs is None:
            return ins
        dels = tombs.filter(
            (F.col(DEL_TS_COL) > int(since)) & (F.col(DEL_TS_COL) <= int(until))
        ).select(
            F.lit("delete").alias("op"), F.col(self.pk), F.col(DEL_TS_COL).alias("change_ts")
        )
        return ins.unionByName(dels)

    # -- snapshot / restore ----------------------------------------------------
    def snapshot(self, name: str) -> str:
        """Point-in-time snapshot: copy segment + tombstone state under
        snapshots/<name> (task_snapshot.go / internal/snapshotio analog —
        directory manifest pin; cheap because segments are immutable)."""
        import shutil

        dst = os.path.join(self.path, "snapshots", name)
        if os.path.isdir(dst):
            raise ValueError(f"snapshot {name} exists")
        os.makedirs(dst)
        shutil.copytree(self.seg_dir, os.path.join(dst, "segments"))
        if os.path.isdir(self.tomb_dir):
            shutil.copytree(self.tomb_dir, os.path.join(dst, "tombstones"))
        return dst

    def restore(self, name: str) -> None:
        import shutil

        src = os.path.join(self.path, "snapshots", name)
        if not os.path.isdir(src):
            raise ValueError(f"no snapshot {name}")
        shutil.rmtree(self.seg_dir, ignore_errors=True)
        shutil.rmtree(self.tomb_dir, ignore_errors=True)
        shutil.copytree(os.path.join(src, "segments"), self.seg_dir)
        if os.path.isdir(os.path.join(src, "tombstones")):
            shutil.copytree(os.path.join(src, "tombstones"), self.tomb_dir)

    def count(self) -> int:
        return self.read().count()
