"""Snapshot-committed parquet table (Iceberg-semantics fallback).

The reference's store is an append-only JSONL file keyed by record id
(``hybrid.py:54-64,270-271``; ``scan_and_store.py:58-119``). At scale the
design target is an Iceberg table (append / merge / snapshot); the Iceberg
runtime jar is not available offline (SURVEY.md §7.3.4), so this module
implements the same commit semantics on plain parquet:

* a table is a directory with immutable data files plus ``_manifest.json``;
* every write creates new files then commits a new snapshot via an atomic
  manifest swap (``os.replace``) — readers never see partial writes;
* snapshots form a linear history; time-travel by snapshot id;
* ``merge_insert`` = INSERT-iff-NOT-MATCHED (the reference's
  "append iff decision == not seen", ``scan_and_store.py:234-235``).

* ``merge_upsert`` = WHEN MATCHED UPDATE (last-write-wins) + WHEN NOT
  MATCHED INSERT, the copy-on-write MERGE shape;
* writes can record per-file min/max for a key column (read straight from
  the parquet footers' row-group statistics — no data scan), and ``read``
  prunes non-overlapping files BEFORE Spark ever lists them — the Iceberg
  file-stats pruning analog.

Only the manifest swap is driver-side; all data moves stay distributed.
The manifest also records per-commit row counts and lineage metadata
(run id, bucket), which doubles as the resume/metrics journal.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F


class ManifestTable:
    """A parquet-backed table with atomic snapshot commits."""

    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_path = os.path.join(root, "_manifest.json")
        os.makedirs(self.data_dir, exist_ok=True)

    # -- manifest ----------------------------------------------------------

    def _load(self) -> dict[str, Any]:
        if not os.path.exists(self.manifest_path):
            return {"snapshots": [], "current": None}
        with open(self.manifest_path, encoding="utf-8") as f:
            return json.load(f)

    def _commit(self, manifest: dict[str, Any]) -> None:
        tmp = self.manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self.manifest_path)  # atomic on POSIX

    def snapshots(self) -> list[dict[str, Any]]:
        return self._load()["snapshots"]

    def current_files(self, snapshot_id: int | None = None) -> list[str]:
        m = self._load()
        if m["current"] is None:
            return []
        sid = m["current"] if snapshot_id is None else snapshot_id
        for s in m["snapshots"]:
            if s["id"] == sid:
                return s["files"]
        raise KeyError(f"snapshot {snapshot_id} not found")

    def _current_snapshot(self, snapshot_id: int | None = None) -> dict[str, Any] | None:
        m = self._load()
        sid = m["current"] if snapshot_id is None else snapshot_id
        for s in m["snapshots"]:
            if s["id"] == sid:
                return s
        return None

    # -- read --------------------------------------------------------------

    def read(self, spark: SparkSession, snapshot_id: int | None = None,
             key_between: tuple | None = None) -> DataFrame | None:
        """Read a snapshot; with ``key_between=(lo, hi)`` (inclusive,
        ``(v, v)`` for equality; ``hi=None`` for an unbounded upper —
        the prefix-lookup shape, where no string successor of the
        prefix is computable for every code point) files whose recorded
        [min, max] for the snapshot's stats column cannot overlap are
        skipped BEFORE the scan — file-level pruning from manifest
        stats, the Iceberg move. Files without stats are always kept
        (safe), so pruning is best-effort and never changes results."""
        files = self.current_files(snapshot_id)
        if not files:
            return None
        if key_between is not None:
            snap = self._current_snapshot(snapshot_id) or {}
            stats = snap.get("stats") or {}
            lo, hi = key_between
            files = [f for f in files
                     if f not in stats
                     or ((hi is None or stats[f][0] <= hi)
                         and stats[f][1] >= lo)]
            if not files:
                return None
        return spark.read.parquet(*files)

    def is_empty(self) -> bool:
        return not self.current_files()

    # -- write -------------------------------------------------------------

    def _write_files(self, df: DataFrame,
                     partition_by: list[str] | None = None) -> list[str]:
        out = os.path.join(self.data_dir, f"commit-{uuid.uuid4().hex}")
        w = df.write.mode("errorifexists")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(out)
        return sorted(
            os.path.join(root, f)
            for root, _, names in os.walk(out)
            for f in names if f.endswith(".parquet"))

    @staticmethod
    def partition_values(files: list[str],
                         col: str) -> dict[str, list[str]]:
        """Group file paths by the ``col=value`` Hive-style path segment
        written by a ``partition_by`` commit — the file-level partition
        index a storage-partitioned probe uses to open ONLY its own
        partition's files (no Spark scan, no exchange). Files without
        the segment land under ``""`` (callers treat them as
        every-partition, the safe degradation)."""
        out: dict[str, list[str]] = {}
        for f in files:
            v = ""
            for seg in f.split(os.sep):
                if seg.startswith(col + "="):
                    v = seg[len(col) + 1:]
                    break
            out.setdefault(v, []).append(f)
        return out

    @staticmethod
    def _file_stats(files: list[str], col: str) -> dict[str, list]:
        """Per-file [min, max] for ``col`` from parquet FOOTER row-group
        statistics (pyarrow metadata read — no data pages touched). Files
        whose stats are absent or not JSON-serializable are omitted, which
        read() treats as \"always keep\" (pruning stays safe)."""
        import pyarrow.parquet as pq
        out: dict[str, list] = {}
        for p in files:
            try:
                md = pq.ParquetFile(p).metadata
                mins: list = []
                maxs: list = []
                ok = md.num_row_groups > 0
                for rg in range(md.num_row_groups):
                    row_group = md.row_group(rg)
                    st = next(
                        (row_group.column(i).statistics
                         for i in range(row_group.num_columns)
                         if row_group.column(i).path_in_schema == col), None)
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    mins.append(st.min)
                    maxs.append(st.max)
                if ok:
                    lo, hi = min(mins), max(maxs)
                    json.dumps([lo, hi])  # only primitives survive
                    out[p] = [lo, hi]
            except Exception:
                continue  # stats are an optimization, never a failure
        return out

    def _snapshot_stats(self, new_files: list[str],
                        stats_col: str | None) -> tuple[str | None, dict]:
        """Stats for the NEW snapshot: carry the previous snapshot's
        entries for surviving files, add footer stats for new files."""
        prev = self._current_snapshot() or {}
        col = stats_col or prev.get("stats_col")
        if col is None:
            return None, {}
        stats = dict(prev.get("stats") or {})
        stats.update(self._file_stats(new_files, col))
        return col, stats

    def append(self, df: DataFrame, meta: dict[str, Any] | None = None,
               stats_col: str | None = None,
               partition_by: list[str] | None = None) -> int:
        """Write df's files, then commit prev ∪ new as a new snapshot (S3).

        ``stats_col`` (sticky across commits once set) records per-file
        min/max for that column, enabling pruned reads. ``partition_by``
        writes Hive-style ``col=value`` directories (the Iceberg
        identity/bucket-transform layout analog); the partition columns
        live in the PATH, not the file bytes, and ``partition_values``
        recovers the file→partition index for storage-partitioned
        probes."""
        files = self._write_files(df, partition_by)
        m = self._load()
        prev = self.current_files() if m["current"] is not None else []
        col, stats = self._snapshot_stats(files, stats_col)
        sid = (m["current"] or 0) + 1
        all_files = prev + files
        m["snapshots"].append({
            "id": sid, "op": "append", "ts": time.time(),
            "files": all_files, "new_files": files,
            "stats_col": col,
            "stats": {f: s for f, s in stats.items() if f in set(all_files)},
            "meta": meta or {},
        })
        m["current"] = sid
        self._commit(m)
        return sid

    def overwrite(self, df: DataFrame, meta: dict[str, Any] | None = None,
                  stats_col: str | None = None, op: str = "overwrite",
                  partition_by: list[str] | None = None) -> int:
        files = self._write_files(df, partition_by)
        m = self._load()
        col, _ = self._snapshot_stats([], stats_col)
        stats = self._file_stats(files, col) if col else {}
        sid = (m["current"] or 0) + 1
        m["snapshots"].append({
            "id": sid, "op": op, "ts": time.time(),
            "files": files, "new_files": files,
            "stats_col": col, "stats": stats, "meta": meta or {},
        })
        m["current"] = sid
        self._commit(m)
        return sid

    def vacuum(self) -> int:
        """Delete data files unreachable from the CURRENT snapshot.

        The Iceberg expire-snapshots analog; rollbacks (resumable runs)
        orphan files rather than deleting them inline, so vacuum is the
        explicit, separate destructive step. History is truncated to the
        current snapshot. Returns the number of files removed.
        """
        m = self._load()
        live = set(self.current_files())
        removed = 0
        for root, _, files in os.walk(self.data_dir):
            for f in files:
                p = os.path.join(root, f)
                if f.endswith(".parquet") and p not in live:
                    os.remove(p)
                    removed += 1
        if m["current"] is not None:
            cur = [s for s in m["snapshots"] if s["id"] == m["current"]]
            m["snapshots"] = cur
            self._commit(m)
        return removed

    def compact(self, spark: SparkSession, target_files: int | None = None,
                min_files: int = 8, min_output_files: int = 8,
                meta: dict[str, Any] | None = None) -> int | None:
        """Rewrite the CURRENT snapshot into fewer, range-sorted data
        files — the Iceberg rewrite-data-files (bin-pack + sort) analog.

        Append-heavy stores accumulate one file set per commit (the
        crawl seen-URL store grows a commit per cycle); small files cost
        listing/open overhead and, worse, OVERLAPPING key ranges, so
        ``key_between`` pruning degrades toward scan-everything. Compact
        rewrites the table ``repartitionByRange`` on the sticky stats
        column (disjoint per-file ranges — a point probe prunes to ONE
        file) and commits it as a normal snapshot: rows are identical,
        history is preserved (time travel to pre-compact snapshots still
        works until ``vacuum``), and readers flip atomically.

        ``target_files`` defaults to on-disk-bytes / 64 MiB, floored at
        ``min_output_files`` (pruning floor: compacting a small store
        into ONE size-targeted file would erase the range-prune
        granularity point probes rely on — measured as a 5.5 → 14.6 MB
        membership-probe shuffle regression on an 8 MB seen store.
        Keeping ≥N disjoint-range files costs nothing at small scale
        and preserves one-file point probes). A no-op (returns None)
        when the table has fewer than ``min_files`` files — callers can
        invoke it unconditionally per cycle.
        """
        files = self.current_files()
        if len(files) < max(min_files, 2):
            return None
        snap = self._current_snapshot() or {}
        col = snap.get("stats_col")
        df = spark.read.parquet(*files)
        if target_files is None:
            total = sum(os.path.getsize(f) for f in files)
            target_files = max(1, min(len(files) - 1,
                                      -(-total // (64 << 20))))
            target_files = max(target_files,
                               min(min_output_files, len(files) - 1))
        if col is not None:
            df = df.repartitionByRange(target_files, F.col(col)) \
                   .sortWithinPartitions(col)
        else:
            df = df.repartition(target_files)
        return self.overwrite(
            df, meta={**(meta or {}), "compacted_from": len(files)},
            stats_col=col, op="compact")

    def merge_insert(self, spark: SparkSession, df: DataFrame, key: str,
                     meta: dict[str, Any] | None = None,
                     stats_col: str | None = None,
                     partition_by: list[str] | None = None) -> int:
        """MERGE … WHEN NOT MATCHED THEN INSERT (S4/J11).

        Spark plan: left_anti join of the incoming batch against the current
        table on ``key``, then append. The anti join broadcasts the smaller
        side under AQE; at scale the store side would be pruned by partition
        stats before the join. ``stats_col`` passes through to ``append``
        (sticky footer min/max stats for pruned reads).
        """
        cur = self.read(spark)
        new = df.dropDuplicates([key])
        if cur is not None:
            new = new.join(cur.select(key), key, "left_anti")
        return self.append(new, meta=meta, stats_col=stats_col,
                           partition_by=partition_by)

    def merge_upsert(self, spark: SparkSession, df: DataFrame, key: str,
                     meta: dict[str, Any] | None = None) -> int:
        """MERGE … WHEN MATCHED THEN UPDATE (last-write-wins) WHEN NOT
        MATCHED THEN INSERT — the copy-on-write MERGE: survivors =
        (current ⟕anti incoming) ∪ incoming, committed as one new
        snapshot. Prior snapshots keep the pre-merge rows (time-travel
        preserved; ``vacuum`` is the destructive step). Incoming
        duplicates on ``key`` collapse to one arbitrary-but-deterministic
        row (max_by on the key itself is meaningless, so dropDuplicates —
        callers needing a specific winner pre-aggregate).

        The incoming column set must equal the snapshot's exactly —
        schema drift raises a named error up front instead of silently
        dropping extra incoming columns or failing with an opaque
        analysis error on a missing one (schema evolution is an explicit
        non-feature: evolve by writing a new table).
        """
        cur = self.read(spark)
        new = df.dropDuplicates([key])
        if cur is None:
            return self.append(new, meta=meta)
        cur_cols, new_cols = set(cur.columns), set(new.columns)
        if cur_cols != new_cols:
            raise ValueError(
                f"merge_upsert schema mismatch: incoming is missing "
                f"{sorted(cur_cols - new_cols)} and adds "
                f"{sorted(new_cols - cur_cols)} vs the current snapshot "
                f"{sorted(cur_cols)}")
        kept = cur.join(new.select(key), key, "left_anti")
        merged = kept.unionByName(new.select(*kept.columns))
        return self.overwrite(merged, meta=meta, op="merge_upsert")
