"""Resumable extraction runs: per-bucket checkpoints, lineage + metrics.

North-rule requirement: "resumable from per-partition checkpoints with
lineage and counter metrics written to a metrics table". The unit of
resume is an explicit url-hash bucket (``pmod(xxhash64(url), n_buckets)``)
— the same layout SURVEY.md §4 prescribes for scale — so a killed run
restarts exactly at the first uncommitted bucket and never re-extracts or
duplicates a url.

Commit protocol per bucket (idempotent):

1. filter input to the bucket (at scale: partition pruning on a
   bucket-partitioned Iceberg table — here a pushed-down hash predicate);
2. run the extraction plan, append results to the records table with
   lineage meta ``{run_id, bucket}`` (atomic snapshot commit);
3. append a metrics row (counters + wall time) to the metrics table;
4. write the bucket marker file — the checkpoint — via atomic rename.

A crash between 2 and 4 re-runs the bucket; re-running first *rolls back*
that bucket's partial snapshot (drops its files from the manifest head)
so the append stays exactly-once. This mirrors ST7 ("exactly-once side
effect via dedup key in state", Char_Count_TurnTable.py:159,259-274).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.table import ManifestTable

# one metrics-table row per bucket, as built on the driver; the append
# stamps it with ``committed_ts timestamp``
METRICS_DDL = ("run_id string, bucket int, n_pages bigint, n_records bigint, "
               "n_with_vintage bigint, n_bytes_text bigint, wall_sec double")


class ResumableRun:
    def __init__(self, out_root: str, run_id: str = "run1", n_buckets: int = 8):
        self.run_id = run_id
        self.n_buckets = n_buckets
        self.records = ManifestTable(os.path.join(out_root, "records"))
        self.metrics = ManifestTable(os.path.join(out_root, "metrics"))
        self.ckpt_dir = os.path.join(out_root, "_checkpoints", run_id)
        os.makedirs(self.ckpt_dir, exist_ok=True)

    # -- checkpoint markers --------------------------------------------------

    def _marker(self, bucket: int) -> str:
        return os.path.join(self.ckpt_dir, f"bucket-{bucket:05d}.json")

    def done_buckets(self) -> set[int]:
        return {
            int(f.split("-")[1].split(".")[0])
            for f in os.listdir(self.ckpt_dir)
            if f.startswith("bucket-") and f.endswith(".json")
        }

    def _write_marker(self, bucket: int, payload: dict) -> None:
        tmp = self._marker(bucket) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(payload, f)
        os.replace(tmp, self._marker(bucket))

    def _rollback_bucket(self, bucket: int) -> None:
        """Drop any committed-but-unmarked snapshot for this bucket."""
        for tbl in (self.records, self.metrics):
            m = tbl._load()
            snaps = [s for s in m["snapshots"]
                     if not (s["meta"].get("run_id") == self.run_id
                             and s["meta"].get("bucket") == bucket)]
            if len(snaps) != len(m["snapshots"]):
                dropped = [s for s in m["snapshots"] if s not in snaps]
                drop_files = {f for s in dropped for f in s["new_files"]}
                for s in snaps:
                    s["files"] = [f for f in s["files"] if f not in drop_files]
                m["snapshots"] = snaps
                m["current"] = snaps[-1]["id"] if snaps else None
                tbl._commit(m)  # data files are orphaned; vacuum is separate

    # -- the run ---------------------------------------------------------------

    def run(self, spark: SparkSession, pages: DataFrame,
            plan: Callable[[DataFrame], DataFrame],
            fail_after: int | None = None) -> dict:
        """Execute ``plan`` bucket by bucket with resume.

        ``fail_after`` (tests only): raise after N buckets to simulate a
        crash mid-run.
        """
        bucket_col = F.pmod(F.xxhash64("url"), F.lit(self.n_buckets)).cast("int")
        pages_b = pages.withColumn("_bucket", bucket_col)
        done = self.done_buckets()
        n_done = 0
        for b in range(self.n_buckets):
            if b in done:
                continue
            self._rollback_bucket(b)
            t0 = time.time()
            out = plan(pages_b.filter(F.col("_bucket") == b).drop("_bucket"))
            out = out.withColumn("run_id", F.lit(self.run_id)) \
                     .withColumn("bucket", F.lit(b))
            # append FIRST (single execution of the extraction plan), then
            # derive metrics from the committed files — the r1 VERDICT #6
            # fix: the old agg().collect() + append ran the dominant job
            # twice per bucket, doubling cost at scale.
            sid = self.records.append(out, meta={"run_id": self.run_id, "bucket": b})
            new_files = next(s["new_files"] for s in self.records.snapshots()
                             if s["id"] == sid)
            if new_files:
                stats = spark.read.parquet(*new_files).agg(
                    F.count("*").alias("n_records"),
                    F.count_distinct(F.col("url")).alias("n_pages"),
                    F.count("vintage").alias("n_with_vintage"),
                    F.sum(F.length("text")).alias("n_bytes_text"),
                ).collect()[0]
            else:
                stats = {"n_records": 0, "n_pages": 0,
                         "n_with_vintage": 0, "n_bytes_text": 0}
            wall = time.time() - t0
            mrow = [(self.run_id, b, int(stats["n_pages"]),
                     int(stats["n_records"]), int(stats["n_with_vintage"] or 0),
                     int(stats["n_bytes_text"] or 0), float(wall))]
            mdf = spark.createDataFrame(mrow, METRICS_DDL) \
                .withColumn("committed_ts", F.current_timestamp())
            self.metrics.append(mdf, meta={"run_id": self.run_id, "bucket": b})
            self._write_marker(b, {"run_id": self.run_id, "bucket": b,
                                   "n_records": int(stats["n_records"]),
                                   "wall_sec": wall})
            n_done += 1
            if fail_after is not None and n_done >= fail_after:
                raise RuntimeError(f"simulated crash after {n_done} buckets")
        return {"run_id": self.run_id, "buckets_done": len(self.done_buckets()),
                "n_buckets": self.n_buckets}
