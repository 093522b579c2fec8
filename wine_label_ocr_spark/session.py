"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "wine_label_ocr_spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build the engine's session.

    Local mode here stands in for a multi-executor cluster; every setting
    below is the one we'd ship cluster-side too:

    * AQE on (runtime coalesce + skew-join splitting — SURVEY.md §4);
    * Arrow enabled (every UDF in this engine is pandas/Arrow-vectorized);
    * shuffle partitions sized to cores, not the 200 default;
    * python worker reuse (lazy per-worker init amortized, the analog of the
      reference's lazy model singletons, final_run_ocr.py:41-80). Reuse
      does not amortize what the worker redoes at every task start: its
      ``importlib.invalidate_caches()`` re-parsed pyspark.zip's directory
      (~240 ms per task on a 4-CPU host), which ``_zipdir`` skips while the
      archive is unchanged.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or (int(cpus) if cpus.isdigit() else 32)
    builder = (
        SparkSession.builder
        .master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # floor on scan parallelism (guide §6): a 100 MB single-file
        # table otherwise splits into a handful of tasks and serializes
        # the scan-side map work (measured −40% on lineitem_agg /
        # orders_by_segment at sf1.0); derived from the session's
        # parallelism, so at real scale (plenty of splits) it is a no-op
        .config("spark.sql.files.minPartitionNum", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # zstd parquet output: ~10% faster than snappy on the 1M-record
        # flagship write AND smaller files for every downstream scan
        # (guide §6; measured r10 — perfbench's traced run reports the
        # write as its ``table.*`` layers)
        .config("spark.sql.parquet.compression.codec", "zstd")
        # ~4k rows/batch pipelines UDF input/output against JVM work for
        # this engine's ~2.6KB payloads (measured best at local[32])
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
