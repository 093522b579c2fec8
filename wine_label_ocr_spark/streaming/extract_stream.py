"""The flagship extraction pipeline as a Structured Streaming query.

The batch plan (``plans.pipeline.extract_records``) is a pure map —
parquet scan → one ``mapInArrow`` that emits the finished record, zero
shuffles — which is exactly the shape Structured Streaming lifts
verbatim: the SAME DataFrame program runs over a file-source stream with
no operator changes, so stream output ≡ batch output on the same pages by
construction (pinned by ``tests/test_streaming.py``). Reference analog:
the watcher loop in ``camera_scan.py`` / ``scan_and_store.py`` that OCRs
files as they appear — restated as a checkpointed incremental query.

Scale/ops notes:

* The file source commits PROCESSED FILES to the checkpoint, so a killed
  job restarted on the same checkpoint resumes with the unprocessed files
  only — exactly-once records in the output (no reprocessing, no gaps).
  That is the streaming twin of the bucket-resume protocol in
  ``plans.resumable``.
* ``maxFilesPerTrigger`` bounds per-micro-batch work (backpressure);
  ``availableNow`` drains everything present, in bounded batches, then
  stops — the catch-up/backfill trigger.
* The sink is an append-only parquet directory: segmentation emits one
  record per page independent of other pages (no aggregation state), so
  append mode needs no watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..fixtures import PAGES_DDL
from ..plans.pipeline import extract_records


def pages_stream(spark: SparkSession, input_dir: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of pages (the streaming twin of
    ``spark.read.parquet(pages)``). The schema must be declared up front —
    streaming sources cannot infer it."""
    r = spark.readStream.schema(PAGES_DDL)
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(input_dir)


def extract_records_stream(spark: SparkSession, input_dir: str,
                           max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming flagship: identical plan to the batch extract_records."""
    return extract_records(pages_stream(spark, input_dir,
                                        max_files_per_trigger))


def run_extract_stream(spark: SparkSession, input_dir: str, output_dir: str,
                       checkpoint_dir: str,
                       max_files_per_trigger: int | None = None):
    """Drain all currently-available pages into the records sink
    (``availableNow``), exactly once across restarts via the checkpoint.
    Blocks until the drain completes; returns the finished query.
    """
    rec = extract_records_stream(spark, input_dir, max_files_per_trigger)
    q = (rec.writeStream.format("parquet")
         .option("path", output_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def dedup_stream(stream_df: DataFrame, text_col: str = "text",
                 ts_col: str | None = None,
                 watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: keep the FIRST arrival per content key
    (whitespace-canonicalized md5, same key as the batch
    ``dedupe.exact_dedup``) — the ingest-time twin of batch dedup for a
    continuously-arriving crawl.

    With ``ts_col`` set, ``dropDuplicatesWithinWatermark`` bounds the
    key state to the watermark horizon — the production shape: state
    size is (keys seen within the lateness window), not (keys ever
    seen), so the query runs forever. Without ``ts_col`` the state is
    unbounded (backfill/drain jobs only, e.g. ``availableNow``).

    First-arrival-wins differs from the batch min-id tie-break by
    design: a stream has an arrival order, a snapshot doesn't; on the
    same single drain both keep exactly one row per key (pinned by
    test)."""
    from ..operators.dedupe import content_key
    keyed = stream_df.withColumn("_ck", content_key(F.col(text_col)))
    if ts_col is not None:
        out = (keyed.withWatermark(ts_col, watermark)
               .dropDuplicatesWithinWatermark(["_ck"]))
    else:
        out = keyed.dropDuplicates(["_ck"])
    return out.drop("_ck")


def incremental_dedup_stream(stream_df: DataFrame, prior_fps: DataFrame,
                             text_col: str = "text", k: int = 3,
                             n_perm: int = 32, n_bands: int = 8,
                             oracle_safe: bool = False) -> DataFrame:
    """Streaming twin of ``dedupe.incremental_dedup``: drop arriving
    documents that match the PRIOR crawl's fingerprint store (exact
    content key, or any shared MinHash band — same conservative
    no-verify contract as the batch op, same ``(kind, fp)`` store
    written by ``snapshot_fingerprints``).

    Every membership test is a stream-static LEFT ANTI join, so the
    operator is STATELESS (1 + n_bands equi joins, no watermark, no
    state store). The exact tier is the batch operator's own
    ``_exact_unseen``. The band tier anti-joins once per band against
    that band's store slice: the batch op's explode + semi join +
    anti join back would join the stream with itself. Every micro-batch
    joins against the static store and appends survivors, so it
    composes with ``dedup_stream`` (which handles within-stream dups)
    for the full ingest chain. Batch-equivalence is pytest-pinned per
    micro-batch."""
    from ..operators.dedupe import _exact_unseen, _minhash_bands
    out = _exact_unseen(stream_df, prior_fps, text_col).withColumn(
        "_bands", _minhash_bands(F.col(text_col), k, n_perm, n_bands,
                                 oracle_safe))
    for b in range(n_bands):
        slice_b = prior_fps.filter(F.col("kind") == f"band:{b}").select("fp")
        out = out.join(slice_b, F.get(F.col("_bands"), b) == slice_b["fp"],
                       "left_anti")
    return out.drop("_bands")


def crawl_candidates_stream(stream_pages: DataFrame, robots: DataFrame,
                            seen_fps: DataFrame | None = None,
                            agent: str = "*",
                            oracle_safe: bool = False) -> DataFrame:
    """Streaming twin of the crawl-cycle's candidate stages: pages
    arriving on a stream → ``(url, allowed)`` frontier candidates.

    Entirely STATELESS — the ``incremental_dedup_stream`` discipline:
    outlink extraction, RFC 3986 resolution, and canonicalization are
    pure maps; the seen-URL store test is ``crawl_cycle``'s own
    membership stage (``plans.crawl._unseen``), a stream-static LEFT
    ANTI join against the ``(fp)`` store; the robots verdict is
    ``robots_allowed`` — one stream-static host-keyed join plus per-row
    array algebra, no per-URL aggregation. No watermark, no state store.

    What stays batch-side BY DESIGN: global URL ``distinct`` and
    politeness slot assignment (``schedule_frontier``'s per-host
    window) are frontier-snapshot planning steps — run them per
    micro-batch via ``foreachBatch`` (pytest pins per-micro-batch
    stream ≡ batch on both verdicts and slots), or let the next
    cycle's seen store absorb cross-batch repeats."""
    from ..operators.graph import extract_outlinks
    from ..operators.robots import parse_robots_rules, robots_allowed
    from ..operators.textops import canonical_url
    from ..plans.crawl import _unseen

    links = extract_outlinks(stream_pages, resolve=True)
    cand = (links.select(canonical_url(F.col("resolved")).alias("url"))
            .filter(F.col("url").isNotNull()))
    return robots_allowed(_unseen(cand, seen_fps, oracle_safe),
                          parse_robots_rules(robots, agent=agent))


def crawl_schedule_stream(stream_pages: DataFrame, robots: DataFrame,
                          seen_fps: DataFrame | None = None,
                          agent: str = "*",
                          default_delay_ms: int = 1000,
                          n_workers: int = 16,
                          oracle_safe: bool = False) -> DataFrame:
    """The COMPLETE crawl cycle on the stream (r8 VERDICT #5):
    ``crawl_candidates_stream``'s stateless stages (outlink extraction,
    resolution, canonicalization, seen-store test, robots verdict — all
    pure maps + stream-static joins), then the two stages that used to
    stay batch-side lifted onto the stream:

    * per-host crawl DELAY and WORKER: ``schedule_frontier``'s own
      helpers (``frontier._with_delay``, ``frontier._worker``) — one
      more stream-static join, against the same ``robots_directives``
      table ``crawl_cycle`` feeds ``schedule_frontier``;
    * politeness SEQUENCING: per-host ``seq``/``fetch_offset_ms`` as
      keyed state (``applyInPandasWithState``) — the counter CONTINUES
      across micro-batches, which is politeness done properly on a
      stream: a host that got 10 URLs last batch starts at seq 11 now,
      instead of every batch re-starting its delay schedule at zero.
      Within a batch, urls sort ascending and dedupe (the batch
      ``distinct``'s within-snapshot twin); CROSS-batch repeats are the
      seen store's job, same contract as ``crawl_candidates_stream``.

    Output matches ``crawl_cycle``: ``(url, host, seq, worker,
    delay_ms, fetch_offset_ms)``. On a single micro-batch the schedule
    is row-identical to the batch plan (pytest-pinned); across batches
    it is the batch plan's politeness contract continued.

    Scale shape: state is ONE (seq) long per live host; the only
    stream-side shuffle is the host grouping that politeness needs
    anyway (the batch plan's window shuffles the same key)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.frontier import _with_delay, _worker
    from ..operators.robots import robots_directives
    from ..operators.textops import registrable_host
    from typing import Iterable, Iterator

    cand = crawl_candidates_stream(stream_pages, robots, seen_fps,
                                   agent=agent, oracle_safe=oracle_safe)
    allowed = (cand.filter(F.col("allowed"))
               .select("url", registrable_host(F.col("url")).alias("_host"))
               .filter(F.col("_host").isNotNull()))
    hosted, delay = _with_delay(allowed,
                                robots_directives(robots, agent=agent),
                                default_delay_ms, delay_col="crawl_delay_ms")
    keyed = hosted.select("url", F.col("_host").alias("host"),
                          _worker(F.col("_host"), n_workers,
                                  oracle_safe).alias("worker"),
                          delay.alias("delay_ms"))

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        (seq,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            pdf = (pdf.drop_duplicates(subset=["url"])
                   .sort_values("url").reset_index(drop=True))
            seqs = list(range(seq + 1, seq + 1 + len(pdf)))
            seq += len(pdf)
            out = pdf[["url", "host", "worker", "delay_ms"]].copy()
            out["seq"] = pd.Series(seqs, dtype="int32")
            out["fetch_offset_ms"] = (
                (out["seq"] - 1) * out["delay_ms"]).astype("int64")
            yield out[["url", "host", "seq", "worker", "delay_ms",
                       "fetch_offset_ms"]]
        state.update((seq,))

    return (keyed.groupBy("host")
            .applyInPandasWithState(
                fn,
                outputStructType=("url string, host string, seq int, "
                                  "worker int, delay_ms bigint, "
                                  "fetch_offset_ms bigint"),
                stateStructType="seq int",
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))
