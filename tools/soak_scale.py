"""Round-6 scale soaks (r5 VERDICT #9).

Two parts, each printing one JSON line:

* ``capstone N``  — N synthetic pages → WARC-gz shards → full
  ``curate_crawl`` (read → extract → gates → exact dedup → MinHash-LSH
  near-dup → CC keep-one → WET gz export). The r5 soak ran 1M; r6 runs
  3M (sf3) to push the LSH shuffle + gzip write one notch.
* ``ivfadc N``    — N deterministic 64-dim embeddings → IVFADC index
  (coarse cells × PQ codes) written ``partitionBy("cell")`` → top-k
  query over ONLY the probed cells, with FILE-LEVEL prune evidence
  (files read vs total; expected ratio ≈ nprobe/n_cells).

Usage:
    python tools/soak_scale.py capstone 3000000
    python tools/soak_scale.py ivfadc 1000000
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")


def synth_embeddings(spark, n: int, dim: int = 64):
    """Deterministic embeddings as pure column algebra (no RNG, no
    Python): component j of row i = fractional part of sin-free integer
    hashing, centered. Clustered enough for IVF to be non-trivial: a
    per-row cluster offset (i % 32) shifts the first 8 dims."""
    from pyspark.sql import functions as F
    i = F.col("id")
    comps = [
        ((F.xxhash64(i, F.lit(j)) % 1000) / 500.0 - 1.0
         + F.when(F.lit(j) < 8, ((i % 32) / 8.0) - 2.0).otherwise(F.lit(0.0)))
        .cast("double")
        for j in range(dim)]
    return spark.range(n).select(
        i.alias("vec_id"), F.array(*comps).alias("embedding"))


def run_capstone(n_pages: int) -> dict:
    from wine_label_ocr_spark.fixtures import pages_spark
    from wine_label_ocr_spark.plans.curate import curate_crawl
    from wine_label_ocr_spark.session import get_spark
    from wine_label_ocr_spark.sources.warc import write_warc_shards

    import os
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")
    spark = get_spark(app="soak_capstone", master="local[32]",
                      shuffle_partitions=256)
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="wlos_soak_")
    raw, out = os.path.join(base, "raw"), os.path.join(base, "wet")
    try:
        t0 = time.time()
        pages = pages_spark(spark, n_pages, partitions=192).withColumn(
            "html", __import__("pyspark.sql.functions",
                               fromlist=["encode"]).encode("html", "utf-8"))
        write_warc_shards(pages, raw, n_shards=192, compress=True).collect()
        t_ingest = time.time() - t0
        t1 = time.time()
        manifest = curate_crawl(spark, os.path.join(raw, "*.warc.gz"), out,
                                n_shards=192)
        t_curate = time.time() - t1
        n_rec = sum(m["n_records"] for m in manifest)
        n_bytes = sum(m["n_bytes"] for m in manifest)
        return {"soak": "capstone", "n_pages": n_pages,
                "ingest_sec": round(t_ingest, 1),
                "curate_sec": round(t_curate, 1),
                "docs_per_sec": round(n_pages / t_curate, 1),
                "curated_records": n_rec, "wet_shards": len(manifest),
                "wet_mb": round(n_bytes / 1e6, 1)}
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


def run_ivfadc(n_vecs: int) -> dict:
    from pyspark.sql import functions as F

    from wine_label_ocr_spark.operators.ann import (
        ivfadc_index, ivfadc_topk, pq_fixed_codebooks)
    from wine_label_ocr_spark.session import get_spark

    n_cells, n_probes, m, ksub, dim = 32, 4, 8, 16, 64
    spark = get_spark(app="soak_ivfadc", master="local[32]",
                      shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="wlos_ivfadc_")
    path = os.path.join(base, "index")
    try:
        emb = synth_embeddings(spark, n_vecs, dim)
        cents = pq_fixed_codebooks(1, n_cells, dim, seed=7)[0]
        books = pq_fixed_codebooks(m, ksub, dim)
        t0 = time.time()
        idx = ivfadc_index(emb, cents, books)
        idx.write.mode("overwrite").partitionBy("cell").parquet(path)
        t_build = time.time() - t0

        q = emb.filter(F.col("vec_id") % (n_vecs // 50) == 0) \
               .select(F.col("vec_id").alias("q_id"), "embedding")
        # probe cells resolve driver-side (tiny q×cells math) and become
        # literal partition predicates — the file-level prune
        import numpy as np
        C = np.array(cents)
        qrows = q.collect()
        probe_cells = sorted({
            int(c)
            for r in qrows
            for c in np.argsort(((np.array(r["embedding"]) - C) ** 2)
                                .sum(1))[:n_probes]})
        pruned = spark.read.parquet(path) \
            .filter(F.col("cell").isin(probe_cells))
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        total_files = len(glob.glob(os.path.join(path, "cell=*/*.parquet")))
        read_files = sum(
            len(glob.glob(os.path.join(path, f"cell={c}", "*.parquet")))
            for c in probe_cells)
        t1 = time.time()
        topk = ivfadc_topk(q, pruned, cents, books, k=10, n_probes=n_probes)
        n_out = topk.count()
        t_query = time.time() - t1
        return {"soak": "ivfadc", "n_vecs": n_vecs, "n_cells": n_cells,
                "n_probes": n_probes, "m": m, "ksub": ksub,
                "build_sec": round(t_build, 1),
                "query_sec": round(t_query, 1),
                "n_queries": len(qrows), "topk_rows": n_out,
                "files_total": total_files, "files_read": read_files,
                "prune_ratio": round(read_files / max(total_files, 1), 3),
                "probed_cells": len(probe_cells),
                "expected_ratio_ub": round(
                    min(len(qrows) * n_probes, n_cells) / n_cells, 3)}
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


def _shuffle_totals(port: int) -> tuple[int, int]:
    """Sum (shuffle_read_bytes, shuffle_write_bytes) over all completed
    stages via the Spark UI REST API — the cycle-level shuffle-size
    evidence the crawl-loop soak records (deltas between samples)."""
    import urllib.request
    base = f"http://localhost:{port}/api/v1"
    apps = json.load(urllib.request.urlopen(f"{base}/applications"))
    app_id = apps[0]["id"]
    stages = json.load(urllib.request.urlopen(
        f"{base}/applications/{app_id}/stages?status=complete"))
    return (sum(s.get("shuffleReadBytes", 0) for s in stages),
            sum(s.get("shuffleWriteBytes", 0) for s in stages))


def run_crawlloop(n_pages: int) -> dict:
    """Two full crawl-over-crawl cycles at N pages with the DURABLE
    seen store (r6 VERDICT #8): cycle 1 schedules the frontier from
    batch-1 pages, the "fetcher" marks the scheduled URLs seen
    (``SeenUrlStore.record_fetched`` MERGE commit), cycle 2 runs over
    a fresh batch of N pages whose outlinks overlap batch 1's URL
    universe plus per-host ``/fresh2/K`` links that exist only in
    batch 2 — so the second cycle's seen anti-join must prune the
    entire overlap (row-count evidence: unseen2 ≪ candidates2) and
    schedule ONLY the new expansion (every cycle-2 URL is /fresh2/).
    The store also carries every fetched PAGE url fp (corpus-sized
    membership set — ~N rows of 8-byte fps), so the anti-join probes a
    store at corpus scale, not just the few-thousand-row frontier."""
    from pyspark.sql import functions as F

    from wine_label_ocr_spark.fixtures import pages_spark
    from wine_label_ocr_spark.plans.crawl import (
        SeenUrlStore, crawl_cycle, run_crawl_funnel_one_pass)
    from wine_label_ocr_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")
    ui_port = 4099
    spark = get_spark(app="soak_crawlloop", master="local[32]",
                      shuffle_partitions=128,
                      extra_conf={"spark.ui.enabled": "true",
                                  "spark.ui.port": str(ui_port)})
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="wlos_crawlloop_")
    store_dir = os.path.join(base, "seen_store")
    try:
        from wine_label_ocr_spark.fixtures import COLD_HOSTS, HOT_HOSTS
        hosts = HOT_HOSTS + COLD_HOSTS
        robots = spark.createDataFrame(
            [(h, f"User-agent: *\nDisallow: /x\n"
                 f"Crawl-delay: {0.25 * (k % 8 + 1)}\n")
             for k, h in enumerate(hosts)],
            "host string, robots_txt string")

        def store_stats():
            files = glob.glob(os.path.join(store_dir, "data", "commit-*",
                                           "*.parquet"))
            return (len(files), sum(os.path.getsize(f) for f in files))

        # batch 1: pages 0..N; batch 2: pages N..2N (a later fetch
        # round over the same host universe) + per-host fresh links
        def pages_batch(lo):
            from wine_label_ocr_spark.fixtures import PAGES_DDL, make_page

            def gen(batches):
                import pandas as pd
                for pdf in batches:
                    rows = [make_page(int(i)) for i in pdf["id"]]
                    out = pd.DataFrame(rows)
                    yield out[["url", "warc_ts", "html", "text", "lang"]]
            return (spark.range(lo, lo + n_pages, 1, 128)
                    .mapInPandas(gen, schema=PAGES_DDL))

        pq1, pq2 = os.path.join(base, "b1"), os.path.join(base, "b2")
        t0 = time.time()
        pages_batch(0).write.parquet(pq1)
        fresh = F.encode(F.concat(
            F.lit('<ul><li><a href="/fresh2/'),
            (F.xxhash64("url") % 20).cast("string"),
            F.lit('">new</a></li></ul>')), "utf-8")
        pages_batch(n_pages).withColumn(
            "html", F.concat(F.col("html"), fresh)).write.parquet(pq2)
        t_ingest = time.time() - t0
        b1 = spark.read.parquet(pq1)
        b2 = spark.read.parquet(pq2)

        store = SeenUrlStore(store_dir)
        sr0, sw0 = _shuffle_totals(ui_port)

        # ---- cycle 1: batch-1 fetched pages are seen; schedule ----
        t1 = time.time()
        store.record_fetched(spark, b1)
        t_seed = time.time() - t1
        seen = store.read(spark)
        t1 = time.time()
        sched1 = crawl_cycle(b1, robots, seen.select("fp"))
        s1 = sched1.select("url").cache()
        n_sched1 = s1.count()          # ONE full-DAG pass (headline wall)
        t_cycle1 = time.time() - t1
        t1 = time.time()
        f1 = run_crawl_funnel_one_pass(b1, robots, seen.select("fp"))
        c_cand1, c_unseen1 = f1["candidates"], f1["unseen"]
        # evidence pass, reported apart: ONE observed run of the whole
        # cycle (robots and frontier schedule included), so funnel1_sec /
        # funnel2_sec are not comparable with soaks that timed two
        # count() calls over the candidates and unseen frames
        t_funnel1 = time.time() - t1
        sr1, sw1 = _shuffle_totals(ui_port)

        # ---- "fetch" the scheduled URLs; MERGE commit ----
        t2 = time.time()
        rows_before = store.read(spark).count()
        store.record_fetched(spark, s1)
        rows_after = store.read(spark).count()
        t_commit = time.time() - t2
        files1, bytes1 = store_stats()

        # ---- compact (r7): per-cycle commits → range-disjoint files ----
        def live_files():
            return store.table.current_files()

        def probe_count(fp):
            snap = store.table._current_snapshot() or {}
            stats = snap.get("stats") or {}
            return len([f for f in live_files()
                        if f not in stats
                        or (stats[f][0] <= fp <= stats[f][1])])

        probe_fp = store.read(spark).head()["fp"]
        files_pre, probe_pre = len(live_files()), probe_count(probe_fp)
        rows_pre_compact = store.read(spark).count()
        t_c = time.time()
        compact_sid = store.maybe_compact(spark, max_files=4)
        t_compact = time.time() - t_c
        files_post, probe_post = len(live_files()), probe_count(probe_fp)
        assert compact_sid is not None, "compaction should trigger"
        assert store.read(spark).count() == rows_pre_compact, \
            "compaction changed row count"
        assert probe_post <= probe_pre and files_post < files_pre

        # ---- cycle 2 runs against the COMPACTED store ----
        seen2 = store.read(spark).select("fp")
        t3 = time.time()
        s2 = crawl_cycle(b2, robots, seen2).select("url").cache()
        n_sched2 = s2.count()          # ONE full-DAG pass (headline wall)
        t_cycle2 = time.time() - t3
        t3 = time.time()
        f2 = run_crawl_funnel_one_pass(b2, robots, seen2)
        c_cand2, c_unseen2 = f2["candidates"], f2["unseen"]
        n_fresh_only = s2.filter(F.col("url").contains("/fresh2/")).count()
        n_overlap = s2.join(s1, "url", "inner").count()
        t_funnel2 = time.time() - t3
        sr2, sw2 = _shuffle_totals(ui_port)

        # ---- cycle 2, bucketed storage-partitioned probe (r9): the
        # store never enters a Spark scan — candidates shuffle once on
        # the bucket key, tasks open their own bucket's files ----
        store_b = SeenUrlStore(os.path.join(base, "seen_store_b"),
                               n_buckets=64)
        store_b.record_fetched(spark, b1)
        store_b.record_fetched(spark, s1)
        assert store_b.read(spark).count() == rows_after, \
            "bucketed store content diverged from range store"
        t5 = time.time()
        s2bk = crawl_cycle(b2, robots, seen_fps=store_b).select("url")
        n_sched2_bk = s2bk.count()
        t_cycle2_bk = time.time() - t5
        sr4, sw4 = _shuffle_totals(ui_port)
        assert n_sched2_bk == n_sched2, \
            "bucketed-probe plan changed the schedule"

        assert n_overlap == 0, "cycle-2 schedule re-issued a seen URL"
        assert n_fresh_only == n_sched2, "cycle 2 scheduled non-new URLs"
        # exact prune evidence: the anti-join removes from cycle 2's
        # candidates precisely the URLs cycle 1 scheduled and "fetched"
        # (robots-disallowed links stay unseen forever by design — they
        # are never fetched — and /fresh2 links are genuinely new)
        assert c_cand2 - c_unseen2 == n_sched1, \
            f"anti-join pruned {c_cand2 - c_unseen2}, expected {n_sched1}"
        assert rows_after - rows_before == n_sched1, \
            "MERGE commit row growth != scheduled count"
        return {"soak": "crawlloop", "n_pages": n_pages,
                "ingest_sec": round(t_ingest, 1),
                "seed_commit_sec": round(t_seed, 1),
                "cycle1_sec": round(t_cycle1, 1),
                "funnel1_sec": round(t_funnel1, 1),
                "commit_sec": round(t_commit, 1),
                "cycle2_sec": round(t_cycle2, 1),
                "funnel2_sec": round(t_funnel2, 1),
                "docs_per_sec_c1": round(n_pages / t_cycle1, 1),
                "docs_per_sec_c2": round(n_pages / t_cycle2, 1),
                "candidates_c1": c_cand1, "unseen_c1": c_unseen1,
                "scheduled_c1": n_sched1,
                "candidates_c2": c_cand2, "unseen_c2": c_unseen2,
                "scheduled_c2": n_sched2,
                "sched2_all_fresh": n_fresh_only == n_sched2,
                "sched_overlap": n_overlap,
                "store_rows": rows_after, "store_new_rows_commit2":
                    rows_after - rows_before,
                "store_files": files1,
                "store_mb": round(bytes1 / 1e6, 2),
                "compact_sec": round(t_compact, 1),
                "compact_files_pre": files_pre,
                "compact_files_post": files_post,
                "compact_probe_files_pre": probe_pre,
                "compact_probe_files_post": probe_post,
                "shuffle_read_mb_c1": round((sr1 - sr0) / 1e6, 1),
                "shuffle_write_mb_c1": round((sw1 - sw0) / 1e6, 1),
                "shuffle_read_mb_c2": round((sr2 - sr1) / 1e6, 1),
                "shuffle_write_mb_c2": round((sw2 - sw1) / 1e6, 1),
                "cycle2_bk_sec": round(t_cycle2_bk, 1),
                "docs_per_sec_c2_bk": round(n_pages / t_cycle2_bk, 1),
                "shuffle_read_mb_c2_bk": round((sr4 - sr2) / 1e6, 1),
                "shuffle_write_mb_c2_bk": round((sw4 - sw2) / 1e6, 1)}
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


def run_curatefull(n_pages: int) -> dict:
    """The r7 curation stack at scale: pages → extract → C4 clean →
    quality/token gates → Gopher A1.1 gate → CCNet bigram-LM bucket
    keep (head+middle) → exact dedup → near-dup keep-one. The LM stage
    is the one corpus-wide-shuffle stage (bigram/unigram count aggs +
    an instance re-join over every candidate) — this soak prices it.

    Fixture pages carry sentence-shaped paragraphs appended so C4's
    terminal-punctuation page rule keeps them (the vanilla word-salad
    fixture fails C4 by design — pinned in tests)."""
    from pyspark.sql import functions as F

    from wine_label_ocr_spark.fixtures import pages_spark
    from wine_label_ocr_spark.plans.curate import curate_pages
    from wine_label_ocr_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")
    spark = get_spark(app="soak_curatefull", master="local[32]",
                      shuffle_partitions=256)
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="wlos_curatefull_")
    try:
        pq = os.path.join(base, "pages")
        t0 = time.time()
        sent = F.lit(b"<p>This line ends with proper punctuation today."
                     b"</p><p>Another full sentence keeps the page alive."
                     b"</p><p>Three kept lines satisfy the page rule.</p>")
        (pages_spark(spark, n_pages, partitions=128)
         .withColumn("html", F.concat(F.col("html"), sent))
         .write.parquet(pq))
        t_ingest = time.time() - t0
        pages = spark.read.parquet(pq)

        t1 = time.time()
        plain = curate_pages(pages, min_quality=0.0, min_tokens=1)
        n_plain = plain.count()
        t_plain = time.time() - t1

        t2 = time.time()
        full = curate_pages(pages, min_quality=0.0, min_tokens=1,
                            c4=True, gopher=True, lm_keep=(1, 2))
        n_full = full.count()
        t_full = time.time() - t2
        return {"soak": "curatefull", "n_pages": n_pages,
                "ingest_sec": round(t_ingest, 1),
                "plain_sec": round(t_plain, 1),
                "plain_docs_per_sec": round(n_pages / t_plain, 1),
                "n_plain": n_plain,
                "full_sec": round(t_full, 1),
                "full_docs_per_sec": round(n_pages / t_full, 1),
                "n_full": n_full,
                "stage_overhead_x": round(t_full / t_plain, 2)}
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


def run_anchorshare(n_pages: int) -> dict:
    """Prices the r8 shared href-resolution pass (r7 VERDICT #4):
    BENCH.md profiled RFC 3986 resolution as 97% of the standalone
    anchor-index wall (872 docs/s at 400k pages vs ~120k docs/s for the
    extraction itself), and the crawl cycle pays the same resolve over
    the same hrefs. Three measurements on one fixture:

    * cycle alone — ``crawl_cycle`` (the baseline wall);
    * duplicated  — cycle + standalone ``anchor_text_index`` (the old
      two-resolve path a user combining both operators paid);
    * shared      — ``crawl_cycle(anchor_index_k=3)``: the cycle plus
      its own base-aware ``anchor_pairs`` pass over the same pages.

    Done-bar: shared ≤ ~1.2× cycle-alone (vs ~2× for duplicated)."""
    from wine_label_ocr_spark.fixtures import COLD_HOSTS, HOT_HOSTS, pages_spark
    from wine_label_ocr_spark.operators.graph import anchor_text_index
    from wine_label_ocr_spark.plans.crawl import crawl_cycle
    from wine_label_ocr_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")
    spark = get_spark(app="soak_anchorshare", master="local[32]",
                      shuffle_partitions=128)
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="wlos_anchorshare_")
    try:
        pq = os.path.join(base, "pages")
        t0 = time.time()
        pages_spark(spark, n_pages, partitions=128).write.parquet(pq)
        t_ingest = time.time() - t0
        pages = spark.read.parquet(pq)
        robots = spark.createDataFrame(
            [(h, "User-agent: *\nDisallow: /x\n")
             for h in HOT_HOSTS + COLD_HOSTS],
            "host string, robots_txt string")

        # untimed warm-up (codegen/JIT + page cache), then INTERLEAVED
        # median-of-3: single-shot a→b→c ordering confounded the
        # comparison with monotone host drift (three single-shot runs
        # disagreed by 2x on this box) — a-b-c × 3 with medians makes
        # each variant sample the same drift
        import statistics
        crawl_cycle(pages, robots).count()
        t_alone_r, t_dup_r, t_shared_r = [], [], []
        counts = {}
        for _ in range(3):
            t1 = time.time()
            counts["alone"] = crawl_cycle(pages, robots).count()
            t_alone_r.append(time.time() - t1)

            t2 = time.time()
            counts["dup_sched"] = crawl_cycle(pages, robots).count()
            counts["dup_idx"] = anchor_text_index(pages, k=3).count()
            t_dup_r.append(time.time() - t2)

            t3 = time.time()
            sched, idx = crawl_cycle(pages, robots, anchor_index_k=3)
            counts["shared_sched"] = sched.count()
            counts["shared_idx"] = idx.count()
            t_shared_r.append(time.time() - t3)

        assert counts["shared_sched"] == counts["alone"] \
            == counts["dup_sched"]
        t_alone = statistics.median(t_alone_r)
        t_dup = statistics.median(t_dup_r)
        t_shared = statistics.median(t_shared_r)
        band = lambda r: [round(v, 1) for v in sorted(r)]  # noqa: E731
        return {"soak": "anchorshare", "n_pages": n_pages,
                "ingest_sec": round(t_ingest, 1),
                "cycle_alone_sec": round(t_alone, 1),
                "cycle_plus_standalone_index_sec": round(t_dup, 1),
                "cycle_shared_index_sec": round(t_shared, 1),
                "shared_over_alone_x": round(t_shared / t_alone, 2),
                "dup_over_alone_x": round(t_dup / t_alone, 2),
                "band_alone": band(t_alone_r),
                "band_dup": band(t_dup_r),
                "band_shared": band(t_shared_r),
                "n_scheduled": counts["alone"],
                "n_index_rows_standalone": counts["dup_idx"],
                "n_index_rows_shared": counts["shared_idx"]}
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


def run_lmstage(n_pages: int) -> dict:
    """Prices the CCNet bigram-LM stage at scale, exact vs
    pruned-broadcast (r7 VERDICT #8): the exact form joins the bigram
    instance explosion against the count tables (instance-keyed
    shuffle); the pruned form broadcasts a frequency-pruned LM so the
    explosion never shuffles. Fixture pages carry sentence paragraphs
    (real bigram structure). Reports both walls + the kept-doc counts
    (pruning changes scores only for OOV-heavy docs)."""
    from pyspark.sql import functions as F

    from wine_label_ocr_spark.fixtures import pages_spark
    from wine_label_ocr_spark.operators.textops import bigram_lm_scores
    from wine_label_ocr_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")
    spark = get_spark(app="soak_lmstage", master="local[32]",
                      shuffle_partitions=256)
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="wlos_lmstage_")
    try:
        pq = os.path.join(base, "docs")
        t0 = time.time()
        sent = F.lit(" The committee convened at noon to review the "
                     "annual budget. Revenues rose modestly while "
                     "expenditures remained flat across departments.")
        (pages_spark(spark, n_pages, partitions=128)
         .select(F.xxhash64("url").alias("doc_id"),
                 F.concat(F.col("text"), sent).alias("text"))
         .write.parquet(pq))
        t_ingest = time.time() - t0
        docs = spark.read.parquet(pq)

        def wall(df):
            t = time.time()
            n = df.count()
            return round(time.time() - t, 1), n

        # warm-up (codegen + python workers) on a slice
        bigram_lm_scores(docs.limit(20000)).count()

        t_exact, n_exact = wall(bigram_lm_scores(docs))
        t_pruned, n_pruned = wall(bigram_lm_scores(docs, min_count=5,
                                                   top_n=200_000))
        return {"soak": "lmstage", "n_pages": n_pages,
                "ingest_sec": round(t_ingest, 1),
                "exact_sec": t_exact,
                "exact_docs_per_sec": round(n_pages / t_exact, 1),
                "pruned_sec": t_pruned,
                "pruned_docs_per_sec": round(n_pages / t_pruned, 1),
                "pruned_speedup_x": round(t_exact / t_pruned, 2),
                "n_docs_exact": n_exact, "n_docs_pruned": n_pruned}
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    which = sys.argv[1]
    n = int(sys.argv[2])
    out = {"capstone": run_capstone, "ivfadc": run_ivfadc,
           "crawlloop": run_crawlloop,
           "curatefull": run_curatefull,
           "anchorshare": run_anchorshare,
           "lmstage": run_lmstage}[which](n)
    print("SOAKRESULT " + json.dumps(out))
