"""End-to-end crawl cycle: fetched pages in → politeness-scheduled
frontier out.

The crawl-side capstone, mirror of ``plans/curate.py``: every stage is
an existing operator, chained as ONE lazy DataFrame program —

    pages ──extract_outlinks(resolve=True)──▶ hrefs     (pure map)
      ──canonical_url──▶ candidate URLs, distinct       (1 shuffle)
      ──seen-URL fingerprint store membership──▶ unseen (anti-join)
      ──robots_allowed──▶ politeness-allowed            (host equi join)
      ──schedule_frontier(robots_directives)──▶ slots   (host window)

This is what a real crawler runs between fetch rounds, and composing
it is what certifies the CROSS-operator contracts individual gates
cannot see: the resolver's output feeds ``canonical_url`` (absolute
http(s) URLs only), the robots gate and the frontier scheduler key on
the SAME normalized authority (``registrable_host`` semantics on both
join sides), and the crawl delay comes from the same robots bytes the
Allow/Disallow verdict parsed (``robots_directives`` — no hand-built
delay table). Reference analog: ``WineTracker.run()`` composing all
stages (/root/reference/WineTracker.py:21-68), re-targeted at the
fetch→expand→schedule loop.

Scale shapes (the 100 TB read): outlink extraction + resolution +
canonicalization are pure JVM maps (zero Exchange); the candidate
``distinct`` and the seen-store anti-join shuffle only (url | 64-bit
fp); robots rules pack to one row per host and join the candidates
on the host (rules ≪ pages, no per-URL aggregation); the frontier
window is host-keyed (politeness serializes a host anyway — see
``operators/frontier.py``). The seen store is ID-free 64-bit
fingerprints (``seen_url_fps``), the same store discipline as
``dedupe.snapshot_fingerprints``: membership is all the next cycle
asks, so at 10^12 URLs the store is 8 bytes a row and the anti-join
never touches strings. Membership has two plans, chosen by the type of
``seen_fps``: a DataFrame store is anti-joined (the store shuffles on
fp), a bucketed ``SeenUrlStore`` is probed in place
(``SeenUrlStore.probe_unseen``: no store scan or exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.dedupe import _hash64
from ..operators.frontier import schedule_frontier
from ..operators.graph import extract_outlinks
from ..operators.robots import (parse_robots_rules, robots_allowed,
                                robots_directives)
from ..operators.sitemap import parse_sitemap
from ..operators.textops import canonical_url
from .funnel import StageCounter


def seen_url_fps(urls: DataFrame, url_col: str = "url",
                 oracle_safe: bool = False) -> DataFrame:
    """Fetched URLs → the ``(fp)`` seen-URL fingerprint store the next
    ``crawl_cycle`` anti-joins against: canonicalize (so the stored key
    matches what frontier expansion produces for the same page), hash
    64-bit (xxhash64 production / md5 ``oracle_safe`` flavor — the
    ``dedupe._hash64`` dispatch), distinct. Non-http(s) rows (NULL
    canonical) are dropped — they were never frontier candidates."""
    canon = canonical_url(F.col(url_col))
    return (urls.select(canon.alias("_c"))
            .filter(F.col("_c").isNotNull())
            .select(_hash64(F.col("_c"), 0, oracle_safe).alias("fp"))
            .distinct())


class SeenUrlStore:
    """Durable, restart-surviving seen-URL fingerprint store: the
    ``seen_url_fps`` rows persisted through ``ManifestTable``
    (``sources/table.py``) so the crawl-over-crawl loop can stop and
    resume — a crawler that loses its seen set re-fetches the whole
    frontier. Reference analog: the tracker's append-only seen-record
    JSONL store (/root/reference/scan_and_store.py:58-119), upgraded
    to snapshot-committed parquet.

    Commit discipline per cycle: ``record_fetched`` MERGE-inserts the
    fetched URLs' fingerprints (anti-join dedup against the current
    snapshot, so the store never grows duplicate fps and each commit
    writes only the cycle's NEW fingerprints). Rows are committed
    range-ordered on ``fp`` (``repartitionByRange`` +
    ``sortWithinPartitions``) with the sticky ``stats_col="fp"``, so
    every data file covers a narrow fp range and ``read(key_between=
    (lo, hi))`` prunes non-overlapping files from the manifest footer
    stats BEFORE Spark lists them — at 10^12 URLs a range-bounded
    probe (membership check, per-shard anti-join) touches only the
    files whose range it can hit, not the whole store.

    ``crawl_cycle`` takes either form of the store as ``seen_fps``:
    ``read()`` for the anti-join, or a bucketed store (``n_buckets``)
    itself for ``probe_unseen``, which never scans or shuffles it."""

    def __init__(self, root: str, oracle_safe: bool = False,
                 n_files_per_commit: int = 8,
                 n_buckets: int | None = None):
        from ..sources.table import ManifestTable
        self.table = ManifestTable(root)
        self.oracle_safe = oracle_safe
        self.n_files_per_commit = n_files_per_commit
        self.n_buckets = n_buckets

    # -- bucketed layout (r8 VERDICT #4) ---------------------------------
    #
    # ``n_buckets=N`` switches the store to a hash-bucketed file layout
    # (``bucket=pmod(fp,N)`` Hive-style directories — the Iceberg
    # bucket-transform analog). The payoff is ``probe_unseen``: a
    # membership probe where the STORE side never enters a Spark scan or
    # exchange at all — candidates shuffle ONCE on the bucket key, then
    # each task opens only its own bucket's data files directly (Arrow
    # reader, fp column only, batch-streamed). That is the
    # storage-partitioned-join shape: at a 10^12-row store the default
    # anti-join shuffles the store every cycle; the bucketed probe
    # handles corpus-wide candidate sets with store-side cost = reading
    # the probed buckets once, no shuffle, no broadcast assumption
    # (BENCH.md r9 soak, 1M pages: 91 s vs the anti-join's 172 s).

    def _files_by_bucket(self) -> dict[int, list[str]]:
        files = self.table.current_files()
        out: dict[int, list[str]] = {}
        for v, fs in self.table.partition_values(files, "bucket").items():
            try:
                out[int(v)] = fs
            except ValueError:
                # un-bucketed legacy files: visible to every bucket
                # (safe — a probe may read more, never miss)
                for b in range(self.n_buckets or 1):
                    out.setdefault(b, []).extend(fs)
        return out

    def probe_unseen(self, cand: DataFrame,
                     fp_col: str = "fp") -> DataFrame:
        """Rows of ``cand`` whose ``fp_col`` is NOT in the store — the
        zero-store-exchange membership anti-join over the bucketed
        layout. One candidate shuffle on ``pmod(fp, n_buckets)``; per
        bucket-group, the task streams its bucket's parquet files
        through pyarrow (fp column only — at cluster scale these reads
        hit shared storage the same way the executors' scans do) and
        drops matched candidates. Memory is O(candidates in bucket);
        the store is never materialized. Requires ``n_buckets``."""
        if self.n_buckets is None:
            raise ValueError("probe_unseen requires a bucketed store "
                             "(n_buckets)")
        if self.table.is_empty():
            return cand
        files_by_bucket = self._files_by_bucket()
        n = self.n_buckets
        out_schema = cand.schema

        def anti(pdf):
            import pyarrow.parquet as pq
            pdf = pdf.drop(columns=["_bucket"])
            if pdf.empty:
                return pdf
            # Python % and Spark pmod agree on int64 (both non-negative)
            b = int(pdf[fp_col].iloc[0]) % n
            fps = set(pdf[fp_col].tolist())
            for path in files_by_bucket.get(b, []):
                pf = pq.ParquetFile(path)
                for batch in pf.iter_batches(columns=["fp"]):
                    fps -= set(batch.column(0).to_pylist())
                    if not fps:
                        return pdf.iloc[0:0]
            return pdf[pdf[fp_col].isin(fps)]

        return (cand
                .withColumn("_bucket",
                            F.pmod(F.col(fp_col), F.lit(n)).cast("int"))
                .groupBy("_bucket")
                .applyInPandas(anti, out_schema))

    def read(self, spark, key_between: tuple | None = None) \
            -> DataFrame | None:
        """Current snapshot as ``(fp)`` — feed it to ``crawl_cycle``'s
        ``seen_fps``; None while the store is empty (first cycle)."""
        return self.table.read(spark, key_between=key_between)

    def record_fetched(self, spark, fetched: DataFrame,
                       url_col: str = "url") -> int:
        """Fetched URLs → canonical 64-bit fps → MERGE-insert commit.
        Returns the new snapshot id. Bucketed stores dedupe the incoming
        batch with ``probe_unseen`` (store stays exchange-free on the
        write path too) and commit ``bucket=`` partition directories,
        one file per touched bucket."""
        fps = seen_url_fps(fetched, url_col, self.oracle_safe)
        if self.n_buckets is not None:
            new = (self.probe_unseen(fps)
                   .withColumn("bucket",
                               F.pmod(F.col("fp"),
                                      F.lit(self.n_buckets)).cast("int"))
                   .repartition("bucket")
                   .sortWithinPartitions("fp"))
            return self.table.append(new, stats_col="fp",
                                     partition_by=["bucket"],
                                     meta={"op": "record_fetched"})
        fps = (fps.repartitionByRange(self.n_files_per_commit, "fp")
               .sortWithinPartitions("fp"))
        return self.table.merge_insert(spark, fps, key="fp",
                                       stats_col="fp",
                                       meta={"op": "record_fetched"})

    def maybe_compact(self, spark, max_files: int = 64) -> int | None:
        """Periodic maintenance: once per-cycle commits accumulate past
        ``max_files`` data files, rewrite the store so probes go back to
        touching one file per fp range (range layout) or one file per
        bucket (bucketed layout) instead of one file per historical
        cycle. Safe to call every cycle — no-op below the threshold; old
        snapshots stay time-travelable until vacuum."""
        if self.n_buckets is not None:
            files = self.table.current_files()
            if len(files) < max(max_files, 2):
                return None
            cur = self.table.read(spark)
            if cur is None:
                return None
            df = (cur.withColumn("bucket",
                                 F.pmod(F.col("fp"),
                                        F.lit(self.n_buckets)).cast("int"))
                  .repartition("bucket").sortWithinPartitions("fp"))
            return self.table.overwrite(
                df, stats_col="fp", partition_by=["bucket"], op="compact",
                meta={"op": "seen_store_compact",
                      "compacted_from": len(files)})
        return self.table.compact(spark, min_files=max_files,
                                  meta={"op": "seen_store_compact"})


def _link_source(pages: DataFrame, respect_meta_robots: bool) -> DataFrame:
    """The pages whose outlinks feed the frontier. With
    ``respect_meta_robots``, a page carrying ``<meta name=robots
    content=nofollow>`` contributes no links: a pure-map filter on the
    SAME page scan (zero joins, zero extra passes) — the page itself
    still counts as fetched/seen; only its link contribution drops."""
    if not respect_meta_robots:
        return pages
    from ..operators.html_meta import robots_meta_flags
    _, nofollow = robots_meta_flags(F.col("html").cast("string"))
    return pages.filter(~nofollow)


def _unseen(cand: DataFrame, seen_fps: DataFrame | SeenUrlStore | None,
            oracle_safe: bool = False) -> DataFrame:
    """Rows of ``cand`` whose ``url`` fingerprint is not in the seen
    store — the crawl's membership stage, run by ``crawl_cycle`` and by
    ``streaming.crawl_candidates_stream`` alike. An ``(fp)`` DataFrame
    store is LEFT ANTI joined (the store shuffles on fp; on a stream it
    is a stateless stream-static join); a bucketed ``SeenUrlStore`` is
    probed in place (``probe_unseen``: candidates shuffle once on the
    bucket key, the store is opened per bucket inside the tasks — zero
    store-side scan or exchange, batch only). ``None`` keeps every
    row."""
    if seen_fps is None:
        return cand
    keyed = cand.withColumn("_fp", _hash64(F.col("url"), 0, oracle_safe))
    if isinstance(seen_fps, SeenUrlStore):
        return seen_fps.probe_unseen(keyed, fp_col="_fp").drop("_fp")
    return (keyed.join(seen_fps.select("fp"), keyed["_fp"] == F.col("fp"),
                       "left_anti")
            .drop("_fp"))


def _crawl_stages(pages: DataFrame, robots: DataFrame,
                  seen_fps: DataFrame | None,
                  default_delay_ms: int, n_workers: int,
                  agent: str, oracle_safe: bool,
                  sitemaps: DataFrame | None = None,
                  respect_meta_robots: bool = False,
                  stage_wrap=None) -> DataFrame:
    """The shared stage DAG, pages → schedule. One construction used by
    both ``crawl_cycle`` (the product) and ``run_crawl_funnel_one_pass``
    (its per-stage survivor counts, the driver gate), so the gate
    certifies the capstone's real stages, not a twin — the
    ``plans/curate.py`` pattern. ``stage_wrap(name, df)`` (a
    ``funnel.StageCounter.wrap``) observes the outlinks, candidates,
    unseen and allowed stages.

    ``sitemaps`` is the fetched-sitemap table ``(url, sitemap_xml)``;
    only files whose url a ``Sitemap:`` directive in THESE robots bytes
    declares feed the frontier (a left-semi join against the exploded
    directives — an undeclared sitemap payload cannot inject URLs),
    and their ``kind='url'`` locs union into the candidate set BEFORE
    the seen anti-join, so sitemap seeds get the same dedup/robots/
    politeness treatment as extracted outlinks."""
    dirs = robots_directives(robots, agent=agent)
    wrap = stage_wrap or (lambda name, df: df)
    links = wrap("outlinks", extract_outlinks(
        _link_source(pages, respect_meta_robots), resolve=True))
    cand_urls = links.select(canonical_url(F.col("resolved")).alias("url"))
    if sitemaps is not None:
        declared = dirs.select(F.explode("sitemaps").alias("url")).distinct()
        fetched = sitemaps.join(declared, "url", "left_semi")
        seeds = (parse_sitemap(fetched)
                 .filter(F.col("kind") == "url")
                 .select(canonical_url(F.col("loc")).alias("url")))
        cand_urls = cand_urls.unionAll(seeds)
    cand = wrap("candidates", cand_urls
                .filter(F.col("url").isNotNull())
                .distinct())
    unseen = wrap("unseen", _unseen(cand, seen_fps, oracle_safe))
    rules = parse_robots_rules(robots, agent=agent)
    allowed = wrap("allowed", robots_allowed(unseen, rules)
                   .filter(F.col("allowed")).drop("allowed"))
    return schedule_frontier(allowed, dirs,
                             default_delay_ms=default_delay_ms,
                             n_workers=n_workers,
                             delay_col="crawl_delay_ms",
                             oracle_safe=oracle_safe)


def crawl_cycle(pages: DataFrame, robots: DataFrame,
                seen_fps: DataFrame | None = None,
                default_delay_ms: int = 1000, n_workers: int = 16,
                agent: str = "*",
                oracle_safe: bool = False,
                sitemaps: DataFrame | None = None,
                respect_meta_robots: bool = False,
                anchor_index_k: int | None = None,
                ) -> DataFrame | tuple[DataFrame, DataFrame]:
    """One crawl cycle: fetched ``pages (url, html)`` + per-host
    ``robots (host, robots_txt)`` + the prior cycles' seen-URL store →
    the next fetch schedule ``(url, host, seq, worker, delay_ms,
    fetch_offset_ms)``. ``sitemaps (url, sitemap_xml)`` optionally
    seeds the candidate set with robots-declared sitemap locs (see
    ``_crawl_stages``).

    ``anchor_index_k``: when set, ALSO build the top-k anchor-text
    index over the same pages and return ``(schedule, index)``. The
    index reads the pages the frontier reads (``_link_source``: pages
    dropped by ``respect_meta_robots`` nofollow contribute no anchors),
    and its targets resolve against each page's effective base
    (``graph._effective_base``, the ``extract_outlinks`` rule) — the
    polite-crawler view of the graph. It is a second ``anchor_pairs``
    pass over the pages: BENCH.md r8 measured it at 1.11× the cycle
    alone (200k pages, interleaved median-of-3), against 1.60× for a
    one-scan combined lexer feeding both consumers, which was deleted.

    ``seen_fps`` picks the membership plan: an ``(fp)`` DataFrame is
    anti-joined (the store shuffles on fp), a bucketed
    ``SeenUrlStore`` is probed in place with ``probe_unseen`` (no store
    scan or exchange; BENCH.md r9 soak, 1M pages: 91 s vs 172 s).

    Feed the returned URLs to the fetcher fleet, then
    ``seen_url_fps(fetched).union(seen_fps).distinct()`` is the store
    for the cycle after — the crawl-over-crawl loop."""
    sched = _crawl_stages(
        pages, robots, seen_fps, default_delay_ms, n_workers, agent,
        oracle_safe, sitemaps=sitemaps,
        respect_meta_robots=respect_meta_robots)
    if anchor_index_k is None:
        return sched
    from ..operators.graph import (BASE_PATTERN, _effective_base,
                                   anchor_text_index)
    basetag = F.regexp_extract(F.col("html").cast("string"), BASE_PATTERN, 1)
    src_pages = _link_source(pages, respect_meta_robots).select(
        _effective_base(F.col("url"), basetag).alias("_eff_base"), "html")
    idx = anchor_text_index(src_pages, id_col="_eff_base",
                            k=anchor_index_k)
    return sched, idx


def run_crawl_funnel_one_pass(pages: DataFrame, robots: DataFrame,
                              seen_fps: DataFrame | None = None,
                              default_delay_ms: int = 1000,
                              n_workers: int = 16, agent: str = "*",
                              sitemaps: DataFrame | None = None,
                              sink: str = "noop",
                              oracle_safe: bool = False) -> dict[str, int]:
    """Per-stage survivor counts of the crawl cycle, observed on ONE
    run of ``crawl_cycle``'s stages (``funnel.StageCounter``):
    ``{outlinks, candidates, unseen, allowed, scheduled}``.
    ``scheduled == allowed`` is itself a pinned contract: every allowed
    candidate has a parseable host (canonicalization guarantees
    http(s)), so the scheduler drops nothing. ``oracle_safe`` selects
    the md5 hash flavor for DuckDB bit-parity. ``sink='noop'`` forces
    materialization without output; a path persists the schedule as
    parquet."""
    counter = StageCounter()
    sched = _crawl_stages(
        pages, robots, seen_fps, default_delay_ms, n_workers, agent,
        oracle_safe, sitemaps=sitemaps, stage_wrap=counter.wrap)
    return counter.run(counter.wrap("scheduled", sched), sink)
