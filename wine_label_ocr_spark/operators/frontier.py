"""Crawl-frontier scheduling: politeness-spaced fetch slots per host.

The operator between frontier expansion (``graph.extract_outlinks`` →
``textops.canonical_url`` → dedup against the seen set) and the fetcher
fleet: every candidate URL gets a host-sticky worker assignment and a
fetch-time offset that honors the host's crawl delay, so a fleet of
parallel fetchers never hits one host faster than its robots.txt
``Crawl-delay`` (or the crawler's default) allows.

Semantics per URL:

* ``host`` — the politeness key (``registrable_host``: lowercase,
  userinfo/port stripped — the same authority key the robots gate and
  blocklist use; splitting ``h.com`` and ``h.com:8080`` would double-hit
  the server);
* ``seq`` — the URL's 1-based position in its host's queue
  (deterministic: ordered by URL, so replanning a frontier yields the
  same schedule);
* ``worker`` — ``hash(host) mod n_workers``: ALL of a host's URLs land
  on one worker, which is what makes per-host spacing enforceable
  without cross-worker coordination;
* ``fetch_offset_ms`` — ``(seq − 1) · delay_ms``: the earliest fetch
  time relative to the host's first fetch.

Scale shape: one narrow shuffle on host for the per-host window plus a
host-keyed left join against the (small) delay table. A hot host's
window is a single reducer's sort — acceptable by construction here,
because politeness SERIALIZES a host anyway: a million-URL host at 1 s
spacing is 11 days of wall clock regardless of how it's planned, so the
plan-time sort is never the bottleneck. The worker hash is ``xxhash64``
in production and the md5 flavor (``oracle_safe=True``) for the DuckDB
twin, the same dispatch as ``dedupe._hash64``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from .dedupe import _hash64
from .textops import authority_host, registrable_host


def _with_delay(u: DataFrame, delays: DataFrame | None,
                default_delay_ms: int, host_col: str = "host",
                delay_col: str = "delay_ms") -> tuple[DataFrame, Column]:
    """``u`` (keyed on ``_host``) left-joined to the per-host ``delays``
    table, and the bigint delay column: the host's delay, else
    ``default_delay_ms``.

    The table's host key gets the SAME authority normalization as the
    URL side (lowercase, userinfo/port stripped — the robots.py
    rules-side treatment): a table keyed 'h.com:8080' must still govern
    'h.com', or its URLs silently fall back to the default delay and
    over-fetch the host. Conflicting rows for one host resolve to the
    MAX delay (the polite direction) via an aggregate, so duplicates can
    never fan out the join and corrupt seq/fetch offsets."""
    default = F.lit(int(default_delay_ms))
    if delays is None:
        return u, default.cast("bigint")
    d = (delays.select(authority_host(F.col(host_col)).alias("_host"),
                       F.col(delay_col).cast("bigint").alias("_d"))
         .groupBy("_host").agg(F.max("_d").alias("_delay")))
    return u.join(d, "_host", "left"), F.coalesce(F.col("_delay"), default)


def _worker(host: Column, n_workers: int, oracle_safe: bool) -> Column:
    """``hash(host) mod n_workers``: the host-sticky fetcher assignment."""
    return F.pmod(_hash64(host, 0, oracle_safe),
                  F.lit(int(n_workers))).cast("int")


def schedule_frontier(urls: DataFrame, delays: DataFrame | None = None,
                      default_delay_ms: int = 1000, n_workers: int = 16,
                      url_col: str = "url", host_col: str = "host",
                      delay_col: str = "delay_ms",
                      oracle_safe: bool = False) -> DataFrame:
    """Frontier URLs (+ optional per-host ``(host, delay_ms)`` table) →
    ``(url, host, seq, worker, delay_ms, fetch_offset_ms)``. URLs with
    no parseable http(s) host are dropped (they cannot be fetched).
    Unknown hosts get ``default_delay_ms``."""
    u = urls.select(F.col(url_col).alias("url"),
                    registrable_host(F.col(url_col)).alias("_host")) \
            .filter(F.col("_host").isNotNull())
    u, delay = _with_delay(u, delays, default_delay_ms, host_col, delay_col)
    seq = F.row_number().over(W.partitionBy("_host").orderBy("url"))
    worker = _worker(F.col("_host"), n_workers, oracle_safe)
    return (u.select("url", F.col("_host").alias("host"),
                     seq.alias("seq"), worker.alias("worker"),
                     delay.alias("delay_ms"))
            .withColumn("fetch_offset_ms",
                        ((F.col("seq") - 1) * F.col("delay_ms"))
                        .cast("bigint")))


def prioritized_frontier(urls: DataFrame, host_ranks: DataFrame,
                         budget: int,
                         delays: DataFrame | None = None,
                         default_delay_ms: int = 1000, n_workers: int = 16,
                         url_col: str = "url",
                         rank_host_col: str = "host",
                         rank_col: str = "rank_scaled",
                         oracle_safe: bool = False) -> DataFrame:
    """Budgeted priority crawl: rank frontier candidates by host
    authority and politeness-schedule only the global top-``budget``.

    Real crawls are always budget-bound (fetch capacity per cycle ≪
    frontier size); the standard selection policy is host authority —
    feed ``graph.pagerank``'s ``(host, rank_scaled)`` output straight
    in. Unknown hosts rank 0 (crawled last). Selection order is
    (rank desc, url asc): fully deterministic, so replanning the same
    frontier yields the same schedule.

    Scale shape: the rank join is host-keyed (ranks ≪ candidates,
    broadcastable); the top-N is ``orderBy().limit()`` — Spark's
    TakeOrderedAndProject keeps a size-N heap PER PARTITION and merges
    N rows on the driver, so there is NO global sort even at a 10^12
    frontier (budget rows must fit on the driver, which a fetch budget
    does by definition). Scheduling then adds ``priority`` to the
    standard ``schedule_frontier`` columns.

    Candidates are assumed DISTINCT urls (the crawl cycle's candidate
    ``distinct`` guarantees it) — duplicate urls would fan out the
    final priority join, same contract as ``schedule_frontier``."""
    u = (urls.select(F.col(url_col).alias("url"),
                     registrable_host(F.col(url_col)).alias("_host"))
         .filter(F.col("_host").isNotNull()))
    r = host_ranks.select(F.col(rank_host_col).alias("_host"),
                          F.col(rank_col).cast("bigint").alias("_rank"))
    top = (u.join(r, "_host", "left")
           .select("url",
                   F.coalesce(F.col("_rank"), F.lit(0)).alias("priority"))
           .orderBy(F.col("priority").desc(), F.col("url"))
           .limit(int(budget)))
    sched = schedule_frontier(top, delays=delays,
                              default_delay_ms=default_delay_ms,
                              n_workers=n_workers,
                              oracle_safe=oracle_safe)
    return sched.join(top, "url").select(
        "url", "host", "seq", "worker", "delay_ms", "fetch_offset_ms",
        F.col("priority").cast("bigint").alias("priority"))
