"""End-to-end corpus curation: crawl in → training corpus out.

The capstone composition — every stage is an existing operator, chained
into one DataFrame program. It is NOT lazy: building it (``curate_pages``)
already runs Spark jobs. The lineage cut before the near-dup stage is an
eager ``localCheckpoint``, which runs ingest → extract → gates → exact
dedup; ``dedup_keep_one``'s ``connected_components`` then runs the LSH
pair stage in its eager edge checkpoint, and one eager
``localCheckpoint`` and one ``count()`` per label-propagation round.
Only the keep-one join and the write after it wait for the caller's
action:

    .warc/.warc.gz shards ──read_warc──▶ pages
      ──extract_records──▶ records (byte-identical text per url)
      ──quality / lang / length gates──▶ candidates      (pure map)
      ──exact_dedup──▶ unique documents                  (1 shuffle)
      ──minhash_lsh_pairs + dedup_keep_one──▶ canonical  (LSH + CC)
      ──write_warc_shards(compress=True)──▶ curated .warc.gz shards

This is the "point the engine at a crawl, get a training corpus back"
path the north rule describes; every stage's scale shape is documented
and plan-pinned at its definition site.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.dedupe import dedup_keep_one, exact_dedup, minhash_lsh_pairs
from ..operators.textops import host_of, lang_id, quality_score, token_count
from ..sources.warc import read_warc, write_warc_shards
from .funnel import StageCounter
from .pipeline import extract_records
from .skew import salted_agg


def _curation_stages(pages: DataFrame, min_quality: float, min_tokens: int,
                     langs: tuple[str, ...], near_dup_jaccard: float,
                     oracle_safe: bool = False,
                     blocklist: DataFrame | None = None,
                     robots_rules: DataFrame | None = None,
                     normalize_text: bool = False,
                     prior_fps: DataFrame | None = None,
                     c4: bool = False,
                     gopher: bool = False,
                     lm_keep: tuple[int, ...] | None = None,
                     lm_min_count: int | None = None,
                     lm_top_n: int | None = None,
                     stage_wrap=None) -> DataFrame:
    """The shared stage DAG, pages → canonical (``_did`` still carried).

    One construction used by both ``curate_pages`` (the product) and
    ``run_curation_funnel`` (its per-stage survivor counts, the driver
    gate) so the gate certifies the capstone's real stages, not a twin.
    ``stage_wrap(name, df)`` (a ``funnel.StageCounter.wrap``) observes
    the pages, candidates and unique stages.

    Optional ingest stages (all default-off so the certified funnel is
    unchanged): ``blocklist`` (domain suffix filter, pre-extract — the
    cheapest cut runs first), ``robots_rules`` (politeness verdicts,
    pre-extract), ``normalize_text`` (``fix_text`` over the extracted
    text — runs BEFORE the gates so quality scores see clean text),
    ``prior_fps`` (crawl-over-crawl ``incremental_dedup`` between the
    exact and near-dup stages); ``c4`` (C4 line cleaning + page rules —
    the text REWRITES to the kept lines, so it runs before every gate
    that scores text); ``gopher`` (the Gopher A1.1 rule conjunction,
    alongside the quality gates). All pure maps — the stage order stays
    cheapest-cut-first."""
    if blocklist is not None:
        from ..operators.classify import filter_blocklisted
        pages = filter_blocklisted(pages, blocklist)
    if robots_rules is not None:
        from ..operators.robots import robots_allowed
        pages = robots_allowed(pages, robots_rules) \
            .filter(F.col("allowed")).drop("allowed")
    wrap = stage_wrap or (lambda name, df: df)
    rec = extract_records(pages)
    if normalize_text:
        from ..operators.textops import fix_text
        rec = rec.withColumn("text", fix_text(F.col("text")))
    if c4:
        from ..operators.textops import c4_text_cols
        clean_text, _, page_ok = c4_text_cols(F.col("text"))
        rec = (rec.withColumn("_c4ok", page_ok)
               .withColumn("text", clean_text)
               .filter(F.col("_c4ok")).drop("_c4ok"))
    rec = wrap("pages", rec)
    cand = (rec.withColumn("_q", quality_score(F.col("text")))
            .withColumn("_nt", token_count(F.col("text")))
            .filter((F.col("_q") >= min_quality) & (F.col("_nt") >= min_tokens)))
    if langs:
        cand = cand.filter(lang_id(F.col("text")).isin(*langs))
    if gopher:
        from ..operators.textops import gopher_gate
        cand = cand.filter(gopher_gate(F.col("text")))
    cand = cand.drop("_q", "_nt")
    if lm_keep:
        # CCNet-style LM filtering (Wenzek et al. 2020): train the
        # bigram LM over THIS corpus's post-gate candidates, keep only
        # the requested perplexity buckets (1 = head). Runs after the
        # cheap per-doc gates (corpus-relative, so it must see the
        # final candidate population) and before dedup. Docs too short
        # to carry a bigram are dropped with the tail (unscorable).
        # Exact form: the one curation stage with corpus-wide shuffles
        # (two count aggs + an instance re-join). The 100 TB path is
        # lm_min_count/lm_top_n — the broadcast-pruned LM, where the
        # instance explosion never shuffles (measured 1.54x at 1M
        # pages, BENCH.md r8) at the cost of OOV bigrams leaving the
        # score (min_count=1, top_n=None is exactly the default).
        from ..operators.textops import bigram_lm_scores
        b = (bigram_lm_scores(cand, id_col="url",
                              min_count=lm_min_count, top_n=lm_top_n)
             .select(F.col("doc_id").alias("url"), "ppl_bucket"))
        cand = (cand.join(b, "url")
                .filter(F.col("ppl_bucket").isin(*lm_keep))
                .drop("ppl_bucket"))
    cand = wrap("candidates", cand)
    # dedup ids must be stable & orderable: hash the url
    keyed = cand.withColumn("_did", F.xxhash64("url"))
    uniq = exact_dedup(keyed, text_col="text", id_col="_did")
    if prior_fps is not None:
        from ..operators.dedupe import incremental_dedup
        uniq = incremental_dedup(uniq, prior_fps, id_col="_did",
                                 oracle_safe=oracle_safe)
    # Lineage cut before the near-dup stage: `uniq` feeds FIVE plan
    # branches downstream (the LSH bucket self-join's two sides, the
    # verify join's two text sides, and the keep-one anti-join), so
    # without a materialization the whole ingest→extract→gate→exact-
    # dedup prefix re-executes per branch — measured 1.38× on the
    # 1M-page soak (1359 s → 988 s; the rest of the wall is the LSH
    # shuffle + gzip write, not recompute). localCheckpoint spills
    # executor-local, the same pattern pagerank/connected_components
    # already use; at cluster scale the equivalent cut is persisting
    # the survivor set to a table between the stages. It is eager:
    # the Observations on the stages above it count only when the cut
    # itself runs them.
    uniq = uniq.localCheckpoint(eager=True)
    pairs = minhash_lsh_pairs(uniq, id_col="_did", text_col="text",
                              min_jaccard=near_dup_jaccard,
                              oracle_safe=oracle_safe)
    # `unique` is observed on the keep-one anti-join's left side, the
    # one branch that reads it exactly once
    return dedup_keep_one(wrap("unique", uniq), pairs, id_col="_did")


def curate_pages(pages: DataFrame, min_quality: float = 0.3,
                 min_tokens: int = 10, langs: tuple[str, ...] = (),
                 near_dup_jaccard: float = 0.85,
                 blocklist: DataFrame | None = None,
                 robots_rules: DataFrame | None = None,
                 normalize_text: bool = False,
                 prior_fps: DataFrame | None = None,
                 c4: bool = False, gopher: bool = False,
                 lm_keep: tuple[int, ...] | None = None,
                 lm_min_count: int | None = None,
                 lm_top_n: int | None = None) -> DataFrame:
    """pages → curated records. Filters are pure maps over the extract
    output; dedup keeps the minimum-url-hash survivor per duplicate
    cluster (deterministic across runs and partitionings). See
    ``_curation_stages`` for the optional ingest stages (domain
    blocklist, robots verdicts, text normalization, crawl-over-crawl
    dedup)."""
    canonical = _curation_stages(
        pages, min_quality, min_tokens, langs, near_dup_jaccard,
        blocklist=blocklist, robots_rules=robots_rules,
        normalize_text=normalize_text, prior_fps=prior_fps,
        c4=c4, gopher=gopher, lm_keep=lm_keep,
        lm_min_count=lm_min_count, lm_top_n=lm_top_n)
    return canonical.drop("_did")


def run_curation_funnel(pages: DataFrame, min_quality: float = 0.3,
                        min_tokens: int = 10, langs: tuple[str, ...] = (),
                        near_dup_jaccard: float = 0.85,
                        oracle_safe: bool = False) -> dict[str, int]:
    """Per-stage survivor counts of the curation capstone, observed
    while ``curate_pages``' stages run once (the eager lineage cut
    before near-dup, then a noop write): ``{pages, candidates,
    unique, canonical}``. Counts are representative-independent (which
    duplicate survives doesn't change how many do), which is what makes
    the whole funnel — including both dedup stages — SQL-oracle-
    expressible. ``oracle_safe`` selects the md5 MinHash flavor for
    DuckDB bit-parity (bench the default xxhash64 flavor)."""
    counter = StageCounter()
    canonical = _curation_stages(
        pages, min_quality, min_tokens, langs, near_dup_jaccard,
        oracle_safe=oracle_safe, stage_wrap=counter.wrap)
    return counter.run(counter.wrap("canonical", canonical).drop("_did"))


def host_profile(records: DataFrame, n_salts: int = 16) -> DataFrame:
    """Per-host profile of a (curated) record set — doc count, character
    mass, token mass — through the SALTED two-phase aggregation
    (``plans.skew.salted_agg``). Real crawls are host-skewed (a handful
    of hosts carry a double-digit share of pages; the fixtures plant hot
    hosts deliberately), so the host rollup inside the curation flow is
    exactly the aggregation shape a direct ``groupBy(host)`` would
    bottleneck on at 10^12 docs: one reducer per hot host. Salting
    spreads each hot host over ``n_salts`` partials first; results are
    bit-identical to the direct groupBy (algebraic aggregates only)."""
    withhost = records.withColumn("_h", host_of(F.col("url")))
    out = salted_agg(
        withhost, "_h",
        {"n_docs": ("count", F.lit(1)),
         "total_chars": ("sum", F.length("text").cast("bigint")),
         "total_tokens": ("sum", token_count(F.col("text")).cast("bigint"))},
        n_salts=n_salts)
    return out.select(F.col("_key").alias("host"), "n_docs",
                      "total_chars", "total_tokens")


def curate_crawl(spark: SparkSession, in_glob: str, out_dir: str,
                 compress: bool = True, n_shards: int | None = None,
                 **kwargs) -> list:
    """The whole arc: WARC shards in, curated gzip WARC shards out.

    Output records are WET (Common Crawl's extracted-text sibling of
    WARC): TRUE ``conversion``-type records whose payload is the curated
    document's EXTRACTED text, utf-8, under the source url/timestamp/
    lang — read back with ``read_warc(record_types=("conversion",))``.
    Returns the collected export manifest (path, n_records, n_bytes per
    shard) — collecting it is what commits the export."""
    curated = curate_pages(read_warc(spark, in_glob), **kwargs)
    wet = curated.select("url", "warc_ts",
                         F.encode("text", "utf-8").alias("html"), "lang")
    return write_warc_shards(wet, out_dir, n_shards=n_shards,
                             compress=compress,
                             record_type="conversion").collect()
