"""End-to-end WineTracker.run() analog (SURVEY.md §3.1).

The reference captures the same bottle twice and compares the two records
(isBlobDataSimilar / isVintageSimilar / isMakerNameSimilar,
WineTracker.py:74-89). Here: render the same underlying document as two
different pages (different host/boilerplate, same main content), run the
full extraction pipeline on both, then apply the similarity suite — the
two records must be recognized as the same document, and unrelated pairs
must not.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wine_label_ocr_spark import oracle
from wine_label_ocr_spark.fixtures import make_page
from wine_label_ocr_spark.operators import similarity as S
from wine_label_ocr_spark.plans.pipeline import extract_records
from wine_label_ocr_spark.sources.table import ManifestTable


def _two_views(i: int):
    """The same document body behind two different wrappers."""
    import html as _h
    p = make_page(i)
    if p["kind"] != "html":
        p = make_page(i + 1000)
    paras = p["text"].split("\n\n")
    body = "".join(f"<p>{_h.escape(x)}</p>" for x in paras)
    other = (
        f'<!DOCTYPE html><html><head><meta charset="utf-8">'
        f"<title>{_h.escape(p['title'])}</title></head>"
        f"<body><header><nav><ul><li><a href='/'>Home page link</a></li>"
        f"<li><a href='/shop'>Shop here now</a></li></ul></nav></header>"
        f"<main><article>{body}</article></main>"
        f"<footer><p>{'© ' + str(p['year']) + ' ' if p['year'] else ''}"
        f"other-mirror.example.net — all rights reserved forever.</p>"
        f"</footer></body></html>"
    ).encode()
    return p, other


def _pick_indices(n: int = 2, want_year: bool = True) -> list[int]:
    out = []
    i = 0
    while len(out) < n:
        p = make_page(i)
        if p["kind"] == "html" and (p["year"] is not None) == want_year:
            out.append(i)
        i += 1
    return out


@pytest.fixture(scope="module")
def records(spark):
    rows = []
    # two year-bearing docs + one no-year doc (exercises the null path)
    for i in (*_pick_indices(2, want_year=True),
              *_pick_indices(1, want_year=False)):
        p, other = _two_views(i)
        rows.append((p["url"], p["warc_ts"], p["html"], None, p["lang"]))
        rows.append((p["url"].replace("https://", "https://mirror-") + "#v2",
                     p["warc_ts"], other, None, p["lang"]))
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string")
    return extract_records(df).cache()


def test_pair_verdicts(spark, records):
    rec = records.select("url", "maker_name", "vintage", "custom_id",
                         "fingerprint", "blob_data.spans")
    a = rec.filter(~F.col("url").startswith("https://mirror-")).alias("a")
    b = rec.filter(F.col("url").startswith("https://mirror-")).alias("b")
    pairs = a.join(b, F.col("b.url").contains(
        F.regexp_extract(F.col("a.url"), r"/p/(\d+)\.html", 1)))
    scored = pairs.select(
        F.col("a.url").alias("url_a"), F.col("b.url").alias("url_b"),
        F.col("a.vintage").alias("v_a"), F.col("b.vintage").alias("v_b"),
        S.vintage_similar(F.col("a.vintage"), F.col("b.vintage")).alias("vintage_ok"),
        S.fuzzy_score_udf(F.col("a.maker_name"), F.col("b.maker_name")).alias("maker_score"),
    ).collect()
    assert len(scored) == 3
    for r in scored:
        assert r["maker_score"] >= S.FUZZY_THRESHOLD   # isMakerNameSimilar
        # isVintageSimilar is null-rejecting (VintageSimilarity.py:12-17):
        # true iff both present and equal; the no-year page pair is False
        assert r["vintage_ok"] == (r["v_a"] is not None and r["v_a"] == r["v_b"])

    # isBlobDataSimilar: span layouts of the two views must match
    sa = a.select(F.col("a.url").alias("url"), F.col("a.spans").alias("spans"))
    sb = b.select(F.col("b.url").alias("url"), F.col("b.spans").alias("spans"))
    sim = S.span_similarity_join(sa, sb, pair_cond=F.lit(True),
                                 dedup_pairs=False).collect()
    same = [r for r in sim
            if r["url_b"].split("/p/")[-1].split(".html")[0]
            == r["url_a"].split("/p/")[-1].split(".html")[0]]
    assert len(same) == 3
    for r in same:
        assert r["score"] >= S.DECISION_THRESHOLD, r
    diff = [r for r in sim if r not in same]
    assert all(r["score"] <= 1.0 for r in diff)


def test_dedup_ingest_round_trip(spark, records, tmp_path):
    """scan_and_store.main() analog: first view ingests, second view is
    recognized (exact or fuzzy) and NOT re-inserted."""
    t = ManifestTable(str(tmp_path / "cellar"))
    keyed = records.filter(F.col("custom_id").isNotNull())  # P8 empty-key guard
    first = keyed.filter(~F.col("url").startswith("https://mirror-")) \
        .select("custom_id", "maker_name", "vintage", "url")
    t.append(first)
    n_store = t.read(spark).count()
    second = keyed.filter(F.col("url").startswith("https://mirror-")) \
        .select("custom_id", "maker_name", "vintage", "url")
    dec = S.fuzzy_match_decisions(second, t.read(spark))
    for r in dec.collect():
        assert r["decision"] in ("seen-exact", "seen-fuzzy"), r
    # J11: anti-join insert adds nothing for seen records
    seen_keys = [r["custom_id"] for r in dec.filter(
        F.col("decision") != "not seen").collect()]
    t.merge_insert(spark, second.filter(F.col("custom_id").isin(seen_keys)), "custom_id")
    assert t.read(spark).count() == n_store


def test_curate_crawl_end_to_end(spark, tmp_path):
    """Capstone: gz WARC crawl in -> curated gz WARC corpus out.
    Duplicates collapse to one survivor, every surviving text is
    byte-identical to its source page, and the export re-reads clean."""
    from wine_label_ocr_spark.fixtures import pages_pandas
    from wine_label_ocr_spark.plans.curate import curate_crawl
    from wine_label_ocr_spark.sources.warc import read_warc, write_warc

    pdf = pages_pandas(120)
    rows = pdf.to_dict("records")
    # plant exact duplicates: pages 100-109 re-shipped under new urls
    dups = [{**rows[i], "url": rows[i]["url"] + "?mirror=1"}
            for i in range(100, 110)]
    src = tmp_path / "crawl"
    src.mkdir()
    write_warc(str(src / "a.warc.gz"), rows[:60] + dups[:5], compress=True)
    write_warc(str(src / "b.warc.gz"), rows[60:] + dups[5:], compress=True)

    out = str(tmp_path / "curated")
    manifest = curate_crawl(spark, str(src / "*.warc.gz"), out,
                            n_shards=2, min_quality=0.0, min_tokens=1)
    n_out = sum(r["n_records"] for r in manifest)
    # exactly one survivor per duplicate pair -> 120 canonical docs
    # (minus any natural near-dups the synthesizer planted)
    assert 100 <= n_out <= 120

    back = read_warc(spark, out + "/*.warc.gz",
                     record_types=("conversion",))
    assert back.count() == n_out
    # WET-style payloads: byte-identical to the source pages' EXTRACTED
    # text (the whole point of the byte-identity contract)
    src_pages = read_warc(spark, str(src / "*.warc.gz"))
    truth = {r["url"]: r["text"]
             for r in extract_records(src_pages).collect()}
    survived = [(r["url"], bytes(r["html"]).decode("utf-8"))
                for r in back.collect()]
    assert all(truth[u] == t for u, t in survived)
    # no mirror url AND its original both survive (exact dedup worked)
    urls = {u for u, _ in survived}
    assert not any(u + "?mirror=1" in urls for u in urls)


def test_curation_funnel_counts_consistent(spark):
    """run_curation_funnel's stage counts are internally consistent,
    monotone non-increasing, and 'canonical' equals curate_pages' actual
    output row count (the funnel reports the REAL stages, not a twin)."""
    from wine_label_ocr_spark.fixtures import pages_spark
    from wine_label_ocr_spark.plans.curate import (curate_pages,
                                                   run_curation_funnel)

    pages = pages_spark(spark, 80, partitions=4)
    rows = run_curation_funnel(pages, min_quality=0.0, min_tokens=1)
    assert list(rows) == ["pages", "candidates", "unique", "canonical"]
    assert rows["pages"] == 80
    assert (rows["pages"] >= rows["candidates"] >= rows["unique"]
            >= rows["canonical"] > 0)
    assert curate_pages(pages, min_quality=0.0,
                        min_tokens=1).count() == rows["canonical"]


def test_curation_funnel_counts_pages_above_the_cut(spark):
    """The stages above the near-dup lineage cut are observed while the
    cut materializes: a lazy checkpoint would leave the ``pages`` and
    ``candidates`` Observations at 0. Adaptive execution runs the
    stages below a lazy checkpoint's exchanges at checkpoint time and
    would hide that, so it is off here."""
    from wine_label_ocr_spark.fixtures import pages_spark
    from wine_label_ocr_spark.plans.curate import run_curation_funnel

    pages = pages_spark(spark, 40, partitions=2)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        counts = run_curation_funnel(pages, min_quality=0.0, min_tokens=1)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert counts["pages"] == pages.count() == 40
    assert counts["candidates"] > 0


def test_curation_funnel_gate_leaves_no_cache(spark):
    """The curation gate caches nothing: no plan is left pinned in the
    session's cache manager after it runs."""
    import __spark_entry__ as E

    spark.catalog.clearCache()
    E.q_curation_funnel(spark, E.SF_DEFAULT).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("name", ["training_funnel", "crawl_cycle_funnel"])
def test_funnel_gate_matches_oracle(oracle_gate, name):
    """The one-pass funnel runners' observed counts equal the DuckDB
    re-derivation of every stage."""
    oracle_gate(name)


def test_curate_pages_optional_ingest_stages(spark):
    """The default-off ingest stages compose: a blocklisted host and a
    robots-disallowed page disappear, mojibake is normalized before the
    quality gates, docs already in the prior snapshot's fingerprint
    store are dropped — and with every option off the output is
    byte-identical to the plain capstone."""
    from pyspark.sql import functions as F
    from wine_label_ocr_spark.fixtures import pages_spark
    from wine_label_ocr_spark.operators.dedupe import snapshot_fingerprints
    from wine_label_ocr_spark.operators.robots import parse_robots_rules
    from wine_label_ocr_spark.plans.curate import curate_pages

    pages = pages_spark(spark, 60, partitions=4).cache()
    plain = curate_pages(pages, min_quality=0.0, min_tokens=1)
    base_urls = {r["url"] for r in plain.select("url").collect()}
    assert len(base_urls) > 10

    # with all options explicitly None/False: identical output
    same = curate_pages(pages, min_quality=0.0, min_tokens=1,
                        blocklist=None, robots_rules=None,
                        normalize_text=False, prior_fps=None)
    assert {r["url"] for r in same.select("url").collect()} == base_urls

    # blocklist: pick one real host from the fixture and ban it
    host = sorted(u.split("/")[2] for u in base_urls)[0]
    bl = spark.createDataFrame([(host,)], "domain string")
    blocked = curate_pages(pages, min_quality=0.0, min_tokens=1,
                           blocklist=bl)
    urls_b = {r["url"] for r in blocked.select("url").collect()}
    assert not any(u.split("/")[2] == host for u in urls_b)
    assert urls_b < base_urls

    # robots: disallow everything on that host via rules
    robots = spark.createDataFrame(
        [(host, "User-agent: *\nDisallow: /\n")],
        "host string, robots_txt string")
    polite = curate_pages(pages, min_quality=0.0, min_tokens=1,
                          robots_rules=parse_robots_rules(robots))
    urls_r = {r["url"] for r in polite.select("url").collect()}
    assert urls_r == urls_b  # same pages gone, different mechanism

    # prior_fps: fingerprint half the corpus as the "previous crawl";
    # those documents must not survive the incremental stage
    prior_recs = curate_pages(pages_spark(spark, 30, partitions=2),
                              min_quality=0.0, min_tokens=1)
    fps = snapshot_fingerprints(prior_recs)
    inc = curate_pages(pages, min_quality=0.0, min_tokens=1, prior_fps=fps)
    urls_i = {r["url"] for r in inc.select("url").collect()}
    prior_urls = {r["url"] for r in prior_recs.select("url").collect()}
    assert urls_i.isdisjoint(prior_urls)
    assert urls_i  # the second half survives

    # normalize_text: output text passes fix_text unchanged (idempotent)
    from wine_label_ocr_spark.operators.textops import fix_text
    norm = curate_pages(pages, min_quality=0.0, min_tokens=1,
                        normalize_text=True)
    chk = norm.select((F.col("text") == fix_text(F.col("text")))
                      .alias("ok")).collect()
    assert all(r["ok"] for r in chk)

    # c4: the fixture's word-salad lines carry no terminal punctuation,
    # so vanilla fixture pages legitimately fail C4's page rule — the
    # stage must drop ALL of them. Pages with sentence-shaped content
    # appended must survive WITH their text rewritten to the kept lines
    # (C4-idempotent).
    from wine_label_ocr_spark.operators.textops import c4_text_cols
    assert curate_pages(pages, min_quality=0.0, min_tokens=1,
                        c4=True).count() == 0
    sentences = F.concat(
        F.col("html"),
        F.lit(b"<p>This line ends with proper punctuation today.</p>"
              b"<p>Another full sentence keeps the page alive.</p>"
              b"<p>Three kept lines satisfy the page rule.</p>"))
    pages_s = pages.withColumn("html", sentences)
    c4d = curate_pages(pages_s, min_quality=0.0, min_tokens=1, c4=True)
    clean_again, _, _ = c4_text_cols(F.col("text"))
    chk4 = c4d.select((F.col("text") == clean_again).alias("idem"),
                      (~F.col("text").contains("{")).alias("nobrace")) \
              .collect()
    assert chk4 and all(r["idem"] and r["nobrace"] for r in chk4)

    # gopher: survivors all pass the gate; non-survivors that fail only
    # gopher exist (the stage actually cuts)
    from wine_label_ocr_spark.operators.textops import gopher_gate
    gop = curate_pages(pages, min_quality=0.0, min_tokens=1, gopher=True)
    urls_g = {r["url"] for r in gop.select("url").collect()}
    assert urls_g <= base_urls
    ok_flags = gop.select(gopher_gate(F.col("text")).alias("ok")).collect()
    assert all(r["ok"] for r in ok_flags)
    pages.unpersist()


def test_curate_pages_lm_bucket_stage(spark):
    """CCNet-style LM stage: keeping ALL buckets is identity (every
    fixture doc carries bigrams), keeping only the head is a strict,
    deterministic subset."""
    from wine_label_ocr_spark.fixtures import pages_spark
    from wine_label_ocr_spark.plans.curate import curate_pages

    pages = pages_spark(spark, 40, partitions=4).cache()
    base = {r["url"] for r in
            curate_pages(pages, min_quality=0.0, min_tokens=1)
            .select("url").collect()}
    allb = {r["url"] for r in
            curate_pages(pages, min_quality=0.0, min_tokens=1,
                         lm_keep=(1, 2, 3)).select("url").collect()}
    assert allb == base
    head = {r["url"] for r in
            curate_pages(pages, min_quality=0.0, min_tokens=1,
                         lm_keep=(1,)).select("url").collect()}
    head2 = {r["url"] for r in
             curate_pages(pages, min_quality=0.0, min_tokens=1,
                          lm_keep=(1,)).select("url").collect()}
    assert head == head2          # deterministic replan
    assert head < base and head   # strict non-empty subset
    # the 100 TB path: broadcast-pruned LM at min_count=1 is exactly
    # the default (every observed bigram survives the prune)
    head_pruned = {r["url"] for r in
                   curate_pages(pages, min_quality=0.0, min_tokens=1,
                                lm_keep=(1,), lm_min_count=1)
                   .select("url").collect()}
    assert head_pruned == head
    pages.unpersist()
