"""Similarity suite tests — the reference's commented-out inline cases
promoted to real asserts (FIXTURES.md §4; MakerAndCustomIDSimilarity.py:99-137,
VintageSimilarity.py:21-37, QRCodeSimilarity.py:21-37, BlobSimilarity.py:149-169).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wine_label_ocr_spark.operators import similarity as S


# -- pure scorer ------------------------------------------------------------

@pytest.mark.parametrize("a,b,expected", [
    ("Château Margaux", "Chateau   Margaux", True),   # accents + spacing
    ("Robert Mondavi Winery", "Robert Mondavi", True),  # token subset + stopword
    ("Opus One", "OPUS-ONE", True),                   # punctuation/case
    ("Opus One", "Screaming Eagle", False),
    ("", "Opus One", False),
    (None, "Opus One", False),
])
def test_strings_similar_reference_vectors(a, b, expected):
    score = S.strings_similar_score(a, b)
    assert (score >= S.FUZZY_THRESHOLD) == expected, score


def test_similarity_symmetric():
    # property (SURVEY.md §5.4): sim(a,b) == sim(b,a)
    cases = [("Château Margaux", "chateau margaux winery"),
             ("Opus One", "opus1"), ("A B C", "C B A")]
    for a, b in cases:
        assert S.strings_similar_score(a, b) == S.strings_similar_score(b, a)


def test_normalize_for_match():
    # reference default: NO stop-word stripping (both field wrappers call
    # strings_similar with strip_common_winery_words=False)
    assert S.normalize_for_match("Château & Co.") == "chateau and co"
    assert S.normalize_for_match("Robert Mondavi Winery") == "robert mondavi winery"
    # opt-in strip uses _WINERY_WORDS verbatim and may empty the string,
    # exactly like the reference's _normalize
    assert S.normalize_for_match("Robert Mondavi Winery",
                                 strip_stopwords=True) == "robert mondavi"
    assert S.normalize_for_match("Winery Estate", strip_stopwords=True) == ""


def test_indel_ratio_matches_rapidfuzz_semantics():
    """rapidfuzz parity (r1 VERDICT missing #1): _ratio is the normalized
    indel similarity (2·LCS/(|a|+|b|)·100) behind fuzz.ratio, and
    token_set_ratio composes it the way rapidfuzz does. The 'OPU-ON'
    reference vector only clears 85 under indel scoring — difflib's
    SequenceMatcher ratio fails it — so this pins the scorer family."""
    assert S._ratio("abcd", "abcd") == 100.0
    assert S._ratio("abcd", "") == 0.0
    # indel: dist("kitten","sitting") LCS=4 → 200*4/13
    assert abs(S._ratio("kitten", "sitting") - 800 / 13) < 1e-9
    # the tight reference vector: "opus one" vs "opu on"
    assert abs(S.token_set_ratio("opus one", "opu on") - 600 / 7) < 1e-9
    assert S.strings_similar_score("Opus One", "OPU-ON") >= S.FUZZY_THRESHOLD


@pytest.mark.parametrize("a,b,maker_ok", [
    # MakerAndCustomIDSimilarity.py:99-137, commented cases promoted
    ("Château Margaux", "Chateau   Margaux", True),    # case 1
    ("Robert Mondavi Winery", "Robert Mondavi", True),  # case 2
    ("Opus One", "OPU-ON", True),                       # case 3 (maker)
    ("Opus One", "Opus One", True),                     # cases A/B/C maker
])
def test_reference_maker_vectors(a, b, maker_ok):
    assert (S.strings_similar_score(a, b) >= S.FUZZY_THRESHOLD) == maker_ok


# -- column predicates --------------------------------------------------------

def test_vintage_barcode_null_rejecting(spark):
    df = spark.createDataFrame(
        [(2018, 2018, "x", "x"), (2018, 2019, "x", "y"),
         (None, 2018, None, "x"), (None, None, None, None)],
        "va int, vb int, ba string, bb string")
    out = df.select(
        S.vintage_similar(F.col("va"), F.col("vb")).alias("v"),
        S.barcode_similar(F.col("ba"), F.col("bb")).alias("b")).collect()
    assert [(r["v"], r["b"]) for r in out] == [
        (True, True), (False, False), (False, False), (False, False)]


def test_custom_id_year_hard_rule(spark):
    """The reference's signature case: same maker, different year →
    MakerSimilar yes, CustomIDSimilar NO (MakerAndCustomIDSimilarity.py:122-137)."""
    df = spark.createDataFrame(
        [("Opus One|2018", "Opus One|2019"),
         ("Opus One|2018", "OPUS-ONE|2018"),
         ("Opus One|2018", None)],
        "a string, b string")
    out = (df.withColumn("score", S.fuzzy_score_udf("a", "b"))
           .withColumn("sim", S.custom_id_similar(F.col("a"), F.col("b"), F.col("score")))
           ).collect()
    assert [r["sim"] for r in out] == [False, True, False]


# -- blocked fuzzy dedup join -------------------------------------------------

def test_fuzzy_match_decisions(spark):
    store = spark.createDataFrame(
        [("OPUS ONE|2018", "OPUS ONE", 2018),
         ("CHATEAU MARGAUX|2015", "CHATEAU MARGAUX", 2015)],
        "custom_id string, maker_name string, vintage int")
    new = spark.createDataFrame(
        [("OPUS ONE|2018", "OPUS ONE", 2018),            # exact
         ("CHTEAU MARGAUX|2015", "CHTEAU MARGAUX", 2015),  # fuzzy same vintage
         ("SCREAMING EAGLE|2019", "SCREAMING EAGLE", 2019)],  # not seen
        "custom_id string, maker_name string, vintage int")
    out = {r["custom_id"]: r for r in S.fuzzy_match_decisions(new, store).collect()}
    assert out["OPUS ONE|2018"]["decision"] == "seen-exact"
    assert out["CHTEAU MARGAUX|2015"]["decision"] == "seen-fuzzy"
    assert out["CHTEAU MARGAUX|2015"]["matched_key"] == "CHATEAU MARGAUX|2015"
    assert out["SCREAMING EAGLE|2019"]["decision"] == "not seen"


def test_fuzzy_cross_vintage_fallback(spark):
    """Reference cands-fallback (scan_and_store.py best_match): a
    vintage-bearing record with NO same-vintage candidates fuzzy-scans the
    whole store — an identical maker at another vintage IS seen (score 100,
    no same-vintage boost). Same-vintage blocking still wins when same-
    vintage candidates exist."""
    store = spark.createDataFrame(
        [("OPUS ONE|2018", "OPUS ONE", 2018)],
        "custom_id string, maker_name string, vintage int")
    new = spark.createDataFrame(
        [("OPUS ONE|2019", "OPUS ONE", 2019)],
        "custom_id string, maker_name string, vintage int")
    out = S.fuzzy_match_decisions(new, store).collect()[0]
    assert out["decision"] == "seen-fuzzy"
    assert out["matched_key"] == "OPUS ONE|2018"
    assert out["match_score"] == 100.0  # no boost: vintages differ
    # when same-vintage candidates DO exist, blocking restricts to them
    store2 = spark.createDataFrame(
        [("OPUS ONE|2018", "OPUS ONE", 2018),
         ("MARGAUX|2019", "MARGAUX", 2019)],
        "custom_id string, maker_name string, vintage int")
    out2 = S.fuzzy_match_decisions(new, store2).collect()[0]
    assert out2["decision"] == "not seen"  # only MARGAUX|2019 considered


def test_fuzzy_fallback_bounded_by_default(spark):
    """The full-store fallback tier is size-asserted by default: an
    oversized store raises instead of silently going quadratic; the
    explicit opt-ins (unbounded_fallback / a raised limit) restore the
    reference's unbounded-scan semantics with identical decisions."""
    import pytest
    store = spark.createDataFrame(
        [(f"MAKER {i:04d}|2018", f"MAKER {i:04d}", 2018) for i in range(12)],
        "custom_id string, maker_name string, vintage int")
    new = spark.createDataFrame(
        [("MAKER 0003|2019", "MAKER 0003", 2019)],  # cross-vintage fallback
        "custom_id string, maker_name string, vintage int")
    with pytest.raises(ValueError, match="fallback_store_limit"):
        S.fuzzy_match_decisions(new, store, fallback_store_limit=10).collect()
    bounded = S.fuzzy_match_decisions(new, store).collect()[0]
    unbounded = S.fuzzy_match_decisions(
        new, store, unbounded_fallback=True).collect()[0]
    assert (bounded["decision"], bounded["matched_key"],
            bounded["match_score"]) == \
           (unbounded["decision"], unbounded["matched_key"],
            unbounded["match_score"]) == ("seen-fuzzy", "MAKER 0003|2018", 100.0)


# -- span-layout matcher ------------------------------------------------------

def _mk_span(start, end, cx, cy, area, ar=4.0, sol=0.8, ext=1.0):
    return {"start": start, "end": end, "cx": cx, "cy": cy, "area": area,
            "aspect_ratio": ar, "solidity": sol, "extent": ext}


def test_span_layout_edge_cases():
    # BlobSimilarity.py:96,123-127: both empty → 1.0; one empty → 0.0
    assert S.span_layout_score([], [])["score"] == 1.0
    assert S.span_layout_score([_mk_span(0, 9, 0.1, 0.1, 9)], [])["score"] == 0.0


def test_span_layout_identical_high_translated_still_matches():
    spans = [_mk_span(0, 100, 0.0, 0.0, 100.0), _mk_span(102, 220, 0.5, 0.4, 118.0),
             _mk_span(222, 300, 1.0, 0.8, 78.0)]
    r = S.span_layout_score(spans, spans)
    assert r["score"] > S.TRACKER_THRESHOLD
    assert r["matched_pairs"] == 3
    # J9: a pure translation of all positions should still match well
    shifted = [dict(s, cx=s["cx"] + 0.07, cy=s["cy"] + 0.07) for s in spans]
    r2 = S.span_layout_score(spans, shifted)
    assert r2["score"] >= S.DECISION_THRESHOLD


def test_span_layout_different_layouts_low():
    a = [_mk_span(0, 100, 0.0, 0.0, 100.0, ar=4.0, sol=0.9, ext=1.0)]
    b = [_mk_span(0, 10, 0.9, 0.95, 10.0, ar=40.0, sol=0.1, ext=0.2),
         _mk_span(12, 20, 0.1, 0.5, 8.0, ar=0.1, sol=0.05, ext=0.1),
         _mk_span(22, 30, 0.4, 0.2, 8.0, ar=9.0, sol=0.3, ext=0.5)]
    assert S.span_layout_score(a, b)["score"] < S.DECISION_THRESHOLD


def test_span_quality_gate_normalization():
    """BlobSimilarity.py:99-101 — quality = 1 − med_cost/pair_threshold,
    NOT 1 − med_cost (the r1 divergence that inflated all qualities)."""
    a = [_mk_span(0, 100, 0.3, 0.3, 100.0, sol=0.8)]
    b = [_mk_span(0, 100, 0.3, 0.3, 100.0, sol=0.7)]
    r = S.span_layout_score(a, b)
    # single span → translation zeroes pos; cost = 0.075·|Δsol| = 0.0075
    assert abs(r["quality"] - (1.0 - 0.0075 / S.PAIR_COST_GATE)) < 1e-9
    ident = S.span_layout_score(a, a)
    assert ident["quality"] == 1.0 and ident["score"] == 1.0
    # weight override surface (isBlobDataSimilar weights kwarg)
    r_w = S.span_layout_score(a, b, weights={"solidity": 0.0})
    assert r_w["quality"] == 1.0


def test_span_similarity_join(spark):
    from wine_label_ocr_spark.fixtures import pages_spark
    from wine_label_ocr_spark.plans.pipeline import extract_records
    seg = extract_records(pages_spark(spark, 30, partitions=2)) \
        .select("url", "blob_data.spans").cache()
    # blocking is mandatory: omitting pair_cond must raise, not cross-join
    with pytest.raises(ValueError):
        S.span_similarity_join(seg, seg)
    out = S.span_similarity_join(seg, seg, pair_cond=F.lit(True)).collect()
    n = seg.count()
    assert len(out) == n * (n - 1) // 2
    # self-similarity sanity via a duplicated frame
    dup = seg.withColumn("url", F.concat(F.col("url"), F.lit("#b")))
    both = S.span_similarity_join(seg, dup,
                                  pair_cond=F.col("url_b") == F.concat(F.col("url_a"), F.lit("#b")))
    rows = both.collect()
    assert len(rows) == n
    assert all(r["score"] >= S.TRACKER_THRESHOLD for r in rows if r["matched_pairs"] > 0)


def test_fuzzy_null_vintage_paths(spark):
    """Vintage-less records: default scans all candidates (reference
    semantics); block_null_vintage restricts to same first maker token."""
    store = spark.createDataFrame(
        [("OPUS ONE|2018", "OPUS ONE", 2018),
         ("MARGAUX ESTATE|2015", "MARGAUX ESTATE", 2015)],
        "custom_id string, maker_name string, vintage int")
    new = spark.createDataFrame(
        [("OPUS-ONE", "OPUS-ONE", None)],
        "custom_id string, maker_name string, vintage int")
    default = S.fuzzy_match_decisions(new, store).collect()[0]
    assert default["decision"] == "seen-fuzzy"
    assert default["matched_key"] == "OPUS ONE|2018"
    blocked = S.fuzzy_match_decisions(new, store,
                                      block_null_vintage=True).collect()[0]
    assert blocked["decision"] == "seen-fuzzy"  # same first token "opus"


def test_block_null_vintage_bounds_all_tiers_no_size_limit(spark):
    """The scale path must never hit the store-size guard: with
    block_null_vintage=True every tier is an equi join, so a tiny
    fallback_store_limit is irrelevant — and the first-token-blocked
    fallback still finds an identical maker at another vintage."""
    store = spark.createDataFrame(
        [(f"MAKER {i:04d}|2018", f"MAKER {i:04d}", 2018) for i in range(12)],
        "custom_id string, maker_name string, vintage int")
    new = spark.createDataFrame(
        [("MAKER 0003|2019", "MAKER 0003", 2019)],
        "custom_id string, maker_name string, vintage int")
    out = S.fuzzy_match_decisions(new, store, block_null_vintage=True,
                                  fallback_store_limit=1).collect()[0]
    assert (out["decision"], out["matched_key"], out["match_score"]) == \
           ("seen-fuzzy", "MAKER 0003|2018", 100.0)
