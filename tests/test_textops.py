"""Tests for text-analysis operators (documents table, sf0.001)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wine_label_ocr_spark.operators import textops as T

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def test_token_counts(spark, docs):
    row = (docs.limit(50)
           .select("text", T.token_count(F.col("text")).alias("n"),
                   T.bpe_ish_token_count(F.col("text")).alias("nb"))
           ).collect()
    for r in row:
        assert r["n"] == len(r["text"].split())
        assert r["nb"] >= r["n"]  # BPE-ish splits punctuation off


def test_token_count_empty(spark):
    df = spark.createDataFrame([("",), ("   ",), ("one two",)], "text string")
    out = [r["n"] for r in df.select(T.token_count(F.col("text")).alias("n")).collect()]
    assert out == [0, 0, 2]


def test_quality_score_ordering(spark):
    df = spark.createDataFrame([
        ("good", "The quick brown fox jumps over the lazy dog and runs far "
                 "into the quiet woods where the evening light is soft." * 3),
        ("junk", "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
        ("short", "hi"),
    ], "name string, text string")
    out = {r["name"]: r for r in df.select(
        "name", T.quality_score(F.col("text")).alias("q"),
        T.quality_gate(F.col("text")).alias("ok")).collect()}
    assert out["good"]["q"] > out["junk"]["q"]
    assert out["good"]["ok"] and not out["junk"]["ok"] and not out["short"]["ok"]


def test_lang_id(spark):
    df = spark.createDataFrame([
        ("en", "the cat sat on the mat and it is you that for"),
        ("fr", "le chat est sur la table et les de des que"),
        ("de", "der hund und die katze von den zu mit ist im"),
        ("es", "el perro y la gata de los las que en un por"),
        ("und", "zzz qqq xxx"),
    ], "expected string, text string")
    out = df.select("expected", T.lang_id(F.col("text")).alias("got")).collect()
    for r in out:
        assert r["got"] == r["expected"], (r["expected"], r["got"])


def test_doc_fingerprint_deterministic(spark, docs):
    a = docs.select("doc_id", T.doc_fingerprint(F.col("text")).alias("fp"))
    b = docs.select("doc_id", T.doc_fingerprint(F.col("text")).alias("fp"))
    assert a.collect() == b.collect()
    # different texts → (almost certainly) different fingerprints
    n_distinct = a.select("fp").distinct().count()
    assert n_distinct > 0.95 * a.count()


def test_text_profile_schema(spark, docs):
    out = T.text_profile(docs.limit(10))
    assert {"n_tokens", "n_bpe_tokens", "alpha_ratio", "quality",
            "quality_ok", "lang_pred", "content_fp"} <= set(out.columns)
    assert out.count() == 10


def test_chunk_documents_covers_every_token(spark):
    """Every token appears in some chunk; consecutive chunks overlap by
    exactly `overlap`; the tail chunk is short but present (the r2 bug
    class: stopping the stride at n-chunk+1 dropped tail tokens)."""
    from pyspark.sql import functions as F
    from wine_label_ocr_spark.operators.textops import chunk_documents
    rows = [(i, " ".join(f"t{i}_{j}" for j in range(n)))
            for i, n in enumerate([1, 63, 64, 65, 120, 128, 129, 300])]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = chunk_documents(df, chunk_tokens=64, overlap=8)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_text"], r["n_tokens"]))
    for i, n in enumerate([1, 63, 64, 65, 120, 128, 129, 300]):
        chunks = sorted(got[i])
        toks = set()
        for idx, (ci, text, nt) in enumerate(chunks):
            ts = text.split()
            assert ci == idx and len(ts) == nt <= 64
            toks.update(ts)
        assert toks == {f"t{i}_{j}" for j in range(n)}, (i, n)
        if n > 64:  # overlap property between consecutive chunks
            a, b = chunks[0][1].split(), chunks[1][1].split()
            assert a[-8:] == b[:8]


def test_pack_sequences_respects_budget(spark):
    from wine_label_ocr_spark.operators.textops import pack_sequences
    rows = [(i, " ".join(["w"] * n))
            for i, n in enumerate([100, 200, 300, 50, 512, 600, 10])]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = sorted((r["bin_id"], r["doc_id"], r["n_tokens"])
                 for r in pack_sequences(df, budget_tokens=512).collect())
    # bins: docs 0,1,2 start at cum-n 0,100,300 -> bin 0; doc 3 at 600 -> 1...
    by_bin = {}
    for b, d, n in out:
        by_bin.setdefault(b, []).append(n)
    # a new bin starts only when the running total before the doc crossed
    # the budget; every doc is in exactly one bin
    assert sum(len(v) for v in by_bin.values()) == 7
    assert by_bin[0] == [100, 200, 300]  # 0,100,300 all < 512


def test_redact_pii(spark):
    from pyspark.sql import functions as F
    from wine_label_ocr_spark.operators.textops import redact_pii
    rows = [("a", "mail me at jo.doe+x@sub.example.org thanks"),
            ("b", "server at 192.168.001.1 port"),
            ("c", "call +44 (0)20 7946 0958 now"),
            ("d", "clean text with no pii at all")]
    df = spark.createDataFrame(rows, "k string, t string")
    got = {r["k"]: r["red"] for r in
           df.select("k", redact_pii(F.col("t")).alias("red")).collect()}
    assert got["a"] == "mail me at [EMAIL] thanks"
    assert got["b"] == "server at [IP] port"
    assert got["c"] == "call [PHONE] now"
    assert got["d"] == rows[3][1]


def test_repetition_stats_flags_spam(spark):
    from wine_label_ocr_spark.operators.textops import repetition_stats
    rows = [(1, "spam\nspam\nspam\nreal line"),
            (2, "buy now buy now buy now buy now"),
            (3, "all distinct words here today friends"),
            (4, "one")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert got[1]["dup_line_frac"] == 0.5       # 4 lines, 2 dup
    assert got[2]["top_bigram_frac"] > 0.5      # "buy now"/"now buy" dominate
    assert got[3]["dup_line_frac"] == 0.0
    assert got[3]["top_bigram_frac"] == 0.2     # 5 distinct bigrams
    assert got[4]["top_bigram_frac"] == 0.0     # <2 tokens


def test_pack_sequences_sharded_scales(spark):
    """n_shards partitions the running-sum window (no single-task global
    sort) while keeping every bin within budget+one-doc overflow."""
    rows = [(i, " ".join(["w"] * (50 + i % 70))) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = pack = __import__("wine_label_ocr_spark.operators.textops",
                            fromlist=["pack_sequences"]).pack_sequences(
        df, budget_tokens=256, n_shards=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the window must be partitioned: no empty partition spec
    assert "Window" in plan
    assert "windowspecdefinition(doc_id" not in plan.replace(" ", "").lower()
    rows_out = out.collect()
    assert len(rows_out) == 400
    by_bin = {}
    for r in rows_out:
        by_bin.setdefault(r["bin_id"], []).append(r["n_tokens"])
    # budget property: every bin except possibly its last doc fits 256
    for toks in by_bin.values():
        assert sum(toks[:-1]) < 256 or len(toks) == 1


def test_stratified_sample_deterministic_mixing(spark):
    """Corpus mixing: per-stratum keep rates land near spec, results are
    bit-stable across runs (hash rule, no RNG), absent strata drop, and
    the op is a pure map (zero Exchange)."""
    from wine_label_ocr_spark.operators.textops import stratified_sample
    d = spark.read.parquet(f"{SF}/documents.parquet")
    frac = {"en": 0.5, "de": 1.0, "fr": 0.25}
    for oracle_safe in (False, True):
        out = stratified_sample(d, frac, oracle_safe=oracle_safe)
        a = sorted(r["doc_id"] for r in out.collect())
        b = sorted(r["doc_id"] for r in
                   stratified_sample(d, frac, oracle_safe=oracle_safe).collect())
        assert a == b  # deterministic
        by_lang = {r["lang"]: r["n"] for r in
                   out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
        totals = {r["lang"]: r["n"] for r in
                  d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert set(by_lang) <= set(frac)  # es/zh dropped (not in spec)
        assert by_lang["de"] == totals["de"]  # frac 1.0 keeps everything
        for lang, f in frac.items():
            if f < 1.0 and totals.get(lang, 0) >= 20:
                rate = by_lang.get(lang, 0) / totals[lang]
                assert abs(rate - f) < 0.25, (lang, rate, f)
    plan = stratified_sample(d, frac)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_lexical_diversity_known_values(spark):
    from wine_label_ocr_spark.operators.textops import lexical_diversity
    d = spark.createDataFrame(
        [(1, "a b a c c c"), (2, ""), (3, "x"), (4, "w w w w")],
        "doc_id bigint, text string")
    out = {r["doc_id"]: tuple(r)[1:] for r in lexical_diversity(d).collect()}
    assert out[1] == (6, 3, 500000, 333333)   # {a:2,b:1,c:3} -> hapax {b}
    assert out[2] == (0, 0, None, None)       # empty doc
    assert out[3] == (1, 1, 1000000, 1000000)
    assert out[4] == (4, 1, 250000, 0)        # all repeats -> hapax 0
    plan = lexical_diversity(d)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # shuffle-free column algebra


def test_compression_ratio_flags_repetition(spark):
    """Template spam compresses far better than varied prose; empty text
    is NULL; ratios are positive and bounded sanely."""
    from wine_label_ocr_spark.operators.textops import compression_ratio
    spam = "buy cheap now " * 80
    prose = ("the quarterly report outlines divergent regional trends in "
             "manufacturing output employment figures and consumer prices "
             "while highlighting several unresolved supply questions and "
             "unusual seasonal variations across distinct coastal markets")
    d = spark.createDataFrame(
        [(1, spam), (2, prose), (3, "")], "doc_id bigint, text string")
    out = {r["doc_id"]: r["z"] for r in
           d.select("doc_id", compression_ratio(F.col("text")).alias("z")).collect()}
    assert out[3] is None
    assert 0 < out[1] < out[2] <= 1.2
    assert out[1] < 0.1  # 80x repetition collapses


def test_host_of(spark):
    from wine_label_ocr_spark.operators.textops import host_of
    d = spark.createDataFrame(
        [(1, "https://a.example.com/x/y"), (2, "http://b.org"),
         (3, "ftp://c.net/z"), (4, "not a url"), (5, None),
         (6, "HTTP://Upper.example/x")],  # scheme is case-insensitive
        "i bigint, url string")
    got = [r["h"] for r in d.orderBy("i")
           .select(host_of(F.col("url")).alias("h")).collect()]
    assert got == ["a.example.com", "b.org", None, None, None,
                   "Upper.example"]


def test_bigram_lm_pruned_broadcast_plan_and_equivalence(spark):
    """min_count/top_n path for the CCNet bigram LM (r7 VERDICT #8):
    (a) the scoring join is a BroadcastHashJoin and the bigram instance
    explosion never crosses a (w1,w2)-keyed Exchange beyond the one LM
    count build; (b) at min_count=1 the result is EXACTLY the default
    (every observed bigram has c12 >= 1); (c) top_n prunes OOV bigrams
    from both score and n_bigrams."""
    from wine_label_ocr_spark.operators.textops import bigram_lm_scores
    rows = [(i, ("the cat sat on the mat " * 3) if i % 2 == 0
             else "purple zebra quantum flux") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    pruned = bigram_lm_scores(df, min_count=1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # exactly one (w1, w2)-keyed exchange: the LM count build — the
    # instance-side scoring join must add none
    assert plan.count("hashpartitioning(w1") == 1

    exact = sorted(map(tuple, bigram_lm_scores(df).collect()))
    got = sorted(map(tuple, pruned.collect()))
    assert got == exact

    # top_n=2 keeps only the 2 most frequent bigrams; odd docs (all
    # singleton bigrams, tie-broken out) drop entirely
    top = {r["doc_id"]: r for r in
           bigram_lm_scores(df, top_n=2).collect()}
    assert set(top) == {0, 2, 4, 6}
    assert all(r["n_bigrams"] < e for r, e in
               zip(top.values(), [18] * 4))


def test_unigram_logprob_pruned_broadcast_plan_and_values(spark):
    """min_count/top_n path: (a) the scoring join is a BroadcastHashJoin
    and the token explosion never crosses a token-keyed Exchange (the
    10^12-doc shape, r3 VERDICT #5); (b) values equal the exact form
    restricted to surviving tokens, with the UNPRUNED total as normalizer."""
    from pyspark.sql import functions as F
    from wine_label_ocr_spark.operators.textops import unigram_logprob
    rows = [(1, "aa aa aa bb"), (2, "aa bb cc"), (3, "cc dd")]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    pruned = unigram_logprob(df, min_count=2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # exactly one token-keyed exchange: the (partial-aggregated) vocab
    # build; the scoring side must have none
    assert plan.count("hashpartitioning(tok") == 1

    # exact twin for comparison: 9 tokens total; aa=4 bb=2 cc=2 dd=1
    exact = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    got = {r["doc_id"]: r for r in pruned.collect()}
    import math
    t_aa = round(math.log(4 / 9) * 1e6)
    t_bb = round(math.log(2 / 9) * 1e6)
    t_cc = round(math.log(2 / 9) * 1e6)
    assert got[1]["logprob_scaled"] == 3 * t_aa + t_bb and got[1]["n_toks"] == 4
    assert got[2]["logprob_scaled"] == t_aa + t_bb + t_cc and got[2]["n_toks"] == 3
    # doc 3: dd pruned (cnt=1) -> only cc scores
    assert got[3]["logprob_scaled"] == t_cc and got[3]["n_toks"] == 1
    # exact form unchanged (oracle parity): doc 1 has no OOV so equal
    assert exact[1]["logprob_scaled"] == got[1]["logprob_scaled"]
    # top_n=2 keeps aa + bb (bb beats cc on token tiebreak)
    top = {r["doc_id"]: r for r in unigram_logprob(df, top_n=2).collect()}
    assert 3 not in top or top[3]["n_toks"] == 0  # cc pruned for doc 3


def test_term_frequencies_matches_counter(spark, docs):
    """Within-row tf (sorted run-length fold) == collections.Counter over
    lowercased whitespace tokens, for real documents and edge rows."""
    from collections import Counter

    edge = spark.createDataFrame(
        [(9001, ""), (9002, "   "), (9003, "a"), (9004, "B b A a b")],
        "doc_id long, text string")
    sample = docs.limit(40).select("doc_id", "text").unionByName(edge)
    out = sample.select(
        "doc_id", "text",
        T.term_frequencies(F.col("text")).alias("tf")).collect()
    for r in out:
        want = Counter(t.lower() for t in r["text"].split())
        got = {e["tok"]: e["tf"] for e in r["tf"]}
        assert got == dict(want), r["doc_id"]
        # entries are distinct and sorted by token
        toks = [e["tok"] for e in r["tf"]]
        assert toks == sorted(toks) and len(toks) == len(set(toks))


def test_tfidf_pruned_broadcast_plan_and_parity(spark, docs):
    """min_df/top_n_vocab path (the 10^12-doc shape): (a) with min_df=1
    the rows are exactly the exact flavor's; (b) the plan has NO
    (doc, tok) tf exchange — tf is within-row — only the narrow df agg
    and the doc-keyed top-k regroup, and the scoring join is broadcast;
    (c) real pruning drops below-threshold terms and out-of-vocab docs."""
    d = docs.limit(60).select("doc_id", "text")

    exact = T.tfidf_top_terms(d, k=3)
    pruned = T.tfidf_top_terms(d, k=3, min_df=1)
    want = {tuple(r) for r in exact.collect()}
    got = {tuple(r) for r in pruned.collect()}
    assert got == want and len(got) > 0

    # plan shape on the multi-partition full table, BEFORE execution
    # (a limit() input collapses exchanges to SinglePartition, and AQE's
    # post-run final plan rewrites them) — the exact flavor shuffles the
    # full (doc_id, tok) tf explosion; the pruned one never does
    import re
    full = docs.select("doc_id", "text").repartition(4)
    exact_plan = T.tfidf_top_terms(full, k=3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert re.search(r"hashpartitioning\(doc_id#\d+L?, tok#", exact_plan)
    pruned_plan = T.tfidf_top_terms(full, k=3, min_df=1)._jdf \
        .queryExecution().executedPlan().toString()
    assert not re.search(r"hashpartitioning\(doc_id#\d+L?, tok#", pruned_plan)
    assert "BroadcastHashJoin" in pruned_plan
    assert pruned_plan.count("hashpartitioning(tok") == 1   # df agg only
    # top-k regroup is the only doc-keyed exchange
    assert pruned_plan.count("hashpartitioning(doc_id") == 1

    # (c) semantics of real pruning on a tiny controlled corpus
    tiny = spark.createDataFrame(
        [(1, "aa aa bb"), (2, "aa cc"), (3, "dd")],
        "doc_id int, text string")
    out = {(r["doc_id"], r["tok"]) for r in
           T.tfidf_top_terms(tiny, k=5, min_df=2).collect()}
    # df: aa=2, bb=1, cc=1, dd=1 -> only aa survives; doc 3 disappears
    assert out == {(1, "aa"), (2, "aa")}
    top1 = {(r["doc_id"], r["tok"]) for r in
            T.tfidf_top_terms(tiny, k=5, top_n_vocab=1).collect()}
    assert top1 == {(1, "aa"), (2, "aa")}


def test_canonical_url_rules(spark):
    """Each canonicalization rule, plus non-http(s) -> NULL."""
    cases = {
        "HTTPS://WWW.Example.COM:443/Path/Sub/?utm_source=x&id=3&fbclid=z#f":
            "https://www.example.com/Path/Sub?id=3",
        "http://example.com:80/": "http://example.com/",
        "http://example.com:8080/a/": "http://example.com:8080/a",
        "https://example.com": "https://example.com/",
        "https://example.com/?utm_campaign=a&gclid=1&msclkid=2&mc_eid=3&igshid=4":
            "https://example.com/",
        "https://example.com/a?b=2&a=1": "https://example.com/a?b=2&a=1",
        "ftp://x/y": None,
        "not a url": None,
        "https://example.com/#frag": "https://example.com/",
    }
    df = spark.createDataFrame([(k,) for k in cases], "url string")
    got = {r["url"]: r["c"] for r in
           df.select("url", T.canonical_url(F.col("url")).alias("c")).collect()}
    assert got == cases
    # idempotent: canon(canon(u)) == canon(u)
    df2 = df.select(T.canonical_url(F.col("url")).alias("c")).filter("c is not null")
    twice = df2.select("c", T.canonical_url(F.col("c")).alias("cc")).collect()
    assert all(r["c"] == r["cc"] for r in twice)


def test_fix_text_normalization(spark):
    """Control-char strip (tab/newline/CR kept), unicode-space mapping,
    zero-width removal, curated mojibake repair (incl. the prefix-unsafe
    right double quote), idempotence, and ascii pass-through."""
    moji = lambda s: s.encode("utf-8").decode("cp1252", errors="ignore")  # noqa: E731
    rows = [
        (1, moji("caf\u00e9 r\u00e9sum\u00e9")),
        (2, moji("\u201cquoted\u201d and \u2019s \u2013 dash \u2026")),
        (3, "bad\x00ctrl\x07chars\x1fand\x7fdel\x9d"),
        (4, "a\u00a0b\u2003c\u202fd\u3000e"),
        (5, "zw\u200bsp\u200cjn\ufeffbom"),
        (6, "tabs\tand\nnewlines\rstay"),
        (7, "plain ascii stays untouched"),
        (8, ""),
    ]
    df = spark.createDataFrame(rows, "i int, t string")
    got = {r["i"]: r["f"] for r in
           df.select("i", T.fix_text(F.col("t")).alias("f")).collect()}
    assert got[1] == "caf\u00e9 r\u00e9sum\u00e9"
    assert got[2] == "\u201cquoted\u201d and \u2019s \u2013 dash \u2026"
    assert got[3] == "badctrlcharsanddel"
    assert got[4] == "a b c d e"
    assert got[5] == "zwspjnbom"
    assert got[6] == rows[5][1]
    assert got[7] == rows[6][1]
    assert got[8] == ""
    # idempotent
    twice = df.select(T.fix_text(T.fix_text(F.col("t"))).alias("a"),
                      T.fix_text(F.col("t")).alias("b")).collect()
    assert all(r["a"] == r["b"] for r in twice)
    # fix_mojibake=False leaves mojibake alone but still cleans controls
    raw = {r["i"]: r["f"] for r in df.select(
        "i", T.fix_text(F.col("t"), fix_mojibake=False).alias("f")).collect()}
    assert raw[1] == moji("caf\u00e9 r\u00e9sum\u00e9")


def _ref_bpe(text, merges):
    """Independent naive BPE reference (same published merges.txt
    semantics, written without looking at the column-algebra version):
    per pre-token, repeatedly apply the lowest-rank merge to all
    left-to-right occurrences until none applies."""
    import re
    ranks = {pair: i for i, pair in enumerate(merges)}
    toks = []
    for w in re.findall(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]", text):
        syms = list(w)
        while True:
            cand = [(ranks[(syms[i], syms[i + 1])], i)
                    for i in range(len(syms) - 1)
                    if (syms[i], syms[i + 1]) in ranks]
            if not cand:
                break
            a, b = merges[min(cand)[0]]
            ns, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    ns.append(a + b)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            syms = ns
        toks.extend(syms)
    return toks


def test_bpe_tokenize_matches_reference(spark):
    from wine_label_ocr_spark.operators.textops import (
        bpe_token_count, bpe_tokenize)
    merges = [("e", "r"), ("l", "o"), ("lo", "w"), ("n", "e"), ("ne", "w"),
              ("e", "s"), ("es", "t"), ("a", "a"), ("aa", "aa"),
              ("t", "h"), ("th", "e")]
    texts = ["lower newest wider low lowest!",
             "the theater seethes", "aaaaaaa aaa a", "", "x",
             "er er er", "2049 tokens, $3.50!", "newest\nnewest\tlow",
             "aab baa aaba", "thee the th"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    rows = df.select("t", bpe_tokenize(F.col("t"), merges).alias("toks"),
                     bpe_token_count(F.col("t"), merges).alias("n")) \
             .collect()
    for r in rows:
        want = _ref_bpe(r["t"], merges)
        assert r["toks"] == want, (r["t"], r["toks"], want)
        assert r["n"] == len(want)


def test_bpe_random_fuzz_against_reference(spark):
    import random
    from wine_label_ocr_spark.operators.textops import bpe_tokenize
    rng = random.Random(42)
    alphabet = "abc"
    # random merge tables over a tiny alphabet maximize pathological
    # overlap cases (aa+a vs a+aa orderings etc.)
    syms = list(alphabet)
    merges = []
    for _ in range(12):
        a, b = rng.choice(syms), rng.choice(syms)
        if (a, b) not in merges:
            merges.append((a, b))
            syms.append(a + b)
    texts = ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 14)))
             for _ in range(60)]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    rows = df.select("t", bpe_tokenize(F.col("t"), merges).alias("toks")) \
             .collect()
    for r in rows:
        assert r["toks"] == _ref_bpe(r["t"], merges), (r["t"], merges)


def test_pack_sequences_with_real_bpe_budget(spark):
    from wine_label_ocr_spark.operators.textops import (
        bpe_token_count, pack_sequences)
    merges = [("l", "o"), ("lo", "w")]
    rows = [(i, "low " * (i % 3 + 1)) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = pack_sequences(
        df, budget_tokens=4,
        count_col=bpe_token_count(F.col("text"), merges)).collect()
    got = {r["doc_id"]: (r["n_tokens"], r["bin_id"]) for r in out}
    # 'low' is ONE bpe token per occurrence; contiguous fill at budget 4
    cum = 0
    for i in range(10):
        n = i % 3 + 1
        assert got[i][0] == n
        assert got[i][1] == cum // 4
        cum += n


def test_bpe_large_merge_table_path_matches_literal_path(spark):
    """Past literal_pair_threshold the merge table ships as ONE packed
    str_to_map literal (ADVICE r5: no 2x|merges| plan nodes); results
    must be identical to the create_map path, padded inert pairs must
    not perturb tokenization, and the plan must stay O(1) nodes in
    |merges|."""
    from pyspark.sql import functions as F

    from wine_label_ocr_spark.operators.textops import bpe_tokenize

    merges = [("t", "h"), ("th", "e"), ("e", "r"), ("the", "r"),
              ("h", "e"), ("l", "l"), ("he", "ll"), ("o", "r")]
    big = merges + [(f"q{i}", f"z{i}") for i in range(3000)]
    df = spark.createDataFrame(
        [("the theme therefore",), ("hello there, 42 worlds!",)],
        "text string")
    small_out = [r[0] for r in
                 df.select(bpe_tokenize(F.col("text"), merges)).collect()]
    big_out = [r[0] for r in
               df.select(bpe_tokenize(F.col("text"), big)).collect()]
    assert small_out == big_out
    # the packed literal is one string node: forcing the big table
    # through the literal path would blow the plan up ~40x
    packed_plan = df.select(bpe_tokenize(F.col("text"), big)) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "str_to_map" in packed_plan or len(packed_plan) < 200_000


class TestScriptProfile:
    def _run(self, spark, text):
        from wine_label_ocr_spark.operators.textops import script_profile
        df = spark.createDataFrame([(1, text)], "doc_id int, text string")
        return script_profile(df).head().asDict()

    def test_counts_and_dominant(self, spark):
        r = self._run(spark, "Hello мир 你好 123")
        assert r["n_latin"] == 5 and r["n_cyrillic"] == 3 \
            and r["n_cjk"] == 2
        assert r["dominant_script"] == "latin"

    def test_tie_breaks_to_max_name(self, spark):
        assert self._run(spark, "да ok")["dominant_script"] == "latin"

    def test_none(self, spark):
        r = self._run(spark, "123 !? ÷")
        assert r["dominant_script"] == "none"
        assert all(v == 0 for k, v in r.items()
                   if k.startswith("n_"))


class TestBigramLM:
    def test_scores_and_buckets(self, spark):
        from wine_label_ocr_spark.operators.textops import bigram_lm_scores
        import math
        docs = spark.createDataFrame(
            [(1, "a b a b a b"),   # all mass on the common bigrams
             (2, "a b c d e f"),   # rare bigrams -> lower logprob
             (3, "a b a b x y"),
             (4, "z")],            # < 2 tokens: dropped
            "doc_id int, text string")
        out = {r["doc_id"]: r for r in bigram_lm_scores(docs).collect()}
        assert set(out) == {1, 2, 3}
        assert out[1]["n_bigrams"] == 5
        # doc 1 is the most predictable -> bucket 1 (head); doc 2 tail
        assert out[1]["ppl_bucket"] == 1
        assert out[2]["ppl_bucket"] == 3
        assert out[1]["mean_logprob"] > out[2]["mean_logprob"]
        # independent rebuild of doc 2's score: bigrams are PER-DOC
        # instances (no cross-doc pairs), unigrams and V include the
        # bigram-less doc 4
        import collections
        docs_toks = [t.split() for t in
                     ("a b a b a b", "a b c d e f", "a b a b x y", "z")]
        uni = collections.Counter(w for ts in docs_toks for w in ts)
        V = len(uni)
        big = collections.Counter(
            p for ts in docs_toks for p in zip(ts[:-1], ts[1:]))
        want = sum(
            round(math.log((big[(w1, w2)] + 1) / (uni[w1] + V)) * 1e6)
            for w1, w2 in zip(docs_toks[1][:-1], docs_toks[1][1:]))
        assert out[2]["logprob_scaled"] == want


def _ref_bpe_train(texts, n_merges, min_count=2, min_word_count=1):
    """Independent single-process BPE TRAINER (Sennrich-style, written
    without looking at the distributed version): word histogram →
    per-round overlapping adjacent-pair counts → best pair by
    (count desc, pair asc) → greedy left-to-right merge."""
    import collections
    import re
    words = collections.Counter()
    for t in texts:
        words.update(re.findall(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]", t))
    if min_word_count > 1:
        words = collections.Counter(
            {w: n for w, n in words.items() if n >= min_word_count})
    syms = {w: list(w) for w in words}
    merges = []
    for _ in range(n_merges):
        pc = collections.Counter()
        for w, n in words.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += n
        if not pc:
            break
        pair, cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_count:
            break
        merges.append(pair)
        a, b = pair
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


def test_bpe_train_matches_reference(spark):
    from wine_label_ocr_spark.operators.textops import bpe_train
    texts = ["low low low low low lower lower",
             "newest newest newest newest newest newest",
             "widest widest widest", "the theater seethes the the",
             "aaa aaaa aa a", "er er er!", "2049 tokens, $3.50"]
    # skewed repeats so counts separate; includes overlap cases (aaa)
    df = spark.createDataFrame([(t,) for t in texts * 3], "text string")
    got = bpe_train(df, n_merges=16, checkpoint_every=4)
    want = _ref_bpe_train([t for t in texts * 3], 16)
    assert got == want and len(got) > 8


def test_bpe_train_then_tokenize_roundtrip(spark):
    """Trained merges feed the existing apply path and reproduce the
    reference trainer+tokenizer end to end (the learn→apply contract)."""
    from wine_label_ocr_spark.operators.textops import (
        bpe_tokenize, bpe_train)
    texts = ["hugging bugs hugging rugs", "hugs hugs hugs bugs",
             "rug bug hug", "debugging debuggers debug"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    merges = bpe_train(df, n_merges=10)
    assert merges == _ref_bpe_train(texts, 10)
    rows = df.select("text",
                     bpe_tokenize(F.col("text"), merges).alias("toks")) \
             .collect()
    for r in rows:
        assert r["toks"] == _ref_bpe(r["text"], merges)


def test_bpe_train_stop_conditions(spark):
    from wine_label_ocr_spark.operators.textops import bpe_train
    # every pair unique → best count 1 < min_count 2 → no merges
    df = spark.createDataFrame([("abcdefg",)], "text string")
    assert bpe_train(df, n_merges=5) == []
    # min_count=1 merges until single symbols exhaust (word length 7 →
    # 6 merges max), never raises past exhaustion
    assert len(bpe_train(df, n_merges=50, min_count=1)) == 6
    # hapax pruning: min_word_count drops singleton words entirely
    df2 = spark.createDataFrame(
        [("zz zz zz",), ("qxjk",)], "text string")
    merges = bpe_train(df2, n_merges=5, min_word_count=2)
    assert merges == [("z", "z")]


def _ref_ffd(items, budget):
    """Independent first-fit-decreasing reference: items = [(id, n)],
    sort (n desc, id asc), probe bins in creation order."""
    order = sorted(items, key=lambda t: (-t[1], t[0]))
    rem, out = [], {}
    for i, n in order:
        for b in range(len(rem)):
            if rem[b] >= n:
                rem[b] -= n
                out[i] = b
                break
        else:
            rem.append(max(budget - n, 0))
            out[i] = len(rem) - 1
    return out, len(rem)


def test_pack_sequences_ffd_matches_reference(spark):
    from wine_label_ocr_spark.operators.textops import pack_sequences_ffd
    items = [(i, [600, 400, 300, 200, 1300][i % 5]) for i in range(40)]
    df = spark.createDataFrame(items, "doc_id long, n long")
    out = pack_sequences_ffd(df, budget_tokens=1000,
                             count_col=F.col("n")).collect()
    want, n_bins = _ref_ffd(items, 1000)
    got = {r["doc_id"]: r["bin_id"] for r in out}
    assert got == want
    assert len({r["bin_id"] for r in out}) == n_bins
    # validity: no bin over budget unless it holds one oversized doc
    from collections import defaultdict
    fill = defaultdict(list)
    for r in out:
        fill[r["bin_id"]].append(r["n_tokens"])
    for ns in fill.values():
        assert sum(ns) <= 1000 or len(ns) == 1


def _nf_capped(items, budget):
    """Budget-CAPPED contiguous packing (next-fit in id order): the fair
    baseline for FFD's bin count. ``pack_sequences``'s floor-binning is
    NOT comparable — its bins straddle the budget (a doc joins the bin
    whose budget window its predecessor total falls in, so a bin can
    hold up to budget+doc−1 tokens), which makes its bin count
    ceil(total/budget), the information-theoretic floor no capped
    packer can beat."""
    bins, cur = 1, 0
    for _, n in sorted(items):
        if cur > 0 and cur + n > budget:
            bins, cur = bins + 1, 0
        cur += n
    return bins


def test_pack_sequences_ffd_beats_capped_contiguous_on_skew(spark):
    """The r8 VERDICT #6 bar: on skewed lengths FFD packs measurably
    fewer BUDGET-RESPECTING bins than capped contiguous packing at the
    same budget — and unlike ``pack_sequences``'s straddling bins, every
    FFD bin actually fits a fixed-length training sequence."""
    from wine_label_ocr_spark.operators.textops import (pack_sequences,
                                                        pack_sequences_ffd)
    # alternating 520/490: every pair fits exactly, so FFD merely ties
    # capped next-fit (100 bins); pack_sequences's straddle count (99 =
    # ceil(101000/1024)) is below ANY capped packing — pinning all three
    # documents the semantics difference
    items = [(i, 520 if i % 2 == 0 else 490) for i in range(200)]
    df = spark.createDataFrame(items, "doc_id long, n long")
    ffd_bins = (pack_sequences_ffd(df, budget_tokens=1024,
                                   count_col=F.col("n"))
                .select("bin_id").distinct().count())
    straddle_bins = (pack_sequences(df, budget_tokens=1024,
                                    count_col=F.col("n"))
                     .select("bin_id").distinct().count())
    assert ffd_bins == _nf_capped(items, 1024) == 100
    assert straddle_bins == 99  # ceil(total/budget): bins overflow
    # the skew where FFD wins: 900s strand 124 tokens/bin under capped
    # next-fit while the 120s that would fill them arrive too late
    items2 = [(i, 900 if i % 3 == 0 else 120) for i in range(300)]
    df2 = spark.createDataFrame(items2, "doc_id long, n long")
    ffd2 = (pack_sequences_ffd(df2, budget_tokens=1024,
                               count_col=F.col("n"))
            .select("bin_id").distinct().count())
    capped2 = _nf_capped(items2, 1024)
    assert ffd2 < capped2 * 0.8, (ffd2, capped2)  # ≥20% fewer bins
    assert (ffd2, capped2) == (113, 150)


def test_pack_sequences_ffd_sharded(spark):
    from wine_label_ocr_spark.operators.textops import pack_sequences_ffd
    items = [(i, 100 + (i * 37) % 900) for i in range(500)]
    df = spark.createDataFrame(items, "doc_id long, n long")
    out = pack_sequences_ffd(df, budget_tokens=1024, n_shards=8,
                             count_col=F.col("n")).collect()
    assert len(out) == 500  # every doc assigned exactly once
    # shard-prefixed ids: bins from different shards never collide
    from collections import defaultdict
    fill = defaultdict(int)
    shard_of_bin = {}
    for r in out:
        fill[r["bin_id"]] += r["n_tokens"]
        shard_of_bin.setdefault(r["bin_id"], r["bin_id"] >> 40)
    for b, tot in fill.items():
        assert tot <= 1024 or tot == max(
            r["n_tokens"] for r in out if r["bin_id"] == b)
    # whitespace default counter also works (no count_col)
    df3 = spark.createDataFrame([(1, "a b c"), (2, "d e")],
                                "doc_id long, text string")
    got = {r["doc_id"]: r["n_tokens"]
           for r in pack_sequences_ffd(df3, budget_tokens=4).collect()}
    assert got == {1: 3, 2: 2}
