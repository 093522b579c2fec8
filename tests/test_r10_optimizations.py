"""r10 optimization equivalence pins.

Each optimized operator must produce BIT-IDENTICAL results to the shape
it replaced; these tests keep the old shape alive as an inline reference
and compare against it on adversarial inputs (nulls, ties, ragged
vectors, empty/long groups).
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import Window as W, functions as F


def _bits(x):
    return None if x is None else struct.pack("<d", x).hex()


# ---------------------------------------------------------------------------
# cosine_topk: numpy kernel vs legacy expression plan
# ---------------------------------------------------------------------------

def _legacy_cosine_topk(q, c, k):
    from wine_label_ocr_spark.operators.ann import cosine
    scored = (c.join(F.broadcast(q))
              .select("q_id", "c_id",
                      cosine(F.col("_qv"), F.col("_cv")).alias("cosine")))
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "c_id", F.round("cosine", 6).alias("cosine"),
                    "rank"))


def _canon_topk(df):
    return sorted((r["q_id"], r["c_id"], _bits(r["cosine"]), r["rank"])
                  for r in df.collect())


@pytest.fixture(scope="module")
def vec_corpus(spark):
    import random
    rnd = random.Random(7)
    rows = [(i, [round(rnd.uniform(-1, 1), 3) for _ in range(8)])
            for i in range(300)]
    # exact duplicates → cosine ties that exercise the c_id tie-break
    rows += [(1000 + i, list(rows[i][1])) for i in range(10)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_cosine_topk_numpy_matches_legacy(spark, vec_corpus):
    from wine_label_ocr_spark.operators.ann import cosine_topk
    qdf = (vec_corpus.filter(F.col("vec_id") % 50 == 0)
           .select(F.col("vec_id").alias("q_id"), "embedding"))
    got = _canon_topk(cosine_topk(qdf, vec_corpus, k=4))
    q = qdf.select("q_id", F.col("embedding").alias("_qv"))
    c = vec_corpus.select(F.col("vec_id").alias("c_id"),
                          F.col("embedding").alias("_cv"))
    want = _canon_topk(_legacy_cosine_topk(q, c, 4))
    assert got == want


def test_cosine_topk_null_and_ragged_corpus(spark, vec_corpus):
    from wine_label_ocr_spark.operators.ann import cosine_topk
    extra = spark.createDataFrame(
        [(2000, None), (2001, [1.0, 2.0]), (2002, [0.0] * 8)],
        "vec_id bigint, embedding array<double>")
    # tiny corpus: NULL-cosine rows (null vec, ragged dim, zero norm is
    # fine) must land in the tail ranks exactly like the legacy plan
    corpus = vec_corpus.limit(2).unionByName(extra)
    qdf = (vec_corpus.filter(F.col("vec_id") == 0)
           .select(F.col("vec_id").alias("q_id"), "embedding"))
    got = _canon_topk(cosine_topk(qdf, corpus, k=5))
    q = qdf.select("q_id", F.col("embedding").alias("_qv"))
    c = corpus.select(F.col("vec_id").alias("c_id"),
                      F.col("embedding").alias("_cv"))
    want = _canon_topk(_legacy_cosine_topk(q, c, 5))
    assert got == want


def test_cosine_topk_float32_uses_legacy_plan(spark):
    # float element types keep the legacy expression path (float math is
    # its own contract) — the plan must not contain a Python kernel
    from wine_label_ocr_spark.operators.ann import cosine_topk
    df = spark.createDataFrame([(0, [1.0, 2.0]), (1, [2.0, 1.0])],
                               "vec_id bigint, embedding array<float>")
    q = df.select(F.col("vec_id").alias("q_id"), "embedding")
    plan = cosine_topk(q, df, k=1)._jdf.queryExecution().toString()
    assert "MapInPandas" not in plan


# ---------------------------------------------------------------------------
# ema_final_by_key vs the full phase-machine trace
# ---------------------------------------------------------------------------

def test_ema_final_matches_trace_fold(spark):
    import random
    rnd = random.Random(11)
    rows = []
    eid = 0
    for uid in range(17):
        n = rnd.choice([1, 2, 3, 40, 700])  # 700 hits the scalar fallback
        for i in range(n):
            rows.append((uid, eid, float(rnd.uniform(0, 50)),
                         1_700_000_000_000 + i * 137 + uid))
            eid += 1
    ev = (spark.createDataFrame(rows, "user_id bigint, event_id bigint, "
                                "value double, ms bigint")
          .withColumn("ts", F.timestamp_millis(F.col("ms"))).drop("ms"))
    from wine_label_ocr_spark.streaming.state import (ema_final_by_key,
                                                      ema_phase_batch)
    got = {r["user_id"]: _bits(r["ema_final"])
           for r in ema_final_by_key(ev).collect()}
    trace = ema_phase_batch(ev)
    want = {r["user_id"]: _bits(r["f"])
            for r in (trace.groupBy("user_id")
                      .agg(F.max_by("ema", F.struct("ts", "event_id"))
                           .alias("f")).collect())}
    assert got == want


# ---------------------------------------------------------------------------
# doc_fingerprints (Python kernel) vs doc_fingerprint column algebra
# ---------------------------------------------------------------------------

def test_doc_fingerprints_matches_column_form(spark):
    from wine_label_ocr_spark.operators.textops import (doc_fingerprint,
                                                        doc_fingerprints)
    texts = [
        (0, "plain words here"),
        (1, ""),
        (2, None),
        (3, "  leading and   runs\tand\nnewlines  "),
        (4, "unicode nbsp stays one token"),  # java \s ≠ unicode space
        (5, " ".join(f"t{i}" for i in range(100))),  # > 64 tokens
        (6, "café naïve 中文 emoji\U0001F600"),
    ]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    got = {r["doc_id"]: r["content_fp"]
           for r in doc_fingerprints(df).collect()}
    want = {r["doc_id"]: r["fp"]
            for r in df.select("doc_id",
                               doc_fingerprint(F.col("text")).alias("fp"))
            .collect()}
    assert got == want


# ---------------------------------------------------------------------------
# exact_dedup min_by form vs the old aggregate + semi-join form
# ---------------------------------------------------------------------------

def test_exact_dedup_matches_semijoin_form(spark):
    from wine_label_ocr_spark.operators.dedupe import content_key, exact_dedup
    rows = [(3, "dup text", "a"), (1, "dup  text ", "b"), (2, "other", "c"),
            (7, "dup text", "d"), (None, "dup text", "e"), (9, None, "f"),
            (8, None, "g")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, tag string")
    key = content_key(F.col("text")).alias("_ck")
    w = df.select("*", key)
    keep = w.groupBy("_ck").agg(F.min("doc_id").alias("doc_id"))
    want = sorted(map(tuple, w.join(keep, ["doc_id", "_ck"], "left_semi")
                      .drop("_ck").collect()))
    got = sorted(map(tuple, exact_dedup(df).collect()))
    assert got == want
    # id-only form: same surviving id set
    from wine_label_ocr_spark.operators.dedupe import exact_dedup_ids
    assert (sorted(r["doc_id"] for r in exact_dedup_ids(df).collect())
            == sorted(r["doc_id"] for r in exact_dedup(df)
                      .select("doc_id").collect()))


# ---------------------------------------------------------------------------
# minhash pair generation: grouped form vs windowed self-join form
# ---------------------------------------------------------------------------

def test_minhash_pairs_match_selfjoin_form(spark):
    from wine_label_ocr_spark.operators.dedupe import (
        jaccard, minhash_lsh_pairs, shingles)
    base_words = "the quick brown fox jumps over a lazy dog tonight".split()
    rows = []
    for i in range(40):
        words = list(base_words)
        if i % 3 == 0:
            words[i % len(words)] = f"tok{i}"
        rows.append((i, " ".join(words)))
    rows += [(100 + i, "completely different text body number %d" % i)
             for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(map(tuple,
                     minhash_lsh_pairs(df, n_perm=16, n_bands=4,
                                       min_jaccard=0.3, max_bucket=10)
                     .collect()))
    # reference: the pre-r10 window + self-join candidate generation
    k, n_perm, n_bands, max_bucket = 3, 16, 4, 10
    buck = df.select(
        F.col("doc_id").alias("_id"),
        F.explode(_minhash_bands_expr(F.col("text"), k, n_perm, n_bands,
                                      False)).alias("_b"),
    ).select("_id", F.col("_b.band").alias("band"),
             F.col("_b.band_hash").alias("band_hash"))
    sized = buck.withColumn(
        "_bn", F.count("*").over(W.partitionBy("band", "band_hash")))
    buck = sized.filter(F.col("_bn") <= max_bucket).drop("_bn")
    a, b = buck.alias("a"), buck.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.band_hash") == F.col("b.band_hash"))
                    & (F.col("a._id") < F.col("b._id")))
             .select(F.col("a._id").alias("id_a"),
                     F.col("b._id").alias("id_b"))
             .dropDuplicates(["id_a", "id_b"]))
    txt_a = df.select(F.col("doc_id").alias("id_a"),
                      F.col("text").alias("_ta"))
    txt_b = df.select(F.col("doc_id").alias("id_b"),
                      F.col("text").alias("_tb"))
    want = sorted(map(tuple,
                      (pairs.join(txt_a, "id_a").join(txt_b, "id_b")
                       .withColumn("jaccard", F.round(
                           jaccard(shingles(F.col("_ta"), k),
                                   shingles(F.col("_tb"), k)), 6))
                       .filter(F.col("jaccard") >= 0.3)
                       .select("id_a", "id_b", "jaccard")).collect()))
    assert got == want
    assert len(got) > 0  # the fixture must actually produce pairs


# ---------------------------------------------------------------------------
# fuzzy join threshold form: banded levenshtein cannot change the output
# ---------------------------------------------------------------------------

def test_fuzzy_threshold_levenshtein_equivalence(spark):
    import random
    rnd = random.Random(5)
    alpha = "abcdef "
    rows = [(i, "en", "s%d" % (i % 2),
             "".join(rnd.choice(alpha) for _ in range(rnd.randint(1, 40))))
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, "
                               "source string, pfx string")
    a, b = df.alias("a"), df.alias("b")
    join_cond = ((F.col("a.lang") == F.col("b.lang"))
                 & (F.col("a.source") == F.col("b.source"))
                 & (F.col("a.doc_id") < F.col("b.doc_id")))
    lev_full = F.levenshtein(F.col("a.pfx"), F.col("b.pfx"))
    sim_full = (F.lit(1.0) - lev_full
                / F.greatest(F.length("a.pfx"), F.length("b.pfx")))
    want = sorted(map(tuple, a.join(b, join_cond)
                      .select(F.col("a.doc_id").alias("doc_a"),
                              F.col("b.doc_id").alias("doc_b"),
                              F.round(sim_full, 6).alias("sim"))
                      .filter(F.col("sim") >= 0.5).collect()))
    lev_t = F.levenshtein(F.col("a.pfx"), F.col("b.pfx"), 20)
    sim_t = (F.lit(1.0) - lev_t
             / F.greatest(F.length("a.pfx"), F.length("b.pfx")))
    got = sorted(map(tuple, a.join(b, join_cond)
                     .select(F.col("a.doc_id").alias("doc_a"),
                             F.col("b.doc_id").alias("doc_b"),
                             lev_t.alias("_lev"),
                             F.round(sim_t, 6).alias("sim"))
                     .filter((F.col("_lev") >= 0) & (F.col("sim") >= 0.5))
                     .drop("_lev").collect()))
    assert got == want
    assert len(got) > 0


# ---------------------------------------------------------------------------
# fuzzy_blocked_join: Myers bit-parallel block kernel vs legacy SMJ theta join
# ---------------------------------------------------------------------------

def test_fuzzy_blocked_join_matches_legacy(spark):
    """Adversarial block corpus: null keys, null ids, null/empty/unicode
    prefixes, duplicate ids, an oversized block — the kernel path must
    reproduce the legacy join's survivors and bit-identical sims."""
    import random
    rnd = random.Random(11)
    alpha = "abcdef éü字 "
    rows = []
    for i in range(120):
        rows.append((i, "en", "s%d" % (i % 3),
                     "".join(rnd.choice(alpha)
                             for _ in range(rnd.randint(1, 40)))))
    # NOTE: no empty prefixes here — an empty prefix makes the LEGACY
    # join throw DIVIDE_BY_ZERO under ANSI (catalyst may evaluate the
    # sim conjunct before the doc_id inequality, so the empty SELF-pair
    # divides by greatest(0,0)). The kernel path drops such pairs — the
    # DuckDB-oracle semantic — covered by test_fuzzy_kernel_empty_pair.
    rows += [(200, None, "s0", "abc"), (201, "en", None, "abc"),
             (None, "en", "s0", "abc"), (202, "en", "s0", None),
             (108, "en", "s0", "duplicate id row"),  # dup id 108
             # guaranteed survivors: near-identical prefixes in one block
             (300, "en", "s0", "the quick brown fox jumps over the dog"),
             (301, "en", "s0", "the quick brown fox jumps over the d0g"),
             (302, "en", "s0", "the quick brown fox jumped over a dog!"),
             (303, "en", "s1", "the quick brown fox jumps over the dog")]
    # an oversized block that must contribute nothing
    rows += [(1000 + i, "xx", "big", "same text") for i in range(80)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, lang string, source string, pfx string")

    from wine_label_ocr_spark.operators.similarity import blocked_prefix_pairs
    max_block = 60
    pairs = blocked_prefix_pairs(df, id_col="doc_id",
                                 block_cols=("lang", "source"),
                                 pfx_col="pfx", max_block=max_block)
    sim_k = F.lit(1.0) - F.col("lev") / F.col("maxlen")
    got = sorted((r[0], r[1], _bits(r[2])) for r in
                 pairs.select(F.col("id_a").cast("bigint"),
                              F.col("id_b").cast("bigint"),
                              F.round(sim_k, 6))
                 .filter(F.round(sim_k, 6) >= 0.5).collect())

    d = (df.withColumn("_bn", F.count("*").over(
            W.partitionBy("lang", "source")))
         .filter(F.col("_bn") <= max_block).drop("_bn"))
    a, b = d.alias("a"), d.alias("b")
    lev = F.levenshtein(F.col("a.pfx"), F.col("b.pfx"), 20)
    sim = F.lit(1.0) - lev / F.greatest(F.length("a.pfx"),
                                        F.length("b.pfx"))
    want = sorted((r[0], r[1], _bits(r[2])) for r in
                  a.join(b, (F.col("a.lang") == F.col("b.lang"))
                         & (F.col("a.source") == F.col("b.source"))
                         & (F.col("a.doc_id") < F.col("b.doc_id")))
                  .select(F.col("a.doc_id").cast("bigint"),
                          F.col("b.doc_id").cast("bigint"),
                          lev.alias("_lev"), F.round(sim, 6).alias("sim"))
                  .filter((F.col("_lev") >= 0) & (F.col("sim") >= 0.5))
                  .drop("_lev").collect())
    assert got == want
    assert len(got) > 0


def test_myers_distances_match_dp():
    """The bit-parallel kernel is exact unit-cost Levenshtein."""
    import itertools
    import random
    from wine_label_ocr_spark.operators.similarity import (
        _myers_pair_distances)

    def dp(a, b):
        m, n = len(a), len(b)
        row = list(range(n + 1))
        for i in range(1, m + 1):
            prev, row[0] = row[0], i
            for j in range(1, n + 1):
                cur = row[j]
                row[j] = min(row[j] + 1, row[j - 1] + 1,
                             prev + (a[i - 1] != b[j - 1]))
                prev = cur
        return row[n]

    rnd = random.Random(5)
    strs = ["".join(rnd.choice("abc éü字")
                    for _ in range(rnd.randint(0, 40))) for _ in range(80)]
    strs += ["", "", "a", "identical", "identical"]
    pairs = list(itertools.combinations(range(len(strs)), 2))
    pi = [p[0] for p in pairs]
    pj = [p[1] for p in pairs]
    got = _myers_pair_distances(strs, pi, pj)
    for k, (i, j) in enumerate(pairs):
        assert got[k] == dp(strs[i], strs[j]), (strs[i], strs[j])


# ---------------------------------------------------------------------------
# segmentation: every RECORD_DDL column vs oracle.record run in-process
# ---------------------------------------------------------------------------

def _plain(v):
    """Spark-collected value with every ``Row`` turned into a dict."""
    from pyspark.sql import Row
    if isinstance(v, Row):
        return {k: _plain(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


def test_segment_matches_oracle_extract(spark):
    from wine_label_ocr_spark import oracle
    from wine_label_ocr_spark.fixtures import make_page, pages_spark
    from wine_label_ocr_spark.operators.segmentation import segment
    n = 300
    pages = pages_spark(spark, n, partitions=4).drop("text")
    seg = segment(pages)
    got = {r["url"]: r for r in seg.collect()}
    inputs = {r["url"]: r for r in pages.collect()}
    assert len(got) == n
    for i in range(n):
        p = make_page(i)
        want = oracle.record(oracle.extract(p["html"], p["url"]))
        r, inp = got[p["url"]], inputs[p["url"]]
        assert r["warc_ts"] == inp["warc_ts"] and r["lang"] == inp["lang"]
        assert want["barcode"] == p["canonical"], i
        have = {c: _plain(r[c]) for c in want}
        assert have == want, (i, p["kind"])
        assert list(r["raw"]) == ["title", "year_candidates", "blocks"]
    # every RECORD_DDL column was compared
    assert set(want) | {"url", "warc_ts", "lang"} == set(seg.columns)


def test_segment_kernel_empty_batch_and_null_html(spark):
    """The extract kernel called directly: a zero-row batch gives zero rows
    under the RECORD_DDL names, and a NULL ``html`` row carries the
    ``oracle.record(oracle.extract(b"", url))`` record."""
    import datetime

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType
    from wine_label_ocr_spark import oracle
    from wine_label_ocr_spark.operators.segmentation import (
        RECORD_DDL, _segment_batches_arrow)
    schema = to_arrow_schema(DataType.fromDDL(RECORD_DDL))
    in_schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                           ("html", pa.binary()), ("lang", pa.string())])
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
    empty = pa.RecordBatch.from_pylist([], schema=in_schema)
    null = pa.RecordBatch.from_pylist(
        [{"url": "http://x.test/a", "warc_ts": ts, "html": None, "lang": "en"}],
        schema=in_schema)
    out = list(_segment_batches_arrow(schema, [empty, null]))
    assert [b.num_rows for b in out] == [0, 1]
    assert out[0].schema.names == schema.names
    row = out[1].to_pylist()[0]
    want = {"url": "http://x.test/a", "warc_ts": ts, "lang": "en",
            **oracle.record(oracle.extract(b"", "http://x.test/a"))}
    # pyarrow renders a map as its (key, value) pairs, in order
    want["raw"] = list(want["raw"].items())
    assert row == want


def test_fuzzy_kernel_empty_pair(spark):
    """Two empty prefixes in one block: the kernel drops the pair (the
    DuckDB-oracle semantic — NULL sim fails the filter) instead of the
    legacy ANSI division-by-zero."""
    from wine_label_ocr_spark.operators.similarity import blocked_prefix_pairs
    df = spark.createDataFrame(
        [(1, "en", "s0", ""), (2, "en", "s0", ""), (3, "en", "s0", "abcd"),
         (4, "en", "s0", "abce")],
        "doc_id bigint, lang string, source string, pfx string")
    got = blocked_prefix_pairs(df, max_block=10).collect()
    assert sorted((r["id_a"], r["id_b"]) for r in got) == [(3, 4)]


def test_fuzzy_block_guard_runs_before_python(spark):
    """The block-size guard is a JVM-side window count: Window and its
    Filter sit below the FlatMapGroupsInPandas, on the grouped map's one
    Exchange, so an oversized block never crosses into pandas. The gate
    query's explicit repartition is that Exchange; without one the
    window's own shuffle serves the grouped map."""
    import __spark_entry__ as E
    from wine_label_ocr_spark.operators.similarity import blocked_prefix_pairs
    bare = spark.createDataFrame(
        [(1, "en", "s0", "ab"), (2, "en", "s0", "abc")],
        "doc_id bigint, lang string, source string, pfx string")
    for df in (E.q_fuzzy_blocked_join(spark, E.SF_DEFAULT),
               blocked_prefix_pairs(bare, max_block=10)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()

        def at(pat):
            return [i for i, ln in enumerate(lines) if pat in ln]

        fm, guard = at("FlatMapGroupsInPandas"), at("Filter (_bn#")
        win = at("Window [count(1) windowspecdefinition(lang#")
        # a plan prints each node above its child
        assert len(fm) == len(guard) == len(win) == 1, plan
        assert fm[0] < guard[0] < win[0], plan
        assert len(at("Exchange")) == 1, plan


def test_fuzzy_hot_block_dropped_others_unchanged(spark):
    """A block 100x over ``max_block`` (near-identical prefixes, so it
    would pair quadratically) contributes no pair, and every other
    block's pairs are exactly those it yields without the hot block."""
    from wine_label_ocr_spark.operators.similarity import blocked_prefix_pairs
    max_block = 10
    rows = [(i, "en", "s0", f"the quick brown fox {i % 3}") for i in range(6)]
    rows += [(100 + i, "de", "s1", "abcd" if i % 2 else "abce")
             for i in range(max_block)]          # exactly at the cap
    hot = [(10_000 + i, "xx", "hot", f"same text {i % 2}")
           for i in range(100 * max_block)]
    ddl = "doc_id bigint, lang string, source string, pfx string"

    def pairs(data):
        return sorted(tuple(r) for r in blocked_prefix_pairs(
            spark.createDataFrame(data, ddl), max_block=max_block).collect())

    base = pairs(rows)
    assert base and any(r[0] >= 100 for r in base)
    with_hot = pairs(rows + hot)
    assert with_hot == base
    assert not any(r[0] >= 10_000 for r in with_hot)


# ---------------------------------------------------------------------------
# simhash64 / minhash band kernels (both hash flavors) vs expression forms
# ---------------------------------------------------------------------------

FLAVORS = pytest.mark.parametrize("oracle_safe", [False, True],
                                  ids=["xxhash", "md5"])

@pytest.fixture(scope="module")
def hash_texts(spark):
    import random
    rnd = random.Random(9)
    alphabet = "abcdefghij klmnop 字éü "
    rows = [(i, "".join(rnd.choice(alphabet)
                        for _ in range(rnd.randint(0, 300))))
            for i in range(150)]
    rows += [(900, None), (901, ""), (902, "   "), (903, "one"),
             (904, "one two"), (905, "one two three"),
             (906, "tab\tand\nnewline  runs"), (907, "dup dup dup dup")]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _minhash_bands_expr(text, k, n_perm, n_bands, oracle_safe):
    """The column-expression form of the MinHash band kernel:
    array<struct<band:int, band_hash:string>> — shingles folded ONCE into
    an n_perm-wide running min of ``_hash64(shingle, p)``, then md5 over
    each band slice of the signature."""
    from wine_label_ocr_spark.functions import let
    from wine_label_ocr_spark.operators.dedupe import _hash64, shingles
    rpb = n_perm // n_bands
    sig = F.aggregate(
        shingles(text, k),
        F.array_repeat(F.lit(2 ** 63 - 1).cast("long"), n_perm),
        lambda acc, sh: F.zip_with(
            acc, F.array(*[_hash64(sh, p, oracle_safe)
                           for p in range(n_perm)]),
            lambda x, y: F.least(x, y)))

    def bands_of(sg):
        return F.transform(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda b: F.struct(
                b.cast("int").alias("band"),
                F.md5(F.array_join(
                    F.transform(F.slice(sg, b * rpb + 1, rpb),
                                lambda x: x.cast("string")),
                    ",")).alias("band_hash")))

    return let(sig, bands_of)


def _simhash_expr(text, oracle_safe):
    """The column-expression form of simhash64: one ``aggregate`` with a
    64-wide ``zip_with`` vote accumulator."""
    from wine_label_ocr_spark.functions import let
    from wine_label_ocr_spark.operators.dedupe import _hash64
    from wine_label_ocr_spark.operators.textops import tokens_col
    toks = tokens_col(text)
    hashes = F.transform(toks, lambda t: _hash64(t, 0, oracle_safe))

    def bits_of(h):
        return F.array(*[
            (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
            for j in range(64)])

    counts = F.aggregate(
        hashes, F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, h: F.zip_with(acc, bits_of(h), lambda x, y: x + y))
    bit_vals = [(1 << j) if j < 63 else -(1 << 63) for j in range(64)]
    pow2 = F.array(*[F.lit(v).cast("long") for v in bit_vals])

    def fold(c):
        return F.aggregate(
            F.zip_with(c, pow2,
                       lambda cnt, v: F.when(cnt > 0, v)
                       .otherwise(F.lit(0).cast("long"))),
            F.lit(0).cast("long"), lambda a, b: a.bitwiseOR(b))

    return let(counts, fold)


@FLAVORS
def test_simhash_kernel_matches_expression(spark, hash_texts, oracle_safe):
    from wine_label_ocr_spark.operators.dedupe import simhash64
    got = {r["doc_id"]: r["s"] for r in hash_texts.select(
        "doc_id", simhash64(F.col("text"), oracle_safe).alias("s")).collect()}
    want = {r["doc_id"]: r["s"] for r in hash_texts.select(
        "doc_id", _simhash_expr(F.col("text"), oracle_safe).alias("s"))
        .collect()}
    assert got == want
    assert want[901] == 0 and want[900] is None  # fixture sanity


@FLAVORS
def test_minhash_kernel_bands(spark, hash_texts, oracle_safe):
    from wine_label_ocr_spark.operators.dedupe import _minhash_bands
    want = sorted(map(tuple, hash_texts.select(
        F.col("doc_id").alias("_id"),
        F.explode(_minhash_bands_expr(F.col("text"), 3, 16, 4,
                                      oracle_safe)).alias("_b"))
        .select("_id", "_b.band", "_b.band_hash").collect()))
    got = sorted(map(tuple, hash_texts.select(
        F.col("doc_id").alias("_id"),
        _minhash_bands(F.col("text"), 3, 16, 4, oracle_safe).alias("_bh"))
        .select("_id", F.posexplode("_bh").alias("band", "band_hash"))
        .collect()))
    assert got == want
    assert len(want) == 4 * hash_texts.count()


@FLAVORS
@pytest.mark.parametrize("sketch", ["minhash_bands", "simhash64"])
def test_sketch_kernel_empty_batch(sketch, oracle_safe):
    """An empty Arrow batch yields an empty result, not a dead task."""
    import pandas as pd
    from wine_label_ocr_spark.operators.dedupe import (_minhash_bands_kernel,
                                                       _simhash64_kernel)
    kern = (_minhash_bands_kernel(3, 16, 4, oracle_safe)
            if sketch == "minhash_bands" else _simhash64_kernel(oracle_safe))
    assert len(kern(pd.Series([], dtype=object))) == 0


def test_minhash_pairs_end_to_end_kernel_vs_r9(spark, hash_texts):
    """Full minhash_lsh_pairs output (xxhash64 flavor) is unchanged by
    the kernel band path."""
    from wine_label_ocr_spark.operators.dedupe import minhash_lsh_pairs
    dup = hash_texts.unionByName(
        hash_texts.filter("doc_id < 20").select(
            (F.col("doc_id") + 2000).alias("doc_id"), "text"))
    got = sorted((r["id_a"], r["id_b"], _bits(r["jaccard"])) for r in
                 minhash_lsh_pairs(dup, n_perm=16, n_bands=4,
                                   min_jaccard=0.4).collect())
    assert len(got) >= 20  # the duplicated docs must collide
    # reference: monkey-free expression shape — rebuild buck inline
    from wine_label_ocr_spark.operators.dedupe import jaccard, shingles
    buck = dup.select(
        F.col("doc_id").alias("_id"),
        F.explode(_minhash_bands_expr(F.col("text"), 3, 16, 4, False))
        .alias("_b")).select(
        "_id", F.col("_b.band").alias("band"),
        F.col("_b.band_hash").alias("band_hash"))
    ids = F.array_sort(F.collect_list("_id")).alias("_ids")
    grouped = (buck.groupBy("band", "band_hash").agg(ids)
               .filter((F.size("_ids") >= 2) & (F.size("_ids") <= 200)))
    pair_structs = F.flatten(F.transform(
        F.col("_ids"),
        lambda x, i: F.transform(
            F.slice(F.col("_ids"), i + 2,
                    F.greatest(F.size("_ids") - (i + 1), F.lit(0))),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
    pairs = (grouped.select(F.explode(pair_structs).alias("_p"))
             .select("_p.id_a", "_p.id_b").dropDuplicates(["id_a", "id_b"]))
    txt_a = dup.select(F.col("doc_id").alias("id_a"), F.col("text").alias("_ta"))
    txt_b = dup.select(F.col("doc_id").alias("id_b"), F.col("text").alias("_tb"))
    half = txt_a.join(F.broadcast(pairs), "id_a")
    want = sorted((r["id_a"], r["id_b"], _bits(r["jaccard"])) for r in
                  (txt_b.join(F.broadcast(half), "id_b")
                   .withColumn("jaccard", F.round(
                       jaccard(shingles(F.col("_ta"), 3),
                               shingles(F.col("_tb"), 3)), 6))
                   .filter(F.col("jaccard") >= 0.4)
                   .select("id_a", "id_b", "jaccard")).collect())
    assert got == want


def test_content_key_stays_expression(spark):
    """r10 negative result, pinned: a content_key Arrow kernel measured
    SLOWER than the expression (boundary cost > regex saving), so the
    expression form must remain — no Python eval in the exact_dedup
    plan."""
    from wine_label_ocr_spark.operators.dedupe import exact_dedup_ids
    df = spark.createDataFrame([(1, "a b"), (2, "a  b")],
                               "doc_id bigint, text string")
    plan = exact_dedup_ids(df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert sorted(r["doc_id"] for r in exact_dedup_ids(df).collect()) == [1]
