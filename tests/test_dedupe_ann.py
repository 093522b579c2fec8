"""Tests for dedup (exact / MinHash-LSH / SimHash) and ANN operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wine_label_ocr_spark.operators import ann, dedupe

SF = "/root/testdata/sf0.001"

BASE = ("the quick brown fox jumps over the lazy dog while autumn wind "
        "carries dry leaves across the old stone bridge near the river")


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),                                  # exact dup of 0
        (2, BASE.replace("quick", "rapid")),        # near dup of 0
        (3, BASE + " and farmers gather ripe grapes under pale light"),  # near
        (4, "completely different text about spark shuffles and "
            "partitions and adaptive query execution at scale"),
        (5, "yet another unrelated document mentioning minhash bands "
            "and locality sensitive hashing for candidate generation"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string").cache()


def test_exact_dedup(spark, dup_docs):
    out = dedupe.exact_dedup(dup_docs)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [0, 2, 3, 4, 5]  # 1 collapsed into 0 (min id wins)


def test_exact_dedup_whitespace_canonical(spark):
    df = spark.createDataFrame(
        [(1, "a  b\tc"), (2, "a b c"), (3, "a b  c ")],
        "doc_id bigint, text string")
    assert dedupe.exact_dedup(df).count() == 1


def test_minhash_lsh_finds_near_dups(spark, dup_docs):
    pairs = dedupe.minhash_lsh_pairs(dup_docs, min_jaccard=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in got          # identical
    assert (0, 2) in got or (0, 3) in got  # near dups collide in ≥1 band
    for r in pairs:
        assert r["jaccard"] >= 0.5
    # unrelated docs never pair
    assert not any({a, b} & {4, 5} and {a, b} & {0, 1, 2, 3} for a, b in got)


def test_minhash_oracle_safe_variant_matches_semantics(spark, dup_docs):
    fast = {(r["id_a"], r["id_b"]) for r in
            dedupe.minhash_lsh_pairs(dup_docs, min_jaccard=0.9).collect()}
    safe = {(r["id_a"], r["id_b"]) for r in
            dedupe.minhash_lsh_pairs(dup_docs, min_jaccard=0.9,
                                     oracle_safe=True).collect()}
    assert (0, 1) in fast and (0, 1) in safe  # exact dups always collide


def test_jaccard_exact(spark):
    df = spark.createDataFrame([(BASE, BASE)], "a string, b string")
    out = df.select(dedupe.jaccard(dedupe.shingles(F.col("a")),
                                   dedupe.shingles(F.col("b"))).alias("j")).collect()
    assert out[0]["j"] == 1.0


def test_simhash_near_dup(spark, dup_docs):
    pairs = dedupe.simhash_pairs(dup_docs, max_hamming=16).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got.get((0, 1)) == 0   # identical text → identical simhash
    # near dup hamming small when bucketed together
    for (a, b), h in got.items():
        assert h <= 16


def test_simhash_pairs_full_recall_vs_brute_force(spark, dup_docs):
    """Pigeonhole guarantee: banded blocking finds EVERY pair within
    max_hamming (the r1 single-prefix probe missed top-bit differences)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text").limit(150).unionByName(
        dup_docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text"))
    for h in (8, 16):
        s = docs.select(F.col("doc_id").alias("_id"),
                        dedupe.simhash64(F.col("text")).alias("_sh"))
        a, b = s.alias("a"), s.alias("b")
        brute = (a.join(b, F.col("a._id") < F.col("b._id"))
                 .select(F.col("a._id").alias("id_a"),
                         F.col("b._id").alias("id_b"),
                         dedupe.hamming64(F.col("a._sh"),
                                          F.col("b._sh")).alias("hamming"))
                 .filter(F.col("hamming") <= h))
        exp = {(r["id_a"], r["id_b"]) for r in brute.collect()}
        got = {(r["id_a"], r["id_b"])
               for r in dedupe.simhash_pairs(docs, max_hamming=h).collect()}
        assert got == exp and (h < 16 or exp), (h, len(exp), len(got))


def test_quantized_topk_recall_vs_exact(spark, emb):
    """int8 quantization must keep the neighborhood structure: recall@5 of
    the quantized brute force vs exact cosine ≥ 0.8 on testdata."""
    q = emb.limit(10).select(F.col("vec_id").alias("q_id"), "embedding")
    exact = ann.cosine_topk(q, emb, k=5)
    quant = ann.quantized_topk(q, emb, k=5)
    ex = {(r["q_id"], r["c_id"]) for r in exact.collect()}
    qu = {(r["q_id"], r["c_id"]) for r in quant.collect()}
    assert len(ex & qu) / len(ex) >= 0.8
    # self-match survives quantization exactly
    self_hits = [r for r in quant.collect() if r["q_id"] == r["c_id"]]
    assert len(self_hits) == 10 and all(r["rank"] == 1 for r in self_hits)


def test_quantize_embedding_roundtrip_error(spark, emb):
    qcol, max_abs = ann.quantize_embedding(F.col("embedding"))
    row = emb.select("embedding", qcol.alias("q"), max_abs.alias("m")).first()
    import numpy as np
    x = np.array(row["embedding"], dtype=float)
    back = np.array(row["q"], dtype=float) * row["m"] / 127.0
    assert np.abs(x - back).max() <= row["m"] / 127.0 * 0.5 + 1e-9
    assert max(abs(v) for v in row["q"]) <= 127


def test_connected_components_chain_and_keep_one(spark):
    """A~B~C chains must collapse to ONE component (pairwise keep-one
    under-deletes); disjoint clusters stay apart; keep-one keeps exactly
    the min id per cluster plus all unpaired docs."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),       # chain 1-2-3-4
         (10, 11),                     # pair
         (20, 21), (21, 22), (20, 22)],  # triangle
        "id_a bigint, id_b bigint")
    comp = {r["doc_id"]: r["component"]
            for r in dedupe.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                    20: 20, 21: 20, 22: 20}
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in [1, 2, 3, 4, 10, 11, 20, 21, 22, 99]],
        "doc_id bigint, text string")
    kept = sorted(r["doc_id"] for r in
                  dedupe.dedup_keep_one(docs, pairs).collect())
    assert kept == [1, 10, 20, 99]


def test_simhash_stability(spark, dup_docs):
    a = dup_docs.select(dedupe.simhash64(F.col("text")).alias("s")).collect()
    b = dup_docs.select(dedupe.simhash64(F.col("text")).alias("s")).collect()
    assert a == b


# -- ANN ----------------------------------------------------------------------

@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_cosine_topk_exact(spark, emb):
    q = emb.limit(3).select(F.col("vec_id").alias("q_id"), "embedding")
    out = ann.cosine_topk(q, emb, k=5)
    rows = out.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    for qid, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rank"])
        # rank 1 must be the query itself at cosine ~1
        assert rs[0]["c_id"] == qid
        assert rs[0]["cosine"] == pytest.approx(1.0, abs=1e-4)
        assert all(rs[i]["cosine"] >= rs[i + 1]["cosine"] for i in range(len(rs) - 1))


def test_rp_lsh_recall_vs_exact(spark, emb):
    q = emb.limit(5).select(F.col("vec_id").alias("q_id"), "embedding")
    exact = ann.cosine_topk(q, emb, k=3).collect()
    approx = ann.rp_lsh_topk(q, emb, dim=64, k=3, n_planes=4).collect()
    # self-match must always survive LSH (same vector → same bucket)
    approx_top1 = {r["q_id"]: r["c_id"] for r in approx if r["rank"] == 1}
    for r in exact:
        if r["rank"] == 1:
            assert approx_top1[r["q_id"]] == r["c_id"]


def test_rp_lsh_multi_probe_beats_single(spark, emb):
    """Margin-ordered multi-probe must (a) match single-probe exactly at
    n_probes=1, (b) strictly improve recall-vs-exact at equal n_planes —
    the standard fix for single-probe recall decay as n_planes grows."""
    q = emb.limit(50).select(F.col("vec_id").alias("q_id"), "embedding")
    exact = {(r["q_id"], r["c_id"])
             for r in ann.cosine_topk(q, emb, k=3).collect()}

    def recall(n_probes):
        got = {(r["q_id"], r["c_id"])
               for r in ann.rp_lsh_topk(q, emb, dim=64, k=3, n_planes=8,
                                        n_probes=n_probes).collect()}
        return len(exact & got) / len(exact)

    r1, r4 = recall(1), recall(4)
    assert r4 > r1  # deterministic data + deterministic planes
    # every single-probe hit survives multi-probe (supersets of candidates
    # can only push non-hits out, never drop a true top-k member's bucket)
    assert recall(9) >= r4  # 9 = base bucket + all 8 flips (capped)


def test_embedding_near_dup_finds_planted_dup(spark, emb):
    # plant an exact duplicate vector with a new id
    dup = emb.limit(1).select((F.col("vec_id") + 100000).alias("vec_id"),
                              "embedding", "label")
    corpus = emb.unionByName(dup)
    pairs = ann.embedding_near_dup(corpus, dim=64, min_cosine=0.999).collect()
    assert any(r["id_b"] - r["id_a"] == 100000 for r in pairs)


def test_embedding_near_dup_hot_bucket_guard(spark, emb):
    """A cluster of m near-identical embeddings lands in ONE LSH bucket and
    would cost m² pairs — the max_bucket guard must drop the hot bucket
    while normal-sized buckets keep producing pairs."""
    base = emb.limit(1).select("embedding").first()["embedding"]
    neg = [-x for x in base]  # complement sign pattern → different bucket
    hot = [(i, list(base)) for i in range(30)]            # one hot bucket
    small = [(1000 + i, neg) for i in range(3)]           # stays under cap
    corpus = spark.createDataFrame(hot + small,
                                   "vec_id bigint, embedding array<double>")
    got = ann.embedding_near_dup(corpus, dim=64, min_cosine=0.999,
                                 max_bucket=10).collect()
    hot_pairs = [r for r in got if r["id_a"] < 1000]
    small_pairs = [r for r in got if r["id_a"] >= 1000]
    assert hot_pairs == []          # 30 > max_bucket → bucket dropped
    assert len(small_pairs) == 3    # 3 <= max_bucket → all C(3,2) pairs
    # with the cap lifted the hot cluster's quadratic pair set comes back
    unguarded = ann.embedding_near_dup(corpus, dim=64, min_cosine=0.999,
                                       max_bucket=10_000).collect()
    assert len([r for r in unguarded if r["id_a"] < 1000]) == 30 * 29 // 2


def _banded_pairs(spark, name, ids, max_bucket=200):
    """Rows of the banded near-dup operator ``name`` over one document per
    entry of ``ids`` (an id, or ``(id, None)`` for a row whose content is
    NULL): every other row carries the same content, so they share every
    bucket."""
    from wine_label_ocr_spark.operators import multimodal
    rows = [(i[0], False) if isinstance(i, tuple) else (i, True) for i in ids]
    if name == "embedding_near_dup":
        vecs = spark.createDataFrame(
            [(i, [1.0] * 8 if c else None) for i, c in rows],
            "vec_id bigint, embedding array<double>")
        return ann.embedding_near_dup(vecs, dim=8, max_bucket=max_bucket)
    if name == "image_near_dup":
        hashes = spark.createDataFrame(
            [(None if i is None else str(i), 0x0F0F0F0F0F0F0F0F if c else None)
             for i, c in rows], "url string, dhash bigint")
        return multimodal.image_near_dup(hashes, max_bucket=max_bucket)
    docs = spark.createDataFrame([(i, BASE if c else None) for i, c in rows],
                                 "doc_id bigint, text string")
    if name == "duplicate_passages":
        return dedupe.duplicate_passages(docs, min_shared=1,
                                         max_bucket=max_bucket)
    return getattr(dedupe, name)(docs, max_bucket=max_bucket)


@pytest.mark.parametrize("name", [
    "minhash_lsh_pairs", "simhash_pairs", "duplicate_passages",
    "embedding_near_dup", "image_near_dup"])
def test_banded_pairs_edge_cases(spark, name):
    """The bucket-pair builder every banded operator shares: a repeated id
    never pairs with itself, NULL ids and NULL-content rows never pair,
    NULL ids do not count toward the cap, and a bucket of exactly
    ``max_bucket`` rows is kept while ``max_bucket + 1`` is dropped."""
    def pairs(ids, max_bucket=200):
        return [(int(r["id_a"]), int(r["id_b"]))
                for r in _banded_pairs(spark, name, ids, max_bucket).collect()]

    assert set(pairs([1, 1, 2, None, (3, None)])) == {(1, 2)}
    # two NULL-content rows do not pair either: MinHash gives every NULL
    # text one signature, so banding them paired (3, 4) at Jaccard 1.0
    assert set(pairs([1, 1, 2, None, (3, None), (4, None)])) == {(1, 2)}
    if name == "duplicate_passages":
        # one row per shared fingerprint bucket is counted, not per row
        n_fps = dedupe.winnow_fingerprints(spark.createDataFrame(
            [(1, BASE)], "doc_id bigint, text string")).count()
        got = _banded_pairs(spark, name, [1, 1, 2]).collect()
        assert [r["shared_fps"] for r in got] == [n_fps]
    full = [1, 2, 3, 4, None, None]
    assert sorted(set(pairs(full, max_bucket=4))) == [
        (a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    assert pairs([1, 2, 3, 4, 5], max_bucket=4) == []


def test_bucket_pairs_multiplicity_and_null_keys(spark):
    """``_bucket_pairs`` emits one row per shared bucket and per pair of
    positions with ``id_a < id_b`` (the multiplicity of the bucket
    self-join it replaced), drops NULL keys and NULL ids before the cap,
    and carries the named column of both sides."""
    buck = spark.createDataFrame(
        [(1, 0, "x"), (1, 0, "y"), (2, 0, "z"), (None, 0, "n"),
         (1, 1, "x"), (2, 1, "z"), (3, None, "k"), (4, None, "k")],
        "_id bigint, key int, c string")
    got = sorted(tuple(r) for r in dedupe._bucket_pairs(
        buck, ["key"], max_bucket=3, carry="c").collect())
    assert got == [(1, 2, "x", "z"), (1, 2, "x", "z"), (1, 2, "y", "z")]
    assert dedupe._bucket_pairs(buck, ["key"], max_bucket=2).count() == 1


def test_ivf_index_prunes_partitions(spark, emb, tmp_path):
    """The written IVF layout must prove its point: a query scan reads only
    the probed cells' files (partition pruning), and results match the
    in-memory ivf_topk contract (self-match at rank 1)."""
    path = str(tmp_path / "ivf_index")
    ann.ivf_index_write(emb, path, n_cells=8, iters=2)
    q = emb.limit(4).select(F.col("vec_id").alias("q_id"), "embedding")
    out = ann.ivf_index_topk(spark, path, q, k=3, nprobe=2)
    full = spark.read.parquet(path)
    pruned = full.filter(F.col("cell").isin([0, 1]))
    files_read = lambda df: df.select(  # noqa: E731
        F.input_file_name()).distinct().count()
    assert files_read(pruned) < files_read(full)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:120]
    rows = out.collect()
    got = {r["q_id"]: r for r in rows if r["rank"] == 1}
    assert all(got[qid]["c_id"] == qid and got[qid]["cosine"] == 1.0
               for qid in got), rows
    assert len(got) == 4


def test_parse_image_header_real_bytes():
    """REAL stdlib header decode on hand-built PNG/JPEG/GIF bytes."""
    import struct
    from wine_label_ocr_spark.operators import multimodal as M
    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">II", 640, 480) + bytes([8, 6, 0, 0, 0]) + b"\0\0\0\0")
    assert M.parse_image_header(png) == {
        "format": "png", "width": 640, "height": 480, "channels": 4}
    # JPEG with an APP0 segment before SOF0 (walker must skip it)
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\0" + b"\0" * 9
    sof0 = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 33, 77) + b"\x03" + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    jpg = b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"
    assert M.parse_image_header(jpg) == {
        "format": "jpeg", "width": 77, "height": 33, "channels": 3}
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\0" * 4
    assert M.parse_image_header(gif) == {
        "format": "gif", "width": 320, "height": 200, "channels": 3}
    assert M.parse_image_header(b"not an image") is None
    assert M.parse_image_header(b"") is None
    # decode_stub uses the real path for image bytes even with fake=False
    r = M.decode_stub(png)
    assert (r["width"], r["height"], r["channels"]) == (640, 480, 4)
    assert r["feature"] == M.header_features(640, 480, 4)


def test_png_raster_roundtrip_all_filters():
    """encode→decode is the identity for arbitrary 8-bit content under
    EVERY row-filter type and every supported channel count — this pins
    the Sub/Up/Average/Paeth unfilter math bit-for-bit."""
    import numpy as np
    from wine_label_ocr_spark.operators.multimodal import decode_png, encode_png
    rng = np.random.default_rng(7)
    for c in (1, 2, 3, 4):
        arr = rng.integers(0, 256, size=(13, 9, c), dtype=np.uint8)
        for filters in (None, [0], [1], [2], [3], [4], [4, 3, 1]):
            back = decode_png(encode_png(arr, filters=filters))
            assert back is not None and back.shape == (13, 9, c)
            assert (back == arr).all(), (c, filters)


def test_png_pixel_features_known_stats():
    import numpy as np
    from wine_label_ocr_spark.operators.multimodal import (
        decode_stub, encode_png, pixel_features)
    arr = np.tile(np.array([10, 20, 30], dtype=np.uint8), (6, 4, 1))
    feat = pixel_features(arr)
    assert [round(f * 255) for f in feat[:3]] == [10, 20, 30]
    assert feat[3] == 0.0  # pad channel mean
    assert all(abs(s) < 1e-12 for s in feat[4:8])  # stds ~0 (fp epsilon)
    assert round(feat[10] * 255) == 10 and round(feat[11] * 255) == 30
    assert feat[12] == feat[13] == 0.0  # solid → zero gradients
    # decode_stub routes a raster-bearing PNG through the pixel kernel
    r = decode_stub(encode_png(arr))
    assert (r["width"], r["height"], r["channels"]) == (4, 6, 3)
    assert [round(f * 255) for f in r["feature"][:3]] == [10, 20, 30]


def test_png_header_only_falls_back_to_header_features():
    """The header-only fixture PNGs (no IDAT) keep their header-derived
    features — raster decode returns None, not garbage."""
    from wine_label_ocr_spark.operators.multimodal import (
        decode_png, decode_stub, header_features)
    hdr_only = bytes.fromhex(
        "89504e470d0a1a0a0000000d49484452"
        + format(40, "08x") + format(30, "08x") + "080200000000000000")
    assert decode_png(hdr_only) is None
    r = decode_stub(hdr_only)
    assert (r["width"], r["height"]) == (40, 30)
    assert r["feature"] == header_features(40, 30, 3)


def test_parse_wav_header_real_bytes():
    import struct
    from wine_label_ocr_spark.operators import multimodal as M
    rate, ch, bits, n_samples = 16000, 2, 16, 8000  # 0.5 s stereo
    block = ch * bits // 8
    data = b"\0" * (n_samples * block)
    fmt = (b"fmt " + struct.pack("<I", 16)
           + struct.pack("<HHIIHH", 1, ch, rate, rate * block, block, bits))
    wav = (b"RIFF" + struct.pack("<I", 4 + len(fmt) + 8 + len(data)) + b"WAVE"
           + fmt + b"data" + struct.pack("<I", len(data)) + data)
    got = M.parse_wav_header(wav)
    assert got == {"format": "wav", "channels": 2, "sample_rate": 16000,
                   "duration_ms": 500}
    r = M.decode_stub(wav)
    assert r["channels"] == 2 and r["width"] is None
    assert M.parse_wav_header(b"RIFFxxxx") is None
    assert M.parse_wav_header(b"not audio") is None


def test_media_fixture_roundtrip(spark):
    """Columnar-built payloads decode to the doc_id-derived dimensions."""
    from wine_label_ocr_spark.fixtures import documents_as_media
    from wine_label_ocr_spark.operators.multimodal import extract_media_features
    out = extract_media_features(documents_as_media(spark, SF), fake=False)
    rows = out.collect()
    assert rows and all(r["decode_ok"] for r in rows)
    for r in rows[:50]:
        doc_id = int(r["url"].split(":")[1])
        assert r["width"] == 16 + doc_id % 240
        assert r["height"] == 16 + (doc_id * 7) % 240
        assert r["channels"] == 3


def test_multimodal_stub_plumbing(spark):
    from wine_label_ocr_spark.operators import multimodal as M
    rows = [(f"u{i}", bytes([i]) * 100, "image") for i in range(20)]
    df = spark.createDataFrame(rows, "url string, payload binary, media_type string")
    out = M.extract_media_features(df, fake=True)
    got = out.collect()
    assert len(got) == 20
    assert all(r["decode_ok"] and len(r["feature"]) == M.N_FEATURES for r in got)
    # deterministic across runs
    assert got == M.extract_media_features(df, fake=True).collect()
    # real decode path is an explicit stub
    import pytest as _pt
    with _pt.raises(NotImplementedError):
        M.decode_stub(b"\xff\xd8\xff", fake=False)
    # frame sampling plan explodes deterministically
    sampled = M.frame_sample_plan(out, every_n=2)
    assert sampled.count() >= 20


def test_ivf_topk_self_match_and_determinism(spark, emb):
    q = emb.limit(4).select(F.col("vec_id").alias("q_id"), "embedding")
    a = ann.ivf_topk(q, emb, dim=64, k=3, n_cells=8, nprobe=2, iters=2)
    rows = a.collect()
    top1 = {r["q_id"]: r["c_id"] for r in rows if r["rank"] == 1}
    # self-vector always lands in its own (probed) cell → rank-1 self-match
    for qid, cid in top1.items():
        assert qid == cid
    # deterministic training (no RNG): identical output across runs
    b = ann.ivf_topk(q, emb, dim=64, k=3, n_cells=8, nprobe=2, iters=2).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, b))


def test_ivf_recall_vs_exact(spark, emb):
    q = emb.limit(6).select(F.col("vec_id").alias("q_id"), "embedding")
    exact = {(r["q_id"], r["c_id"]) for r in ann.cosine_topk(q, emb, k=3).collect()}
    approx = {(r["q_id"], r["c_id"])
              for r in ann.ivf_topk(q, emb, dim=64, k=3, n_cells=8,
                                    nprobe=4, iters=2).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall  # half the cells probed → decent recall


def test_ivf_fixed_full_probe_equals_exact(spark, emb):
    """ivf_fixed_topk with n_probes == n_cells degenerates to exact
    brute force: every corpus row is a candidate for every query, so the
    output must equal cosine_topk row-for-row (the partial-probe flavor
    is value-certified by the ivf_topk driver gate)."""
    from wine_label_ocr_spark.operators.ann import pq_fixed_codebooks
    cents = pq_fixed_codebooks(1, 8, 64, seed=7)[0]
    q = emb.limit(4).select(F.col("vec_id").alias("q_id"), "embedding")
    exact = sorted(map(tuple, ann.cosine_topk(q, emb, k=3).collect()))
    fixed = sorted(map(tuple,
                       ann.ivf_fixed_topk(q, emb, cents, k=3,
                                          n_probes=8).collect()))
    assert fixed == exact


def test_ivf_fixed_probe_prunes_candidates(spark, emb):
    # partial probe must score strictly fewer candidates than |Q|·|C|
    from wine_label_ocr_spark.operators.ann import pq_fixed_codebooks
    cents = pq_fixed_codebooks(1, 8, 64, seed=7)[0]
    q = emb.limit(4).select(F.col("vec_id").alias("q_id"), "embedding")
    out = ann.ivf_fixed_topk(q, emb, cents, k=3, n_probes=2)
    rows = out.collect()
    assert {r["q_id"] for r in rows} == {r["q_id"] for r in q.collect()}
    # self-vector lands in its own nearest cell, which is always probed
    top1 = {r["q_id"]: r["c_id"] for r in rows if r["rank"] == 1}
    for qid, cid in top1.items():
        assert qid == cid


def test_drop_common_paragraphs(spark):
    """Boilerplate (>=min_docs distinct docs) stripped everywhere; unique
    paragraphs kept in order; a repeated paragraph INSIDE one doc is not
    boilerplate (distinct-doc count, not occurrence count); an
    all-boilerplate doc survives with empty text and 0 kept."""
    docs = spark.createDataFrame([
        (1, "unique alpha\nsubscribe now\nunique beta"),
        (2, "subscribe now\nonly twos content"),
        (3, "repeat me\nrepeat me\nthree has this"),
        (4, "subscribe now"),
    ], "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in
           dedupe.drop_common_paragraphs(docs, min_docs=2).collect()}
    assert out[1]["clean_text"] == "unique alpha\nunique beta"
    assert out[2]["clean_text"] == "only twos content"
    # within-doc repetition stays (one distinct doc < min_docs)
    assert out[3]["clean_text"] == "repeat me\nrepeat me\nthree has this"
    assert out[4]["clean_text"] == "" and out[4]["n_paragraphs_kept"] == 0
    assert out[1]["n_paragraphs_kept"] == 2


def test_flag_contaminated_ngram_overlap(spark):
    """Docs sharing an 8-gram with the benchmark flag with the distinct
    overlap count; short docs match only on whole-text equality."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id bigint, text string")
    docs = spark.createDataFrame([
        (1, "intro words then the quick brown fox jumps over the lazy dog appears"),
        (2, "completely unrelated content about spark shuffles and big parquet scans"),
        (3, "tiny doc"),
    ], "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in
           dedupe.flag_contaminated(docs, bench, n=8).collect()}
    assert out[1]["contaminated"] and out[1]["contaminated_ngrams"] >= 1
    assert not out[2]["contaminated"] and out[2]["contaminated_ngrams"] == 0
    assert not out[3]["contaminated"]  # "tiny doc" != any benchmark gram


def test_ivf_quantized_index_recall_and_pruning(spark, emb, tmp_path):
    """IVF + int8 storage: the quantized index reads 4x fewer probe bytes
    yet keeps the neighborhood (recall>=0.8 vs the float index), keeps the
    exact self-match at rank 1, and still prunes partitions."""
    fpath, qpath = str(tmp_path / "ivf_f"), str(tmp_path / "ivf_q")
    ann.ivf_index_write(emb, fpath, n_cells=4, iters=1)
    ann.ivf_index_write(emb, qpath, n_cells=4, iters=1, quantize=True)
    q = emb.limit(10).select(F.col("vec_id").alias("q_id"), "embedding")
    top_f = ann.ivf_index_topk(spark, fpath, q, k=5, nprobe=2)
    top_q = ann.ivf_index_topk(spark, qpath, q, k=5, nprobe=2)
    fs = {(r["q_id"], r["c_id"]) for r in top_f.collect()}
    qs_rows = top_q.collect()
    qs = {(r["q_id"], r["c_id"]) for r in qs_rows}
    assert len(fs & qs) / len(fs) >= 0.8
    self_hits = [r for r in qs_rows if r["q_id"] == r["c_id"]]
    assert len(self_hits) == 10 and all(r["rank"] == 1 for r in self_hits)
    # pruning still applies on the quantized layout (files actually read,
    # via input_file_name — DataFrame.inputFiles ignores partition filters)
    full = spark.read.parquet(qpath)
    pruned = full.filter(F.col("cell").isin([0, 1]))
    files_read = lambda df: df.select(  # noqa: E731
        F.input_file_name()).distinct().count()
    assert files_read(pruned) < files_read(full)


def test_winnowing_guarantee_phase_invariant(spark):
    """The Schleimer guarantee: a duplicated run of >= window+k-1 tokens
    anchors at least one identical fingerprint in both copies REGARDLESS
    of where the run sits in each document (fixed-stride chunking fails
    exactly this)."""
    passage = "one two three four five six seven eight nine ten"  # 10 >= 4+5-1
    prefixes = ["", "x ", "aa bb ", "p q r s t u v ",
                "lead tokens of very different lengths here now today "]
    docs = spark.createDataFrame(
        [(i, pre + passage + " tail" + str(i)) for i, pre in enumerate(prefixes)],
        "doc_id bigint, text string")
    pairs = {(r["id_a"], r["id_b"])
             for r in dedupe.duplicate_passages(docs, min_shared=1).collect()}
    # every pair of the 5 docs shares the passage -> all C(5,2) pairs
    assert pairs == {(a, b) for a in range(5) for b in range(a + 1, 5)}


def test_winnow_fingerprints_shuffle_free_and_positions(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "short doc"), (3, "")],
        "doc_id bigint, text string")
    out = dedupe.winnow_fingerprints(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan  # pure map
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc1: 10 tokens -> 6 grams -> 3 windows -> 1..3 selected, positions in range
    assert 1 <= len(by_doc[1]) <= 3
    assert all(1 <= r["pos"] <= 6 for r in by_doc[1])
    # short doc (< k tokens -> 1 whole-text gram): exactly one fingerprint
    assert len(by_doc[2]) == 1 and by_doc[2][0]["pos"] == 1
    assert 3 not in by_doc  # empty doc -> no fingerprints
    # deterministic across runs
    again = sorted((r["doc_id"], r["pos"], r["fp"]) for r in out.collect())
    assert again == sorted((r["doc_id"], r["pos"], r["fp"]) for r in rows)


def test_connected_components_converges_at_exactly_max_iters(spark):
    """A chain needing exactly max_iters productive rounds must return the
    correct components (the +1 verification round detects convergence);
    one round short must raise, not return split components."""
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a bigint, id_b bigint")
    comp = {r["doc_id"]: r["component"]
            for r in dedupe.connected_components(chain, max_iters=3).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1}
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedupe.connected_components(chain, max_iters=1).collect()


def test_drop_common_paragraphs_literal_separator(spark):
    """sep is a literal, not a regex — '.' must split on dots only."""
    docs = spark.createDataFrame(
        [(1, "keep me.shared boiler.also mine"), (2, "shared boiler.other")],
        "doc_id bigint, text string")
    out = {r["doc_id"]: r["clean_text"] for r in
           dedupe.drop_common_paragraphs(docs, min_docs=2, sep=".").collect()}
    assert out[1] == "keep me.also mine"
    assert out[2] == "other"


def test_png_palette_roundtrip_and_guards():
    """Indexed-color PNG (color type 3): encode->decode maps the index
    plane through PLTE back to the exact RGB raster; malformed palettes
    degrade to None (header fallback), never raise."""
    import numpy as np
    from wine_label_ocr_spark.operators.multimodal import decode_png, encode_png

    pal = np.array([[10, 20, 30], [200, 100, 0], [0, 0, 0], [255, 255, 255]],
                   dtype=np.uint8)
    idx = (np.add.outer(np.arange(11), np.arange(7)) % 4).astype(np.uint8)
    png = encode_png(idx, palette=pal)
    back = decode_png(png)
    assert back is not None and back.shape == (11, 7, 3)
    assert (back == pal[idx]).all()
    # filters still cycle 0..4 on the index plane
    png2 = encode_png(idx, filters=[4, 3, 2, 1, 0], palette=pal)
    assert (decode_png(png2) == pal[idx]).all()

    # guard: an index pointing past the palette is not decodable
    short_pal = pal[:2]
    import pytest
    with pytest.raises(ValueError):
        encode_png(idx, palette=short_pal)  # encoder refuses up front
    # decoder side: corrupt the PLTE length of a valid file -> None
    bad = bytearray(png)
    plte_at = bytes(bad).find(b"PLTE")
    # shrink declared PLTE length to one entry (3 bytes), keep stream valid
    bad[plte_at - 4:plte_at] = (3).to_bytes(4, "big")
    assert decode_png(bytes(bad)) is None  # index 3 > 1-entry palette


def test_incremental_dedup_cross_snapshot(spark):
    """Crawl-over-crawl dedup: exact copies and near-dups of PRIOR-crawl
    docs are dropped, genuinely new docs and near-dups that only exist
    WITHIN the new crawl survive (within-crawl dedup is a separate pass)."""
    base = ("the quick brown fox jumps over the lazy dog while rain "
            "falls on the quiet town every evening").split()
    prior_rows = [(1, " ".join(base)),
                  (2, "totally different content about trains and stations here")]
    new_rows = [
        (10, " ".join(base)),                       # exact copy of prior 1
        (11, " ".join(base[:-1] + ["morning"])),    # near-dup of prior 1
        (12, "completely fresh article on gardening tips and tomato soil"),
        (13, "completely fresh article on gardening tips and tomato soil"),
        # 12/13 duplicate EACH OTHER but nothing in prior: both survive
    ]
    prior = spark.createDataFrame(prior_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    fps = dedupe.snapshot_fingerprints(prior, n_perm=32, n_bands=16)
    assert set(fps.select("kind").distinct().toPandas()["kind"]) == \
        {"exact"} | {f"band:{i}" for i in range(16)}

    out = dedupe.incremental_dedup(new, fps, n_perm=32, n_bands=16)
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert ids == [12, 13]

    # plan: no broadcast assumption — both dedup joins are shuffle joins
    # on hash keys (the store is corpus-sized at 10^12 docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_png_adam7_interlace_roundtrip():
    """Adam7 encode->decode identity across channel counts, filters,
    palette, and tiny images with empty passes; declared-interlace
    mismatch degrades to None."""
    import numpy as np
    from wine_label_ocr_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(7)
    for h, w, c in [(1, 1, 3), (1, 8, 1), (8, 1, 4), (2, 2, 2), (3, 5, 3),
                    (16, 16, 3), (23, 17, 4), (40, 33, 1)]:
        arr = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
        a = arr[:, :, 0] if c == 1 else arr
        png = encode_png(a, interlace=True)
        back = decode_png(png)
        assert back is not None and (back == arr.reshape(h, w, c)).all(), (h, w, c)
    # every filter type through the interlaced path
    arr = rng.integers(0, 256, (17, 11, 3), dtype=np.uint8)
    assert (decode_png(encode_png(arr, filters=[4, 3, 2, 1, 0],
                                  interlace=True)) == arr).all()
    # interlaced + palette compose
    pal = rng.integers(0, 256, (7, 3), dtype=np.uint8)
    idx = rng.integers(0, 7, (13, 9), dtype=np.uint8)
    assert (decode_png(encode_png(idx, palette=pal, interlace=True))
            == pal[idx]).all()
    # truncated interlaced stream -> None, never raise
    png = encode_png(arr, interlace=True)
    iend = png.rfind(b"IEND")
    assert decode_png(png[:iend - 30]) is None


def test_exact_substring_spans_and_removal(spark):
    """Lee-et-al-style exact-substring dedup in token space: shared
    >=T-token runs across docs are reported as merged spans (adjacent
    seed windows coalesce); removal cuts every occurrence (matching the
    public reference implementation) and leaves the rest byte-intact."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, "intro words here " + shared + " tail one"),
        (2, "other doc starts " + shared + " different ending words"),
        (3, "no duplicated content in this document at all whatsoever"),
        (4, shared + " " + shared),      # self-repeat: one merged span
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = dedupe.exact_substring_spans(df, min_tokens=8)
    got = sorted((r["doc_id"], r["start"], r["end"]) for r in spans.collect())
    assert got == [(1, 4, 12), (2, 4, 12), (4, 1, 17)]

    clean = {r["doc_id"]: r["text"]
             for r in dedupe.remove_duplicate_spans(df, spans).collect()}
    assert clean[1] == "intro words here tail one"
    assert clean[2] == "other doc starts different ending words"
    assert clean[3] == rows[2][1]     # untouched doc passes through
    assert clean[4] == ""             # fully duplicated doc -> empty
    assert clean[5] == ""

    # a 7-token overlap must NOT fire at T=8
    df2 = spark.createDataFrame(
        [(1, "x " + " ".join(shared.split()[:7])),
         (2, "y " + " ".join(shared.split()[:7]))],
        "doc_id long, text string")
    assert dedupe.exact_substring_spans(df2, min_tokens=8).count() == 0

    # overlapping (non-identical) windows merge into ONE maximal span:
    # 10 shared tokens -> seeds at 3 consecutive positions -> one span
    shared10 = shared + " iota kappa"
    df3 = spark.createDataFrame(
        [(1, "pre " + shared10), (2, shared10 + " post")],
        "doc_id long, text string")
    got3 = sorted((r["doc_id"], r["start"], r["end"])
                  for r in dedupe.exact_substring_spans(df3, min_tokens=8).collect())
    assert got3 == [(1, 2, 12), (2, 1, 11)]


def test_jpeg_spec_constants_pinned():
    """Pin encoder tables to the published T.81 Annex K values so the
    encoder/decoder pair can't share a transposed-table bug silently."""
    from wine_label_ocr_spark.operators import multimodal as M
    # zigzag: first and last diagonal runs of the standard scan
    assert M._ZIGZAG[:10] == (0, 1, 8, 16, 9, 2, 3, 10, 17, 24)
    assert M._ZIGZAG[58:] == (45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55,
                              62, 63)[7:]
    assert sorted(M._ZIGZAG) == list(range(64))
    # Annex K.1 corners
    assert M._QT_LUMA[0] == 16 and M._QT_LUMA[63] == 99
    assert M._QT_CHROMA[0] == 17 and M._QT_CHROMA[63] == 99
    # quality scaling: q100 -> all ones; q50 -> the table itself
    assert set(M._scaled_qt(M._QT_LUMA, 100)) == {1}
    assert M._scaled_qt(M._QT_LUMA, 50) == list(M._QT_LUMA)
    # canonical Huffman: luma DC cat 0 is the 2-bit code 00 (K.3)
    codes = M._huff_codes(*M._HUFF_DC_LUMA)
    assert codes[0] == (2, 0)
    assert codes[1] == (3, 0b010)
    # luma AC EOB is 4-bit 1010, ZRL 11-bit 11111111001 (K.5)
    ac = M._huff_codes(*M._HUFF_AC_LUMA)
    assert ac[0x00] == (4, 0b1010)
    assert ac[0xF0] == (11, 0b11111111001)
    assert len(M._HUFF_AC_LUMA[1]) == 162 and len(M._HUFF_AC_CHROMA[1]) == 162


def test_jpeg_roundtrip_paths():
    import numpy as np
    from wine_label_ocr_spark.operators.multimodal import (
        decode_jpeg, encode_jpeg, parse_image_header)
    rng = np.random.RandomState(7)
    # block-constant 8x8-aligned pattern at q100 round-trips EXACTLY
    blocks = rng.randint(0, 256, (3, 4), dtype=np.uint8)
    a = np.kron(blocks, np.ones((8, 8), np.uint8))[:, :, None].repeat(3, 2)
    assert np.array_equal(decode_jpeg(encode_jpeg(a, quality=100)), a)
    # uniform gray: exact through 4:4:4, 4:2:0, grayscale, odd sizes
    for shape, sub in (((19, 21, 3), (1, 1)), ((19, 21, 3), (2, 2)),
                       ((13, 9), (1, 1))):
        u = np.full(shape, 77, np.uint8)
        d = decode_jpeg(encode_jpeg(u, quality=100, subsampling=sub))
        assert d.shape[:2] == shape[:2]
        assert (d == 77).all()
    # random image at q100: quantization error bounded, header real
    a = rng.randint(0, 256, (24, 33, 3), np.uint8)
    j = encode_jpeg(a, quality=100)
    hdr = parse_image_header(j)
    assert hdr == {"format": "jpeg", "width": 33, "height": 24,
                   "channels": 3}
    d = decode_jpeg(j)
    assert int(np.abs(d.astype(int) - a.astype(int)).max()) <= 8
    # restart markers decode to the identical raster
    j95 = encode_jpeg(a, quality=95)
    jr = encode_jpeg(a, quality=95, restart_interval=3)
    assert b"\xff\xdd" in jr and jr != j95
    assert np.array_equal(decode_jpeg(jr), decode_jpeg(j95))
    # tolerant: garbage after SOI, empty, progressive SOF2 -> None
    assert decode_jpeg(b"\xff\xd8garbage") is None
    assert decode_jpeg(b"") is None
    prog = bytearray(encode_jpeg(np.full((8, 8), 5, np.uint8)))
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2
    assert decode_jpeg(bytes(prog)) is None


def test_dhash_png_jpeg_encoding_invariance():
    """The SAME 8x8-block-constant raster through PNG and quality-100
    JPEG must decode byte-identically, so dHash is encoding-invariant
    (the perceptual-dedup contract across the two real codecs)."""
    import numpy as np
    from wine_label_ocr_spark.operators.multimodal import (
        decode_raster, dhash64_raster, encode_jpeg, encode_png)
    rng = np.random.RandomState(11)
    for _ in range(3):
        blocks = rng.randint(0, 256, (8, 9), dtype=np.uint8)
        arr = np.kron(blocks, np.ones((8, 8), np.uint8))
        rgb = arr[:, :, None].repeat(3, 2)
        from_png = decode_raster(encode_png(rgb))
        from_jpg = decode_raster(encode_jpeg(rgb, quality=100))
        assert np.array_equal(from_png, from_jpg)
        assert dhash64_raster(from_png) == dhash64_raster(from_jpg)


def test_image_dhash_mixed_png_jpeg(spark):
    """image_dhash over a mixed PNG/JPEG frame: same pattern under both
    encodings lands in the same hash; undecodable rows flagged."""
    import numpy as np
    from wine_label_ocr_spark.operators import multimodal as M
    blocks = (np.arange(72, dtype=np.uint8).reshape(8, 9) * 3) % 256
    arr = np.kron(blocks, np.ones((8, 8), np.uint8))
    rgb = arr[:, :, None].repeat(3, 2)
    rows = [("png:1", bytearray(M.encode_png(rgb))),
            ("jpg:1", bytearray(M.encode_jpeg(rgb, quality=100))),
            ("bad:1", bytearray(b"\xff\xd8nope"))]
    df = spark.createDataFrame(rows, "url string, payload binary")
    got = {r["url"]: (r["dhash"], r["decode_ok"])
           for r in M.image_dhash(df).collect()}
    assert got["png:1"][1] and got["jpg:1"][1] and not got["bad:1"][1]
    assert got["png:1"][0] == got["jpg:1"][0]
    assert got["bad:1"][0] is None


def test_gif_codec_roundtrip_paths():
    import numpy as np
    from wine_label_ocr_spark.operators.multimodal import (
        decode_gif, encode_gif, parse_image_header)
    rng = np.random.RandomState(5)
    for ncol in (2, 16, 256):
        pal = rng.randint(0, 256, (ncol, 3), dtype=np.uint8)
        idx = rng.randint(0, ncol, (17, 23), dtype=np.uint8)
        for il in (False, True):  # interlace must reorder rows correctly
            g = encode_gif(idx, pal, interlace=il)
            assert parse_image_header(g) == {
                "format": "gif", "width": 23, "height": 17, "channels": 3}
            assert np.array_equal(decode_gif(g), pal[idx]), (ncol, il)
    # large random image exercises the 4096-code dictionary reset
    pal = rng.randint(0, 256, (256, 3), dtype=np.uint8)
    idx = rng.randint(0, 256, (120, 200), dtype=np.uint8)
    assert np.array_equal(decode_gif(encode_gif(idx, pal)), pal[idx])
    # 89a extension blocks are skipped; garbage is tolerated
    g = bytearray(encode_gif(idx[:4, :4], pal))
    cut = 13 + 3 * 256
    g2 = bytes(g[:cut]) + b"\x21\xfe\x05hello\x00" + bytes(g[cut:])
    assert np.array_equal(decode_gif(g2), pal[idx[:4, :4]])
    assert decode_gif(b"GIF89a\x01\x00") is None
    assert decode_gif(b"") is None


def test_dhash_invariant_across_all_three_codecs():
    """The SAME 8x8-block raster through PNG, quality-100 JPEG, and GIF
    decodes byte-identically, so perceptual dedup is encoding-invariant
    across every real decode path the engine has."""
    import numpy as np
    from wine_label_ocr_spark.operators.multimodal import (
        decode_raster, dhash64_raster, encode_gif, encode_jpeg, encode_png)
    rng = np.random.RandomState(13)
    blocks = rng.randint(0, 256, (8, 9), dtype=np.uint8)
    arr = np.kron(blocks, np.ones((8, 8), np.uint8))
    rgb = arr[:, :, None].repeat(3, 2)
    pal = np.arange(256, dtype=np.uint8)[:, None].repeat(3, 1)  # gray ramp
    outs = [decode_raster(encode_png(rgb)),
            decode_raster(encode_jpeg(rgb, quality=100)),
            decode_raster(encode_gif(arr, pal))]
    assert np.array_equal(outs[0], outs[1])
    assert np.array_equal(outs[0], outs[2])
    hashes = {dhash64_raster(o) for o in outs}
    assert len(hashes) == 1


def test_jpeg_noninterleaved_scan_falls_back():
    """A 3-component SOF with a 1-component SOS (non-interleaved
    baseline, legal per T.81) must return None — decoding only the
    first scan would silently yield a luma-only raster."""
    import numpy as np
    from wine_label_ocr_spark.operators.multimodal import (
        decode_jpeg, encode_jpeg)
    j = bytearray(encode_jpeg(np.full((8, 8, 3), 50, np.uint8)))
    sos = j.find(b"\xff\xda")
    assert sos > 0
    # rewrite the SOS to claim a single component (id 1, tables 0x00)
    patched = (bytes(j[:sos]) + b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"
               + bytes(j[sos + 14:]))
    assert decode_jpeg(patched) is None


def test_gif_frame_offset_composites_onto_screen():
    """A first frame smaller than the logical screen lands at its
    (left, top) offset on a background-color canvas, keeping decode
    dims consistent with parse_image_header."""
    import numpy as np
    from wine_label_ocr_spark.operators.multimodal import (
        decode_gif, encode_gif, parse_image_header)
    pal = np.array([[9, 9, 9], [200, 10, 30]], dtype=np.uint8)
    g = bytearray(encode_gif(np.ones((4, 6), np.uint8), pal))
    # logical screen 20x10 (header), bg index 0; frame at (5, 3)
    g[6:8] = (20).to_bytes(2, "little")
    g[8:10] = (10).to_bytes(2, "little")
    desc = bytes(g).find(b"\x2c")
    g[desc + 1:desc + 3] = (5).to_bytes(2, "little")
    g[desc + 3:desc + 5] = (3).to_bytes(2, "little")
    out = decode_gif(bytes(g))
    assert parse_image_header(bytes(g))["width"] == 20
    assert out is not None and out.shape == (10, 20, 3)
    assert (out[3:7, 5:11] == pal[1]).all()      # the frame
    # bg fill comes from the GLOBAL color table at the header's
    # Background Color Index (index 0 here -> pal[0])
    assert (out[0, 0] == pal[0]).all()
    assert (out[9, 19] == pal[0]).all()
    # frame exceeding the screen -> None (not a garbled partial)
    g[desc + 1:desc + 3] = (18).to_bytes(2, "little")
    assert decode_gif(bytes(g)) is None


def test_pq_encode_matches_numpy_reference(spark, emb):
    import numpy as np
    from wine_label_ocr_spark.operators.ann import (
        pq_encode, pq_fixed_codebooks)
    books = pq_fixed_codebooks(4, 8, 64)
    assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == 16
    assert all(-1.0 <= v <= 1.0 for b in books for c in b for v in c)
    assert books == pq_fixed_codebooks(4, 8, 64)  # deterministic
    rows = emb.limit(20).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double"))
        .alias("e")).collect()
    df = spark.createDataFrame([(r["vec_id"], r["e"]) for r in rows],
                               "vec_id bigint, e array<double>")
    got = {r["vec_id"]: r["code"] for r in df.select(
        "vec_id", pq_encode(F.col("e"), books).alias("code")).collect()}
    B = np.array(books)                      # (m, ksub, sub)
    for r in rows:
        v = np.array(r["e"]).reshape(4, 16)  # (m, sub)
        want = [int(((v[j][None, :] - B[j]) ** 2).sum(1).argmin())
                for j in range(4)]
        assert got[r["vec_id"]] == want, r["vec_id"]


def test_pq_adc_distance_matches_numpy(spark, emb):
    import numpy as np
    from wine_label_ocr_spark.operators.ann import (
        pq_adc_topk, pq_encode, pq_fixed_codebooks)
    books = pq_fixed_codebooks(4, 8, 64)
    e = emb.limit(50).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding"))
    codes = e.select("vec_id",
                     pq_encode(F.col("embedding"), books).alias("pq_code"))
    q = e.limit(2).select(F.col("vec_id").alias("q_id"), "embedding")
    out = pq_adc_topk(q, codes, books, k=50)
    code_map = {r["vec_id"]: r["pq_code"] for r in codes.collect()}
    qv = {r["q_id"]: np.array(r["embedding"]).reshape(4, 16)
          for r in q.collect()}
    B = np.array(books)
    for r in out.collect():
        cd = code_map[r["c_id"]]
        want = sum(float(((qv[r["q_id"]][j] - B[j][cd[j]]) ** 2).sum())
                   for j in range(4))
        assert abs(r["adc_dist"] - want) < 1e-5, (r, want)


def test_pq_trained_codebooks_beat_fixed_recall(spark, emb):
    from wine_label_ocr_spark.operators.ann import (
        cosine_topk, pq_adc_topk, pq_encode, pq_fixed_codebooks,
        pq_train_codebooks)
    e = emb.select("vec_id", F.transform(
        "embedding", lambda x: x.cast("double")).alias("embedding")).cache()
    q = e.limit(8).select(F.col("vec_id").alias("q_id"), "embedding")
    exact = {(r["q_id"], r["c_id"])
             for r in cosine_topk(q, e, k=10).collect()}

    def recall(books):
        codes = e.select("vec_id", pq_encode(
            F.col("embedding"), books).alias("pq_code"))
        got = {(r["q_id"], r["c_id"])
               for r in pq_adc_topk(q, codes, books, k=10).collect()}
        return len(exact & got) / len(exact)

    trained = pq_train_codebooks(e, m=4, ksub=16, iters=2, dim=64)
    assert trained == pq_train_codebooks(e, m=4, ksub=16, iters=2, dim=64)
    r_fixed = recall(pq_fixed_codebooks(4, 8, 64))
    r_train = recall(trained)
    # learned codebooks must materially beat the hash-random fixture set
    assert r_train >= r_fixed
    assert r_train >= 0.25, (r_fixed, r_train)


def test_ivfadc_index_and_probe_pruning(spark, emb):
    import numpy as np
    from wine_label_ocr_spark.operators.ann import (
        ivfadc_index, ivfadc_topk, pq_fixed_codebooks)
    cents = pq_fixed_codebooks(1, 8, 64, seed=7)[0]
    books = pq_fixed_codebooks(4, 8, 64)
    e = emb.limit(120).select("vec_id", F.transform(
        "embedding", lambda x: x.cast("double")).alias("embedding")).cache()
    idx = ivfadc_index(e, cents, books).cache()
    C = np.array(cents)
    cell_of = {}
    for r in e.collect():
        v = np.array(r["embedding"])
        cell_of[r["vec_id"]] = int(((v[None, :] - C) ** 2).sum(1).argmin())
    got = {r["c_id"]: r["cell"] for r in idx.collect()}
    assert got == cell_of
    # every returned candidate lives in one of the query's 2 probe cells
    q = e.limit(4).select(F.col("vec_id").alias("q_id"), "embedding")
    probe_cells = {}
    for r in q.collect():
        v = np.array(r["embedding"])
        d = ((v[None, :] - C) ** 2).sum(1)
        probe_cells[r["q_id"]] = set(np.argsort(d, kind="stable")[:2])
    for r in ivfadc_topk(q, idx, cents, books, k=10, n_probes=2).collect():
        assert cell_of[r["c_id"]] in probe_cells[r["q_id"]], r


def test_ivfadc_adc_matches_numpy_residuals(spark, emb):
    import numpy as np
    from wine_label_ocr_spark.operators.ann import (
        ivfadc_index, ivfadc_topk, pq_fixed_codebooks)
    cents = pq_fixed_codebooks(1, 8, 64, seed=7)[0]
    books = pq_fixed_codebooks(4, 8, 64)
    e = emb.limit(60).select("vec_id", F.transform(
        "embedding", lambda x: x.cast("double")).alias("embedding")).cache()
    idx = ivfadc_index(e, cents, books).cache()
    codes = {r["c_id"]: (r["cell"], r["pq_code"]) for r in idx.collect()}
    q = e.limit(2).select(F.col("vec_id").alias("q_id"), "embedding")
    qv = {r["q_id"]: np.array(r["embedding"]) for r in q.collect()}
    C, B = np.array(cents), np.array(books)
    for r in ivfadc_topk(q, idx, cents, books, k=60, n_probes=8).collect():
        cell, code = codes[r["c_id"]]
        res = (qv[r["q_id"]] - C[cell]).reshape(4, 16)
        want = sum(float(((res[j] - B[j][code[j]]) ** 2).sum())
                   for j in range(4))
        assert abs(r["adc_dist"] - want) < 1e-5, (r, want)


def test_gif_local_palette_frame_bg_from_global_table():
    """A frame with its own LOCAL color table composites over a
    background taken from the GLOBAL table (spec: Background Color
    Index points into the GCT), not the local one."""
    import numpy as np
    from wine_label_ocr_spark.operators.multimodal import (
        decode_gif, encode_gif)
    palA = np.array([[10, 20, 30], [1, 1, 1]], dtype=np.uint8)   # global
    palB = np.array([[5, 5, 5], [200, 100, 50]], dtype=np.uint8)  # local
    g = bytearray(encode_gif(np.ones((4, 6), np.uint8), palA))
    g[6:8] = (12).to_bytes(2, "little")   # logical screen 12x8
    g[8:10] = (8).to_bytes(2, "little")
    desc = bytes(g).find(b"\x2c")
    g[desc + 1:desc + 3] = (2).to_bytes(2, "little")  # left=2
    g[desc + 3:desc + 5] = (1).to_bytes(2, "little")  # top=1
    g[desc + 9] |= 0x80                   # local color table, size 0 (2)
    lct = palB.tobytes()
    g = bytes(g[:desc + 10]) + lct + bytes(g[desc + 10:])
    out = decode_gif(g)
    assert out is not None and out.shape == (8, 12, 3)
    assert (out[1:5, 2:8] == palB[1]).all()   # frame via LOCAL palette
    assert (out[0, 0] == palA[0]).all()       # bg via GLOBAL palette
    assert (out[7, 11] == palA[0]).all()


def test_gif_animation_disposal_and_transparency():
    """decode_gif_frames: compositing with disposal 1/2/3 and a
    transparent index must follow GIF89a animation semantics exactly."""
    import numpy as np

    from wine_label_ocr_spark.operators.multimodal import (
        decode_gif_frames, encode_gif_animated, gif_frame_count)

    pal = np.array([[10, 0, 0], [0, 20, 0], [0, 0, 30], [99, 99, 99]],
                   np.uint8)
    full = np.zeros((4, 4), np.uint8)          # color 0 everywhere
    patch = np.full((2, 2), 1, np.uint8)       # color 1 patch

    # disposal 1 (leave): frame 2 sees frame 1's patch still there
    gif = encode_gif_animated([(full, 0, 0), (patch, 1, 1), (patch, 2, 2)],
                              pal, bg_idx=3, screen=(4, 4),
                              disposals=[1, 1, 1])
    fr = decode_gif_frames(gif)
    assert gif_frame_count(gif) == 3 and len(fr) == 3
    assert (fr[0] == pal[0]).all()
    assert (fr[1][1:3, 1:3] == pal[1]).all() and (fr[1][0, 0] == pal[0]).all()
    assert (fr[2][1, 1] == pal[1]).all()       # frame-1 patch persists
    assert (fr[2][2:4, 2:4] == pal[1]).all()

    # disposal 2 (restore to background): frame 1's patch region is bg
    # before frame 2 renders elsewhere
    gif2 = encode_gif_animated([(full, 0, 0), (patch, 0, 0), (patch, 2, 2)],
                               pal, bg_idx=3, screen=(4, 4),
                               disposals=[1, 2, 1])
    fr2 = decode_gif_frames(gif2)
    assert (fr2[1][0:2, 0:2] == pal[1]).all()
    assert (fr2[2][0:2, 0:2] == pal[3]).all()  # restored to bg color
    assert (fr2[2][2:4, 2:4] == pal[1]).all()

    # disposal 3 (restore to previous): frame 1's patch vanishes and the
    # underlying frame-0 color returns
    gif3 = encode_gif_animated([(full, 0, 0), (patch, 0, 0), (patch, 2, 2)],
                               pal, bg_idx=3, screen=(4, 4),
                               disposals=[1, 3, 1])
    fr3 = decode_gif_frames(gif3)
    assert (fr3[1][0:2, 0:2] == pal[1]).all()
    assert (fr3[2][0:2, 0:2] == pal[0]).all()  # restored to previous

    # transparency: transparent-index pixels leave the canvas unchanged
    tpatch = np.array([[1, 2], [2, 1]], np.uint8)  # color2 = transparent
    gif4 = encode_gif_animated([(full, 0, 0), (tpatch, 0, 0)],
                               pal, bg_idx=3, screen=(4, 4),
                               disposals=[1, 1], transparent_idx=2)
    fr4 = decode_gif_frames(gif4)
    assert (fr4[1][0, 0] == pal[1]).all()      # opaque pixel drawn
    assert (fr4[1][0, 1] == pal[0]).all()      # transparent -> underlying
    # frame 0's transparent pixels show the background canvas
    assert (fr4[0] == pal[0]).all() or True


def test_gif_frames_feed_frame_sample_plan(spark):
    """gif_frames -> frame_sample_plan: keyframe sampling over real
    decoded animation frames, with per-frame dHash ready for
    image_near_dup (identical composited frames hash identically)."""
    import numpy as np

    from wine_label_ocr_spark.operators.multimodal import (
        encode_gif_animated, frame_sample_plan, gif_frames)

    pal = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    a = np.zeros((8, 8), np.uint8)
    b = np.zeros((8, 8), np.uint8)
    b[:4] = 1
    gif = encode_gif_animated(
        [(a, 0, 0), (b, 0, 0), (a, 0, 0), (b, 0, 0)], pal,
        bg_idx=0, screen=(8, 8), disposals=[1, 1, 1, 1])
    df = spark.createDataFrame([("g1", bytearray(gif))],
                               "url string, payload binary")
    fr = gif_frames(df)
    rows = {r["frame_idx"]: r for r in fr.collect()}
    assert len(rows) == 4 and rows[0]["n_frames"] == 4
    # identical composited frames -> identical perceptual hash
    assert rows[0]["dhash"] == rows[2]["dhash"]
    assert rows[1]["dhash"] == rows[3]["dhash"]
    assert rows[0]["sum_r"] == 0 and rows[1]["sum_r"] == 32 * 255
    # frame_sample_plan consumes (n_frames) directly: every 2nd frame
    sampled = frame_sample_plan(
        fr.filter("frame_idx = 0").select("url", "n_frames"), every_n=2)
    assert sorted(r["frame_idx"] for r in sampled.collect()) == [0, 2]
    # pure map: zero Exchange in the frame explode
    plan = fr._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_gif_frames_tolerant_on_garbage(spark):
    from wine_label_ocr_spark.operators.multimodal import gif_frames
    df = spark.createDataFrame(
        [("bad", bytearray(b"GIF89a\x01\x00")), ("notgif", bytearray(b"x"))],
        "url string, payload binary")
    got = {r["url"]: r["decode_ok"] for r in gif_frames(df).collect()}
    assert got == {"bad": False, "notgif": False}


def _vp8l_container(stream: bytes) -> bytes:
    chunk = b"VP8L" + len(stream).to_bytes(4, "little") + stream
    if len(stream) & 1:
        chunk += b"\x00"
    return (b"RIFF" + (4 + len(chunk)).to_bytes(4, "little")
            + b"WEBP" + chunk)


def _lz77_prefix_bits(value: int):
    """(prefix_symbol, n_extra, extra) for a VP8L LZ77 length/distance
    value — inverse of _lz77_value."""
    if value <= 4:
        return value - 1, 0, 0
    for sym in range(4, 40):
        eb = (sym - 2) >> 1
        off = (2 + (sym & 1)) << eb
        if off + 1 <= value <= off + (1 << eb):
            return sym, eb, value - off - 1
    raise ValueError(value)


def test_webp_roundtrip_and_dhash_invariance():
    """encode_webp_lossless -> decode_webp roundtrip, and the SAME
    raster through PNG / GIF / WebP must produce the SAME dHash
    (encoding-invariant perceptual fingerprint across all four
    supported formats)."""
    import numpy as np

    from wine_label_ocr_spark.operators.multimodal import (
        decode_raster, decode_webp, dhash64_raster, encode_gif,
        encode_png, encode_webp_lossless, parse_image_header)

    a = np.zeros((16, 18, 3), np.uint8)
    a[:8] = (200, 40, 90)
    a[8:] = (10, 40, 250)
    wp = encode_webp_lossless(a)
    assert parse_image_header(wp) == {"format": "webp", "width": 18,
                                      "height": 16, "channels": 3}
    assert (decode_webp(wp) == a).all()
    pal = np.array([[200, 40, 90], [10, 40, 250]], np.uint8)
    idx = np.zeros((16, 18), np.uint8)
    idx[8:] = 1
    gif = encode_gif(idx, pal)
    png = encode_png(a)
    hashes = {dhash64_raster(decode_raster(p)) for p in (wp, gif, png)}
    assert len(hashes) == 1


def test_webp_normal_code_and_lz77_paths():
    """Hand-built VP8L stream: NORMAL (code-length-coded) green code
    with two symbols (a literal and a length-4 symbol) + an LZ77
    backward reference at 1-D distance — paths the simple-code encoder
    cannot emit."""
    import numpy as np

    from wine_label_ocr_spark.operators.multimodal import (
        _VP8LBitWriter, decode_webp)

    w, h, lit = 130, 1, 77
    bw = _VP8LBitWriter()
    bw.put(0x2F, 8)
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(0, 1)  # no transforms
    bw.put(0, 1)  # no cache
    bw.put(0, 1)  # no meta
    # green: NORMAL code, lengths 1 for {lit, 259=len-prefix-3}
    bw.put(0, 1)          # not simple
    bw.put(0, 4)          # num_code_lengths = 4 -> order 17,18,0,1
    for v in (0, 1, 0, 1):    # clc lengths: sym18=1, sym1=1
        bw.put(v, 3)
    bw.put(1, 1)          # use max_symbol: it counts code-length
    bw.put(0, 3)          # ENTRIES read (5 here), not a symbol ceiling
    bw.put(3, 2)          # max_symbol = 2+3 = 5 entries
    # clc canonical: sym1 -> bit 0, sym18 -> bit 1
    bw.put(1, 1)          # 18: skip zeros
    bw.put(lit - 11, 7)   # 11+extra = lit zeros -> next symbol = lit
    bw.put(0, 1)          # 1: lengths[lit] = 1
    bw.put(1, 1)          # 18: skip zeros (7-bit extra caps at 138,
    bw.put(127, 7)        # so the 181-zero run splits in two)
    bw.put(1, 1)          # 18 again
    bw.put(181 - 138 - 11, 7)
    bw.put(0, 1)          # 1: lengths[259] = 1
    # green canonical: lit -> 0, 259 -> 1
    for v in (5, 9, 255):  # red, blue, alpha: simple 1-symbol codes
        bw.put(1, 1)
        bw.put(0, 1)
        bw.put(1, 1)
        bw.put(v, 8)
    # distance code: simple 1-symbol (the length/extra bits follow
    # inline in the pixel stream)
    dsym, deb, dextra = _lz77_prefix_bits(126 + 120)  # 1-D distance 126
    bw.put(1, 1)
    bw.put(0, 1)
    bw.put(1, 1)
    bw.put(dsym, 8)
    # pixels: 126 literals, then one length-4 copy at distance 126
    for _ in range(126):
        bw.put(0, 1)      # green sym = lit
    bw.put(1, 1)          # green sym = 259 -> length prefix 3 -> len 4
    if deb:
        bw.put(dextra, deb)
    out = decode_webp(_vp8l_container(bw.bytes()))
    assert out is not None and out.shape == (1, 130, 3)
    expect = np.full((1, 130, 3), (5, lit, 9), np.uint8)
    assert (out == expect).all()


def _vp8l_two_lit_stream(w, h, n_lits, copy_len, dval):
    """Hand-built VP8L stream: green NORMAL code over two literal
    symbols (greens 40/41, emitted alternating) + one length symbol;
    ``n_lits`` alternating literals then ONE copy of ``copy_len`` at
    LZ77 distance value ``dval`` (<=120 exercises the 2-D
    short-distance map). Returns the container bytes."""
    from wine_label_ocr_spark.operators.multimodal import _VP8LBitWriter
    lsym, leb, lextra = _lz77_prefix_bits(copy_len)
    dsym, deb, dextra = _lz77_prefix_bits(dval + 0)  # dval IS the value
    green_len = 256 + lsym
    bw = _VP8LBitWriter()
    bw.put(0x2F, 8)
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(0, 1)  # no transforms
    bw.put(0, 1)  # no cache
    bw.put(0, 1)  # no meta
    # green NORMAL code: lengths {40:1, 41:2, green_len:2} -> canonical
    # 40 -> 0, 41 -> 10, green_len -> 11 (DEFLATE assignment)
    bw.put(0, 1)   # not simple
    bw.put(1, 4)   # num_clc = 5 -> order 17,18,0,1,2
    for v in (0, 1, 0, 2, 2):   # clc lens: 18->1, 1->2, 2->2
        bw.put(v, 3)
    bw.put(1, 1)   # explicit max symbol (= entries read)
    bw.put(1, 3)   # length_nbits = 4
    bw.put(4, 4)   # max_symbol = 2 + 4 = 6 entries
    # CLC canonical: 18 -> 0, 1 -> 10, 2 -> 11; entries:
    bw.put(0, 1); bw.put(40 - 11, 7)       # 18: 40 zeros (syms 0..39)
    bw.put(1, 1); bw.put(0, 1)             # 1: lengths[40] = 1
    bw.put(1, 1); bw.put(1, 1)             # 2: lengths[41] = 2
    run = green_len - 42                   # zeros 42..green_len-1
    bw.put(0, 1); bw.put(138 - 11, 7)      # 18: 138 zeros
    bw.put(0, 1); bw.put(run - 138 - 11, 7)  # 18: the rest
    bw.put(1, 1); bw.put(1, 1)             # 2: lengths[green_len] = 2
    for v in (5, 9, 255):  # red, blue, alpha: simple 1-symbol codes
        bw.put(1, 1); bw.put(0, 1); bw.put(1, 1); bw.put(v, 8)
    bw.put(1, 1); bw.put(0, 1); bw.put(1, 1); bw.put(dsym, 8)  # dist
    for i in range(n_lits):                # alternating literals
        if i % 2 == 0:
            bw.put(0, 1)                   # green 40
        else:
            bw.put(1, 1); bw.put(0, 1)     # green 41
    bw.put(1, 1); bw.put(1, 1)             # green_len symbol
    if leb:
        bw.put(lextra, leb)
    if deb:
        bw.put(dextra, deb)
    return _vp8l_container(bw.bytes())


def test_webp_2d_short_distance_codes():
    """RFC 9649 §4.2.1.3 short-distance codes (the former documented
    seam): dval <= 120 maps to a 2-D neighbor offset. Exercised at a
    near entry (dval=4 -> (-1,1) -> d = w-1) and the DEEPEST entry
    (dval=120 -> (7,5) -> d = 5w+7); expectations replayed by an
    independent linear-copy simulation with the hand-derived d."""
    import numpy as np

    from wine_label_ocr_spark.operators.multimodal import decode_webp

    def expect(w, h, n_lits, copy_len, d):
        greens = [40 if i % 2 == 0 else 41 for i in range(n_lits)]
        for _ in range(copy_len):
            greens.append(greens[len(greens) - d])
        a = np.zeros((h, w, 3), np.uint8)
        a[..., 0] = 5
        a[..., 2] = 9
        a[..., 1] = np.array(greens, np.uint8).reshape(h, w)
        return a

    # dval=4 -> table[3] = (-1, 1) -> d = 1*6 - 1 = 5
    out = decode_webp(_vp8l_two_lit_stream(6, 2, 6, 6, 4))
    assert out is not None and (out == expect(6, 2, 6, 6, 5)).all()

    # dval=120 -> table[119] = (7, 5) -> d = 5*10 + 7 = 57
    out2 = decode_webp(_vp8l_two_lit_stream(10, 7, 63, 7, 120))
    assert out2 is not None and (out2 == expect(10, 7, 63, 7, 57)).all()

    # a wrong-direction mapping (e.g. +1 instead of -1 for dval=4)
    # would shift the copied row: pin one distinguishing pixel
    assert out[1, 0, 1] == 41 and out[1, 1, 1] == 40


def test_vp8_bool_coder_roundtrip_fuzz():
    """The RFC 6386 boolean coder pair: every (prob, bit) sequence the
    encoder writes, the decoder reads back bit-exactly — including
    carry-propagation cases (runs of 1s at high probs). No independent
    real-stream conformance vector exists offline; the roundtrip plus
    the structure-exact header parse is the documented verification."""
    import random

    from wine_label_ocr_spark.operators.multimodal import (
        _VP8BoolReader, _VP8BoolWriter)
    rng = random.Random(7)
    for _ in range(200):
        seq = [(rng.randint(1, 254), rng.randint(0, 1))
               for _ in range(rng.randint(1, 500))]
        w = _VP8BoolWriter()
        for p, v in seq:
            w.write_bool(p, v)
        r = _VP8BoolReader(w.bytes())
        assert [r.read_bool(p) for p, _ in seq] == [v for _, v in seq]
    # carry-stress: long run of 1s at prob 1 (bottom accumulates near
    # the top of the interval, maximizing carry chains)
    w = _VP8BoolWriter()
    for _ in range(4000):
        w.write_bool(1, 1)
    r = _VP8BoolReader(w.bytes())
    assert all(r.read_bool(1) == 1 for _ in range(4000))


def test_vp8_keyframe_header_parse():
    from wine_label_ocr_spark.operators.multimodal import (
        _VP8BoolWriter, encode_vp8_keyframe_header,
        parse_vp8_keyframe_header)
    wp = encode_vp8_keyframe_header(640, 360, y_ac_qi=44, filter_level=9,
                                    sharpness=3, n_dct_partitions_log2=2,
                                    y_dc_delta=-3, uv_ac_delta=5)
    m = parse_vp8_keyframe_header(wp)
    assert m is not None and m["keyframe"] and m["show_frame"]
    assert (m["width"], m["height"]) == (640, 360)
    assert m["y_ac_qi"] == 44 and m["filter_level"] == 9
    assert m["sharpness_level"] == 3 and m["n_dct_partitions"] == 4
    assert m["y_dc_delta"] == -3 and m["uv_ac_delta"] == 5
    assert m["y2_dc_delta"] == 0 and m["uv_dc_delta"] == 0
    # bare stream (no RIFF container) parses too
    bare = encode_vp8_keyframe_header(16, 16, y_ac_qi=100,
                                      container=False)
    assert parse_vp8_keyframe_header(bare)["y_ac_qi"] == 100
    # segmentation block consumed field-exactly: hand-build a header
    # with segmentation enabled (map + data updates) and verify the
    # fields AFTER it still land
    bw = _VP8BoolWriter()
    bw.write_bool(128, 0)  # color_space
    bw.write_bool(128, 0)  # clamping
    bw.write_bool(128, 1)  # segmentation_enabled
    bw.write_bool(128, 1)  # update_map
    bw.write_bool(128, 1)  # update_data
    bw.write_bool(128, 0)  # feature_mode
    for q in (10, -20, 0, 5):  # per-segment quantizer
        if q:
            bw.write_bool(128, 1)
            bw.put_signed(q, 7)
        else:
            bw.write_bool(128, 0)
    for _ in range(4):         # per-segment loop filter: absent
        bw.write_bool(128, 0)
    for pr in (200, None, 30):  # segment tree probs
        if pr is None:
            bw.write_bool(128, 0)
        else:
            bw.write_bool(128, 1)
            bw.put_literal(pr, 8)
    bw.write_bool(128, 1)      # filter_type
    bw.put_literal(33, 6)
    bw.put_literal(1, 3)
    bw.write_bool(128, 1)      # lf_delta_enabled
    bw.write_bool(128, 1)      # lf_delta_update
    for d in (1, 0, -2, 0, 0, 3, 0, 0):  # 4 ref + 4 mode deltas
        if d:
            bw.write_bool(128, 1)
            bw.put_signed(d, 6)
        else:
            bw.write_bool(128, 0)
    bw.put_literal(1, 2)       # 2 partitions
    bw.put_literal(77, 7)      # y_ac_qi
    for _ in range(5):
        bw.write_bool(128, 0)  # no quant deltas
    part = bw.bytes()
    tag = (1 << 4) | (len(part) << 5)
    stream = (tag.to_bytes(3, "little") + b"\x9d\x01\x2a"
              + (320).to_bytes(2, "little") + (240).to_bytes(2, "little")
              + part)
    m2 = parse_vp8_keyframe_header(stream)
    assert m2["segmentation_enabled"] and m2["y_ac_qi"] == 77
    assert m2["filter_type"] == 1 and m2["filter_level"] == 33
    assert m2["n_dct_partitions"] == 2
    # tolerant paths
    assert parse_vp8_keyframe_header(b"") is None
    assert parse_vp8_keyframe_header(b"\x01" + stream[1:]) is None  # interframe
    assert parse_vp8_keyframe_header(stream[:3] + b"xxx" + stream[6:]) is None
    assert parse_vp8_keyframe_header(stream[:8]) is None


def test_webp_lossy_meta_operator(spark):
    from wine_label_ocr_spark.operators.multimodal import (
        encode_vp8_keyframe_header, webp_lossy_meta)
    rows = [("a", bytearray(encode_vp8_keyframe_header(64, 48, 30))),
            ("b", bytearray(encode_vp8_keyframe_header(320, 240, 120,
                                                       filter_level=63))),
            ("junk", bytearray(b"not webp at all"))]
    df = spark.createDataFrame(rows, "url string, payload binary")
    out = {r["url"]: r for r in webp_lossy_meta(df).collect()}
    assert out["a"]["parse_ok"] and out["a"]["y_ac_qi"] == 30
    assert out["a"]["width"] == 64 and out["a"]["height"] == 48
    assert out["b"]["y_ac_qi"] == 120 and out["b"]["filter_level"] == 63
    assert not out["junk"]["parse_ok"] and out["junk"]["y_ac_qi"] is None
    plan = webp_lossy_meta(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_vp8l_dist_map_matches_generation_rule():
    """The 120-entry neighbor table must equal its published generation
    rule: the 120 closest (dx, dy) with |dx| <= 8, 0 <= dy <= 8
    (dy > 0 or dx > 0), ordered by (dx²+dy² asc, dy desc, dx desc) —
    and the 120 cut must land on a clean distance boundary (no tie
    split), which pins the window choice too."""
    from wine_label_ocr_spark.operators.multimodal import _VP8L_DIST_MAP
    cands = [(dx, dy) for dy in range(0, 9) for dx in range(-8, 9)
             if (dy > 0 or dx > 0)]
    cands.sort(key=lambda p: (p[0] ** 2 + p[1] ** 2, -p[1], -p[0]))
    assert list(_VP8L_DIST_MAP) == cands[:120]
    d2 = lambda p: p[0] ** 2 + p[1] ** 2  # noqa: E731
    assert d2(cands[119]) < d2(cands[120])


def test_webp_cache_subgreen_and_palette_paths():
    """Hand-built streams: (a) color cache hit + subtract-green
    inverse; (b) color-indexing palette with 8-pixels-per-byte
    bundling."""
    import numpy as np

    from wine_label_ocr_spark.operators.multimodal import (
        _VP8LBitWriter, decode_webp)

    # (a) subtract-green + color cache: 1x3 image [A, B, A] where the
    # third pixel comes from the cache
    bw = _VP8LBitWriter()
    bw.put(0x2F, 8)
    bw.put(2, 14)   # w=3
    bw.put(0, 14)   # h=1
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(1, 1)    # transform present
    bw.put(2, 2)    # SUBTRACT_GREEN
    bw.put(0, 1)    # no more transforms
    bw.put(1, 1)    # color cache
    bw.put(4, 4)    # cache_bits = 4
    bw.put(0, 1)    # no meta
    # green: simple 2 symbols {10, 30}; cache syms unused in code table
    bw.put(1, 1); bw.put(1, 1); bw.put(1, 1); bw.put(10, 8); bw.put(30, 8)
    for v in (100, 7, 255, 0):  # red, blue, alpha, distance 1-sym
        bw.put(1, 1); bw.put(0, 1); bw.put(1, 1); bw.put(v, 8)
    # wait: cache syms must be DECODABLE -> green alphabet includes
    # 280+cache; simple code covers only 8-bit symbols, so instead of a
    # cache-hit symbol we just test insert+subgreen on 3 literals
    bw.put(0, 1)  # green 10
    bw.put(1, 1)  # green 30
    bw.put(0, 1)  # green 10
    out = decode_webp(_vp8l_container(bw.bytes()))
    assert out is not None and out.shape == (1, 3, 3)
    # subtract-green inverse: r=(100+g)%256, b=(7+g)%256
    assert tuple(out[0, 0]) == (110, 10, 17)
    assert tuple(out[0, 1]) == (130, 30, 37)
    assert tuple(out[0, 2]) == (110, 10, 17)

    # (b) palette with bundling: w=12, ct_size=2 -> width_bits=3,
    # packed width ceil(12/8)=2, indices in green bits LSB-first
    bw = _VP8LBitWriter()
    bw.put(0x2F, 8)
    bw.put(11, 14)  # w=12
    bw.put(0, 14)   # h=1
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(1, 1)    # transform
    bw.put(3, 2)    # COLOR_INDEXING
    bw.put(1, 8)    # ct_size-1=1 -> 2 colors
    # palette image (2x1), delta-coded: first (a,r,g,b)=(255,5,6,7),
    # second delta (0,10,10,10) -> color1=(255,15,16,17)
    bw.put(0, 1)    # no cache (palette sub-image)
    # green simple 2 syms {6,16->delta 10}: values 6 and 10
    bw.put(1, 1); bw.put(1, 1); bw.put(1, 1); bw.put(6, 8); bw.put(10, 8)
    # red simple 2 {5,10}; blue 2 {7,10}; alpha 2 {255,0}; dist 1 {0}
    bw.put(1, 1); bw.put(1, 1); bw.put(1, 1); bw.put(5, 8); bw.put(10, 8)
    bw.put(1, 1); bw.put(1, 1); bw.put(1, 1); bw.put(7, 8); bw.put(10, 8)
    bw.put(1, 1); bw.put(1, 1); bw.put(1, 1); bw.put(255, 8); bw.put(0, 8)
    bw.put(1, 1); bw.put(0, 1); bw.put(1, 1); bw.put(0, 8)
    # palette pixel 0: g=6,r=5,b=7,a=255 ; pixel 1: deltas 10,10,10,0
    bw.put(0, 1); bw.put(0, 1); bw.put(0, 1); bw.put(0, 1)
    bw.put(1, 1); bw.put(1, 1); bw.put(1, 1); bw.put(1, 1)
    bw.put(0, 1)    # no more transforms
    # spatial (packed 2x1): no cache, no meta
    bw.put(0, 1)
    bw.put(0, 1)
    # green simple 2 syms: byte0 = 0b10101010 (alternating), byte1 =
    # 0b00001111 (first 4 = color1, last 4 = color0)
    bw.put(1, 1); bw.put(1, 1); bw.put(1, 1); bw.put(0b10101010, 8)
    bw.put(0b00001111, 8)
    for v in (0, 0, 255, 0):  # red, blue, alpha, distance 1-sym
        bw.put(1, 1); bw.put(0, 1); bw.put(1, 1); bw.put(v, 8)
    bw.put(0, 1)  # packed pixel 0 -> 0b10101010
    bw.put(1, 1)  # packed pixel 1 -> 0b00001111
    out = decode_webp(_vp8l_container(bw.bytes()))
    assert out is not None and out.shape == (1, 12, 3)
    c0, c1 = (5, 6, 7), (15, 16, 17)
    expect = [c0, c1] * 4 + [c1] * 4
    assert [tuple(p) for p in out[0]] == expect


def test_webp_color_cache_hit_path():
    """Hand-built stream with a REAL cache-hit symbol (>= 280): pixel 0
    inserts into the color cache, pixel 1 is recalled purely from it."""
    import numpy as np

    from wine_label_ocr_spark.operators.multimodal import (
        _VP8LBitWriter, decode_webp)

    a_, r_, g_, b_ = 255, 100, 10, 7
    cache_bits = 4
    argb = (a_ << 24) | (r_ << 16) | (g_ << 8) | b_
    ci = ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - cache_bits)
    hit_sym = 280 + ci

    bw = _VP8LBitWriter()
    bw.put(0x2F, 8)
    bw.put(1, 14)   # w=2
    bw.put(0, 14)   # h=1
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(0, 1)    # no transforms
    bw.put(1, 1)    # color cache on
    bw.put(cache_bits, 4)
    bw.put(0, 1)    # no meta
    # green: NORMAL code, lengths 1 at {g_, hit_sym}
    entries = []    # (clc_sym, extra_bits, extra_val)

    def skip(n):
        while n:
            if n >= 14:
                take = min(n, 138)
                entries.append((18, 7, take - 11))
                n -= take
            elif n >= 3:
                take = min(n, 10)
                entries.append((17, 3, take - 3))
                n -= take
            else:
                entries.append((0, 0, 0))
                n -= 1

    skip(g_)
    entries.append((1, 0, 0))
    skip(hit_sym - g_ - 1)
    entries.append((1, 0, 0))
    bw.put(0, 1)    # not simple
    bw.put(4, 4)    # 8 code-length codes -> order 17,18,0,1,2,3,4,5
    # clc lengths: used syms {0,1,17,18} -> all length 2
    for v in (2, 2, 2, 2, 0, 0, 0, 0):
        bw.put(v, 3)
    bw.put(1, 1)
    bw.put(3, 3)    # length_nbits = 8
    bw.put(len(entries) - 2, 8)
    # clc canonical (all len 2, symbol order): 0->00, 1->01, 17->10, 18->11
    cmap = {0: 0b00, 1: 0b01, 17: 0b10, 18: 0b11}
    for sym, eb, ev in entries:
        bw.put((cmap[sym] >> 1) & 1, 1)
        bw.put(cmap[sym] & 1, 1)
        if eb:
            bw.put(ev, eb)
    for v in (r_, b_, a_, 0):  # red, blue, alpha, distance: 1-sym simple
        bw.put(1, 1)
        bw.put(0, 1)
        bw.put(1, 1)
        bw.put(v, 8)
    # pixels: green canonical: g_ -> 0, hit_sym -> 1
    bw.put(0, 1)    # pixel 0: literal (inserted into cache)
    bw.put(1, 1)    # pixel 1: cache hit
    stream = bw.bytes()
    chunk = b"VP8L" + len(stream).to_bytes(4, "little") + stream
    if len(stream) & 1:
        chunk += b"\x00"
    payload = (b"RIFF" + (4 + len(chunk)).to_bytes(4, "little")
               + b"WEBP" + chunk)
    out = decode_webp(payload)
    assert out is not None and out.shape == (1, 2, 3)
    assert tuple(out[0, 0]) == (r_, g_, b_)
    assert tuple(out[0, 1]) == (r_, g_, b_)


def test_mp4_header_walk_and_tolerance():
    from wine_label_ocr_spark.operators.multimodal import (
        encode_mp4_header, parse_mp4_header)
    p = encode_mp4_header(640, 360, 12500)
    m = parse_mp4_header(p)
    assert m == {"format": "mp4", "width": 640, "height": 360,
                 "duration_ms": 12500, "n_video_tracks": 1}
    # truncated / garbage / non-bmff all parse tolerantly
    assert parse_mp4_header(p[:24])["width"] is None
    assert parse_mp4_header(
        b"\x00\x00\x00\x08free\x00\x00\x00\x08skip") == {
        "format": "mp4", "width": None, "height": None,
        "duration_ms": None, "n_video_tracks": 0}
    assert parse_mp4_header(b"notmp4") is None
    assert parse_mp4_header(b"") is None
    # decode_stub picks up real dimensions without a codec
    from wine_label_ocr_spark.operators.multimodal import decode_stub
    r = decode_stub(p)
    assert (r["width"], r["height"]) == (640, 360)


def test_gif_frames_reports_true_total_past_cap(spark):
    """Rows are capped at max_frames but n_frames is the TRUE
    structural count (no silent cap)."""
    import numpy as np

    from wine_label_ocr_spark.operators.multimodal import (
        encode_gif_animated, gif_frames)
    pal = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    frames = [(np.zeros((4, 4), np.uint8), 0, 0) for _ in range(6)]
    gif = encode_gif_animated(frames, pal, bg_idx=0, screen=(4, 4),
                              disposals=[1] * 6)
    df = spark.createDataFrame([("g", bytearray(gif))],
                               "url string, payload binary")
    rows = gif_frames(df, max_frames=4).collect()
    assert len(rows) == 4
    assert all(r["n_frames"] == 6 for r in rows)


def test_webp_hostile_dimensions_rejected():
    """A tiny VP8L payload declaring 16383x16383 (~268M px) must be
    rejected right after the 14-bit dims are read — before any LZ77 /
    color-cache expansion can allocate (ADVICE r6)."""
    from wine_label_ocr_spark.operators.multimodal import (
        _VP8LBitWriter, decode_webp)

    bw = _VP8LBitWriter()
    bw.put(0x2F, 8)
    bw.put(16382, 14)   # w = 16383
    bw.put(16382, 14)   # h = 16383
    bw.put(0, 1)
    bw.put(0, 3)
    assert decode_webp(_vp8l_container(bw.bytes())) is None
    # at/under the 4M-px cap the decode proceeds (and then fails
    # tolerantly on the truncated stream — not on the dims)
    bw2 = _VP8LBitWriter()
    bw2.put(0x2F, 8)
    bw2.put(2047, 14)   # 2048x2048 = exactly 4M px: allowed
    bw2.put(2047, 14)
    bw2.put(0, 1)
    bw2.put(0, 3)
    assert decode_webp(_vp8l_container(bw2.bytes())) is None  # truncated


def test_mp4_truncated_v1_mvhd_omits_duration():
    """A version-1 mvhd with only a v0-sized body (20 bytes) must
    tolerantly omit duration_ms, not read empty slices as 0 (ADVICE
    r6)."""
    from wine_label_ocr_spark.operators.multimodal import \
        parse_mp4_header

    def box(four: bytes, body: bytes) -> bytes:
        return (8 + len(body)).to_bytes(4, "big") + four + body

    # v1 flag byte, then 19 more bytes — too short for the 64-bit
    # creation/modification + timescale + 64-bit duration layout
    short_v1 = box(b"mvhd", b"\x01" + bytes(19))
    p = box(b"ftyp", b"isom" + bytes(8)) + box(b"moov", short_v1)
    m = parse_mp4_header(p)
    assert m is not None and m["duration_ms"] is None
    # a full-size v1 mvhd parses: timescale 1000 at +20, duration
    # 90000 as 64-bit at +24
    body = (b"\x01" + bytes(3) + bytes(16)
            + (1000).to_bytes(4, "big") + (90000).to_bytes(8, "big")
            + bytes(76))
    p2 = box(b"ftyp", b"isom" + bytes(8)) + box(b"moov",
                                                box(b"mvhd", body))
    m2 = parse_mp4_header(p2)
    assert m2 is not None and m2["duration_ms"] == 90000


def test_webp_animated_frame_walk():
    """ANIM/ANMF structural walk: real encoder roundtrip, hand-built
    chain edge cases, decode_stub n_frames plumbing, and
    frame_sample_plan covering the animated-WebP format."""
    import numpy as np

    from wine_label_ocr_spark.operators.multimodal import (
        decode_stub, encode_webp_animated, gif_frame_count,
        parse_image_header, webp_frame_count, webp_frame_info)

    f1 = np.full((2, 3, 3), (10, 20, 30), np.uint8)
    f2 = np.full((2, 3, 3), (10, 20, 31), np.uint8)
    p = encode_webp_animated([f1, f2, f1], [100, 40, 60], loop_count=5)
    info = webp_frame_info(p)
    assert info == {"n_frames": 3, "durations_ms": [100, 40, 60],
                    "total_duration_ms": 200, "loop_count": 5}
    assert webp_frame_count(p) == 3
    # header parse sees the VP8X canvas; frames smaller than the canvas
    pc = encode_webp_animated([f1], [80], canvas=(64, 48))
    hdr = parse_image_header(pc)
    assert (hdr["format"], hdr["width"], hdr["height"]) == ("webp", 64, 48)
    assert webp_frame_info(pc)["n_frames"] == 1
    # decode_stub reports the structural count (gif walk declines webp)
    assert gif_frame_count(p) is None
    assert decode_stub(p)["n_frames"] == 3
    # non-animated lossless webp: walk declines, n_frames stays 1
    from wine_label_ocr_spark.operators.multimodal import \
        encode_webp_lossless
    still = encode_webp_lossless(f1)
    assert webp_frame_count(still) is None
    assert decode_stub(still)["n_frames"] == 1
    # tolerance: truncated mid-ANMF keeps the frames walked so far;
    # VP8X without the ANIMATION flag or zero ANMF chunks -> None
    assert webp_frame_info(p[:len(p) - 30])["n_frames"] == 2
    noflag = bytearray(pc)
    noflag[20] &= ~0x02
    assert webp_frame_info(bytes(noflag)) is None
    assert webp_frame_info(p[:44]) is None      # VP8X+ANIM, no frames
    assert webp_frame_info(b"RIFF\x00\x00\x00\x00WEBPVP8L") is None
    assert webp_frame_info(b"") is None


def test_frame_sample_plan_covers_animated_webp(spark):
    """extract_media_features + frame_sample_plan over an animated WebP
    payload: the sample plan explodes the TRUE structural frame count
    for both animated formats."""
    import numpy as np

    from wine_label_ocr_spark.operators.multimodal import (
        encode_gif_animated, encode_webp_animated, extract_media_features,
        frame_sample_plan)

    f = np.full((2, 2, 3), (1, 2, 3), np.uint8)
    webp = encode_webp_animated([f] * 5, [50] * 5)
    idx = np.zeros((2, 2), np.uint8)
    gif = encode_gif_animated([(idx, 0, 0)] * 3, palette=[(1, 2, 3)])
    df = spark.createDataFrame(
        [("w", bytearray(webp), "webp"), ("g", bytearray(gif), "gif")],
        "url string, payload binary, media_type string")
    feats = extract_media_features(df, fake=False)
    nf = {r["url"]: r["n_frames"] for r in feats.collect()}
    assert nf == {"w": 5, "g": 3}
    plan = frame_sample_plan(feats, every_n=2)
    idx = {(r["url"], r["frame_idx"]) for r in plan.collect()}
    assert {i for u, i in idx if u == "w"} == {0, 2, 4}
    assert {i for u, i in idx if u == "g"} == {0, 2}


def test_jpeg_progressive_roundtrip_parity():
    """Progressive (SOF2) decode must be BYTE-IDENTICAL to the baseline
    decode of the same coefficients: both encoders share the DCT/quant
    front half, so decode(progressive(x)) == decode(baseline(x)) for
    every shape/subsampling/scan-script combination — spectral
    selection, successive approximation (DC/AC refinement), EOBRUN
    coding, and non-interleaved component grids all under test."""
    import numpy as np

    from wine_label_ocr_spark.operators.multimodal import (
        decode_jpeg, encode_jpeg, encode_jpeg_progressive)

    rng = np.random.default_rng(7)
    for (h, w, nc, sub) in [(8, 8, 1, (1, 1)), (16, 16, 3, (1, 1)),
                            (24, 17, 3, (2, 2)), (9, 13, 3, (1, 1)),
                            (8, 24, 1, (1, 1))]:
        shape = (h, w) if nc == 1 else (h, w, nc)
        arr = rng.integers(0, 256, shape).astype(np.uint8)
        base = decode_jpeg(encode_jpeg(arr, quality=100, subsampling=sub))
        prog = decode_jpeg(encode_jpeg_progressive(arr, quality=100,
                                                   subsampling=sub))
        assert prog is not None and (base == prog).all(), (h, w, nc, sub)
    # explicit scripts: spectral-only and a deep 3-level successive
    # approximation (multiple AC refinement passes per coefficient)
    arr = rng.integers(0, 256, (24, 24, 3)).astype(np.uint8)
    base = decode_jpeg(encode_jpeg(arr, quality=100))
    spectral = [([0, 1, 2], 0, 0, 0, 0), ([0], 1, 63, 0, 0),
                ([1], 1, 63, 0, 0), ([2], 1, 63, 0, 0)]
    deep = [([0, 1, 2], 0, 0, 0, 3), ([0], 1, 63, 0, 2),
            ([1], 1, 63, 0, 2), ([2], 1, 63, 0, 2),
            ([0, 1, 2], 0, 0, 3, 2), ([0], 1, 63, 2, 1),
            ([1], 1, 63, 2, 1), ([2], 1, 63, 2, 1),
            ([0, 1, 2], 0, 0, 2, 1), ([0, 1, 2], 0, 0, 1, 0),
            ([0], 1, 63, 1, 0), ([1], 1, 63, 1, 0), ([2], 1, 63, 1, 0)]
    for scans in (spectral, deep):
        prog = decode_jpeg(encode_jpeg_progressive(arr, quality=100,
                                                   scans=scans))
        assert prog is not None and (base == prog).all()
    # nontrivial quantizers (real EOBRUN/ZRL densities): still parity
    arr2 = rng.integers(0, 256, (40, 56, 3)).astype(np.uint8)
    b2 = decode_jpeg(encode_jpeg(arr2, quality=85, subsampling=(2, 2)))
    p2 = decode_jpeg(encode_jpeg_progressive(arr2, quality=85,
                                             subsampling=(2, 2)))
    assert p2 is not None and (b2 == p2).all()
    # sparse high-frequency impulses: long zero runs force ZRL paths
    # in both first and refinement passes
    arr3 = np.full((32, 32), 128, np.uint8)
    arr3[7, 31] = 255
    arr3[31, 7] = 0
    b3 = decode_jpeg(encode_jpeg(arr3, quality=50))
    p3 = decode_jpeg(encode_jpeg_progressive(arr3, quality=50))
    assert p3 is not None and (b3 == p3).all()


def test_jpeg_progressive_dhash_and_tolerance():
    """dHash invariance baseline↔progressive; hostile/truncated inputs
    fall back tolerantly (None → header features), never raise."""
    import numpy as np

    from wine_label_ocr_spark.operators.multimodal import (
        decode_jpeg, decode_raster, decode_stub, dhash64_raster,
        encode_jpeg, encode_jpeg_progressive)

    rng = np.random.default_rng(11)
    arr = rng.integers(0, 256, (48, 64, 3)).astype(np.uint8)
    base = encode_jpeg(arr, quality=100)
    prog = encode_jpeg_progressive(arr, quality=100)
    assert dhash64_raster(decode_raster(base)) == \
        dhash64_raster(decode_raster(prog))
    # decode_stub gets REAL pixel stats (not header fallback) from a
    # progressive payload now
    solid = np.full((16, 16, 3), 200, np.uint8)
    feat = decode_stub(encode_jpeg_progressive(solid, quality=100))
    assert round(feat["feature"][0] * 255) == 200
    # truncation mid-scan / garbage after SOF2 -> None, no exception
    assert decode_jpeg(prog[:len(prog) // 2]) is None or True
    for cut in (40, 80, len(prog) - 3):
        out = decode_jpeg(prog[:cut])
        assert out is None or out.shape == (48, 64, 3)
    # 12-bit precision SOF2 declines
    bad = bytearray(prog)
    sof_at = bad.find(b"\xff\xc2")
    bad[sof_at + 4] = 12
    assert decode_jpeg(bytes(bad)) is None


def test_webp_predictor_and_crosscolor_e2e():
    """Encoder-emitted predictor / cross-color / chained transforms
    all decode back to the source raster, for every one of the 14
    predictor modes and for multi-tile (4px) grids — the libwebp
    default output shape the r6 decoder declined (RFC 9649 §4.2.2)."""
    import numpy as np

    from wine_label_ocr_spark.operators.multimodal import (
        decode_webp, encode_webp_lossless)

    a = np.zeros((11, 13, 3), np.uint8)
    a[:, :] = (57, 201, 9)
    for mode in range(14):
        wp = encode_webp_lossless(a, predictor_mode=mode)
        out = decode_webp(wp)
        assert out is not None and (out == a).all(), f"mode {mode}"
    # hostile stream declaring reserved predictor mode 14: tolerant None
    # (hand-built — the encoder itself refuses to emit it)
    from wine_label_ocr_spark.operators.multimodal import (
        _VP8LBitWriter, _emit_uniform_subimage)
    bw = _VP8LBitWriter()
    bw.put(0x2F, 8)
    bw.put(1, 14)  # w=2
    bw.put(1, 14)  # h=2
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(1, 1)   # transform present
    bw.put(0, 2)   # type 0: predictor
    bw.put(0, 3)   # size_bits=2 -> one tile
    _emit_uniform_subimage(bw, (0, 0, 14, 0))
    bw.put(0, 1)   # no more transforms
    _emit_uniform_subimage(bw, (0, 0, 0, 0))  # cache bit + 5 codes, 0-bit px
    assert decode_webp(_vp8l_container(bw.bytes())) is None
    for cc in [(3, 250, 17), (0, 0, 0), (128, 255, 1)]:
        assert (decode_webp(encode_webp_lossless(a, cross_color=cc))
                == a).all()
        assert (decode_webp(encode_webp_lossless(
            a, predictor_mode=11, cross_color=cc)) == a).all()
    # multi-tile: transform_bits=2 -> 4px tiles, 3x3 grid on 10x10
    small = a[:10, :10]
    assert (decode_webp(encode_webp_lossless(
        small, predictor_mode=7, transform_bits=2)) == small).all()
    assert (decode_webp(encode_webp_lossless(
        small, predictor_mode=2, cross_color=(9, 8, 7),
        transform_bits=2)) == small).all()


def test_webp_transform_inverse_on_random_rasters():
    """The pure-Python inverse transforms undo the forward transforms
    on RANDOM pixel data for all 14 predictor modes (exercising the
    spec border rules: top-left predicts 0xff000000, top row L, left
    column T, rightmost column's TR wraps to the current row's first
    pixel) and for signed cross-color deltas. The simple-code encoder
    cannot emit these rasters; this pins the inverse algebra itself."""
    import random

    from wine_label_ocr_spark.operators.multimodal import (
        _forward_crosscolor, _forward_predictor,
        _vp8l_inverse_crosscolor, _vp8l_inverse_predictor)

    rng = random.Random(42)
    for mode in range(14):
        w, h = rng.randint(2, 9), rng.randint(2, 9)
        px = [(255, rng.randrange(256), rng.randrange(256),
               rng.randrange(256)) for _ in range(w * h)]
        res = _forward_predictor(px, w, h, mode)
        back = _vp8l_inverse_predictor(res, w, h, 9,
                                       [(0, 0, mode, 0)], 1)
        assert back == px, f"predictor mode {mode}"
    for cc in [(200, 19, 255), (1, 2, 3)]:
        px = [(255, rng.randrange(256), rng.randrange(256),
               rng.randrange(256)) for _ in range(35)]
        fwd = _forward_crosscolor(px, *cc)
        back = _vp8l_inverse_crosscolor(
            fwd, 7, 5, 9, [(0, cc[2], cc[1], cc[0])], 1)
        assert back == px, f"cross-color {cc}"


def test_webp_transform_dhash_invariance():
    """The SAME raster encoded plain / predictor / cross-color /
    chained yields one dHash — transform choice is invisible to
    perceptual dedup, matching the PNG/GIF/JPEG invariance pins."""
    import numpy as np

    from wine_label_ocr_spark.operators.multimodal import (
        decode_raster, dhash64_raster, encode_webp_lossless)

    # two-tone with bottom = 2 x top (mod 256): the predictor residual
    # at the tone boundary equals the top color, so the corner and
    # boundary residuals coincide and the simple-code encoder's
    # <=2-distinct-values-per-channel constraint holds post-transform
    a = np.zeros((16, 18, 3), np.uint8)
    a[:8] = (100, 60, 40)
    a[8:] = (200, 120, 80)
    variants = [
        encode_webp_lossless(a),
        encode_webp_lossless(a, predictor_mode=1),
        encode_webp_lossless(a, predictor_mode=2),
        encode_webp_lossless(a, cross_color=(77, 3, 211)),
        encode_webp_lossless(a, predictor_mode=2,
                             cross_color=(1, 128, 255)),
    ]
    hashes = {dhash64_raster(decode_raster(v)) for v in variants}
    assert len(hashes) == 1


def test_webp_animated_raster_compositing_matrix():
    """decode_webp_frames composites ANMF frames per the container
    spec: no-blend replaces the offset rect, dispose-to-background
    restores ONLY the frame's rect to the ANIM background color, and
    opaque alpha-blend equals replace. Sums are exact integers."""
    import numpy as np

    from wine_label_ocr_spark.operators.multimodal import (
        decode_webp_frames, encode_webp_animated, encode_webp_lossless,
        webp_frame_count)

    c0, c1, c2 = (10, 20, 30), (200, 100, 50), (7, 77, 177)
    f0 = np.zeros((16, 16, 3), np.uint8)
    f0[:, :] = c0
    p1 = np.zeros((8, 8, 3), np.uint8)
    p1[:, :] = c1
    p2 = np.zeros((8, 8, 3), np.uint8)
    p2[:, :] = c2

    # keep/no-blend: each patch replaces the previous at (4,4)
    wp = encode_webp_animated([f0, p1, p2], [100] * 3, canvas=(16, 16),
                              offsets=[(0, 0), (4, 4), (4, 4)],
                              flags=[0x02] * 3)
    fr = decode_webp_frames(wp)
    assert webp_frame_count(wp) == 3 and len(fr) == 3
    sums = [f.sum(axis=(0, 1)) for f in fr]
    assert (sums[0] == np.array(c0) * 256).all()
    assert (sums[1] == np.array(c0) * 192 + np.array(c1) * 64).all()
    assert (sums[2] == np.array(c0) * 192 + np.array(c2) * 64).all()

    # dispose-to-background: frame 1's rect restores to bg before
    # frame 2 draws over the SAME rect -> same sum as keep; but a
    # frame 2 at a DIFFERENT offset shows the bg-restored rect
    wp = encode_webp_animated([f0, p1, p2], [100] * 3, canvas=(16, 16),
                              offsets=[(0, 0), (4, 4), (8, 8)],
                              flags=[0x02, 0x03, 0x02],
                              bgcolor=(9, 11, 13, 255))
    fr = decode_webp_frames(wp)
    sums = [f.sum(axis=(0, 1)) for f in fr]
    assert (sums[1] == np.array(c0) * 192 + np.array(c1) * 64).all()
    # frame 1's disposed rect (4..11)^2 overlaps frame 2's (8..15)^2 by
    # 4x4: canvas = 144 px c0 + 48 px bg + 64 px c2
    assert (sums[2] == np.array(c0) * 144 + np.array((9, 11, 13)) * 48
            + np.array(c2) * 64).all()

    # opaque alpha-blend == replace
    wp = encode_webp_animated([f0, p1], [50, 50], canvas=(16, 16),
                              offsets=[(0, 0), (4, 4)], flags=[0x00, 0x00])
    fr = decode_webp_frames(wp)
    assert (fr[1].sum(axis=(0, 1))
            == np.array(c0) * 192 + np.array(c1) * 64).all()

    # tolerance: garbage, still image, truncated ANMF chain
    assert decode_webp_frames(b"garbage") is None
    assert decode_webp_frames(encode_webp_lossless(f0)) is None
    assert decode_webp_frames(wp[:len(wp) - 8]) is not None  # frames so far


def test_webp_frames_true_total_past_cap(spark):
    """webp_frames caps emitted rows at max_frames but still reports
    the TRUE structural ANMF count (the gif_frames no-silent-cap
    contract), so frame_sample_plan sees the real total."""
    import numpy as np

    from wine_label_ocr_spark.operators.multimodal import (
        encode_webp_animated, webp_frames)

    f = np.full((4, 4, 3), (5, 6, 7), np.uint8)
    wp = encode_webp_animated([f] * 7, [10] * 7)
    df = spark.createDataFrame([("u", bytearray(wp))],
                               "url string, payload binary")
    rows = webp_frames(df, max_frames=3).collect()
    assert len(rows) == 3
    assert all(r["n_frames"] == 7 for r in rows)
    assert all(r["decode_ok"] for r in rows)
    bad = webp_frames(spark.createDataFrame(
        [("b", bytearray(b"nope"))], "url string, payload binary")).collect()
    assert len(bad) == 1 and bad[0]["decode_ok"] is False


def test_webp_meta_prefix_codes():
    """Hand-built VP8L stream with META PREFIX CODES: an 8x1 image,
    tile size 4 (meta_bits=2), whose subresolution entropy image maps
    tile 0 -> prefix group 0 and tile 1 -> group 1; each group's
    1-symbol codes pin a different color, so a correct per-tile group
    SELECTION is the only way to produce the expected raster."""
    import numpy as np

    from wine_label_ocr_spark.operators.multimodal import (
        _VP8LBitWriter, decode_webp)

    bw = _VP8LBitWriter()
    bw.put(0x2F, 8)
    bw.put(7, 14)   # w=8
    bw.put(0, 14)   # h=1
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(0, 1)    # no transforms
    bw.put(0, 1)    # no color cache
    bw.put(1, 1)    # META prefix codes present
    bw.put(0, 3)    # meta_bits = 2 -> tile width 4 -> 2 tiles
    # --- subresolution entropy image (2x1 tiles, no cache) ---
    bw.put(0, 1)    # no cache
    bw.put(1, 1)    # green: simple code
    bw.put(1, 1)    #   two symbols
    bw.put(1, 1)    #   first symbol in 8 bits
    bw.put(0, 8)    #   symbol 0 (group 0)
    bw.put(1, 8)    #   symbol 1 (group 1)
    for v in (0, 0, 0, 0):   # red, blue, alpha, dist: 1-symbol codes
        bw.put(1, 1)
        bw.put(0, 1)
        bw.put(1, 1)
        bw.put(v, 8)
    bw.put(0, 1)    # tile 0 green bit -> 0 -> meta code 0
    bw.put(1, 1)    # tile 1 green bit -> 1 -> meta code 1
    # --- prefix group 0: color (r,g,b) = (20, 10, 30) ---
    for v in (10, 20, 30, 255, 0):
        bw.put(1, 1)
        bw.put(0, 1)
        bw.put(1, 1)
        bw.put(v, 8)
    # --- prefix group 1: color (120, 110, 130) ---
    for v in (110, 120, 130, 255, 0):
        bw.put(1, 1)
        bw.put(0, 1)
        bw.put(1, 1)
        bw.put(v, 8)
    # pixels: every symbol is the sole member of its code -> 0 bits
    out = decode_webp(_vp8l_container(bw.bytes()))
    assert out is not None and out.shape == (1, 8, 3)
    expect = np.array([[(20, 10, 30)] * 4 + [(120, 110, 130)] * 4],
                      np.uint8)
    assert (out == expect).all()


# ---------------------------------------------------------------------------
# DuckDB gates of the dedup sketches: the md5 flavor of the production
# kernels must hash-match each gate's oracle SQL (tools/check_oracle.py)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("name", [
    "minhash_lsh", "near_dup_components", "simhash_fingerprints",
    "simhash_pairs", "incremental_dedup", "curation_funnel",
    "decontamination", "duplicate_passages", "embedding_near_dup"])
def test_dedup_gate_matches_oracle(oracle_gate, name):
    sdf = oracle_gate(name)
    if name in ("minhash_lsh", "simhash_fingerprints"):
        # the gated md5 flavor runs the production Arrow kernel
        plan = sdf._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan, plan
