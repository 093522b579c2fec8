"""Deduplication operators for web-scale corpora.

The reference dedups via exact keys then fuzzy similarity
(``scan_and_store.py:121-164``); at 10^12 documents that generalizes to:

* **exact** — hash-groupBy on canonicalized content (one shuffle on the
  content hash; map-side partial aggregation applies);
* **MinHash + LSH** — shingle → minhash signature → band → bucket:
  the only pairs ever scored are bucket collisions, never O(n²);
* **SimHash** — 64-bit sign-aggregated token hashes, near-dup via
  hamming distance within disjoint bit-band buckets;
* **n-gram Jaccard** — exact verification on candidate pairs;
* **embedding cosine** — see ``operators.ann`` (near-dup via vector space).

Exact keys, winnowing, exact-substring spans and the bucket pairing are
native ``F.*`` column algebra. The two sketches with per-token work —
MinHash LSH bands and SimHash — are vectorized Arrow batch kernels
(``pandas_udf``), one kernel per sketch. Hash functions come in two
flavors, selected by ``oracle_safe``: ``xxhash64`` (fast path,
Spark-only) and md5-derived bigints (bit-identical in DuckDB); the
kernels take the flavor as an argument, so the DuckDB gates certify the
same kernel body the production flavor runs.

Scale notes: signatures never leave the kernel — a doc comes out as
n_bands 32-hex-char band hashes; the LSH explode multiplies rows by
n_bands (8-16), all of it shuffled once on (band_idx, band_hash). Every
banded operator (MinHash, SimHash, winnowed passages, ``ann``'s embedding
LSH, ``multimodal``'s dHash) turns bucket collisions into id pairs with
one builder, ``_bucket_pairs``: one aggregation per bucket key, no join.
Hot buckets (boilerplate dups) are bounded by ``max_bucket`` to keep the
pair count from exploding on skew — the explicit skew handling the north
rule asks for.

Both sketch kernels and the Jaccard verify are linear in document
length. The kernels never build a Python string per token or shingle:
a batch is one UTF-8 buffer and each gram is a byte span of it
(``_gram_spans``), hashed in place. The verify binds each side's token
and shingle arrays with ``functions.let``, so a text is split once per
Jaccard evaluation: a column referenced inside a per-position
``transform`` lambda is evaluated again for every position.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F
from pyspark.sql.functions import pandas_udf

from ..functions import let
from .textops import tokens_col


def _hash64(col: Column, seed: int, oracle_safe: bool) -> Column:
    if oracle_safe:
        # first 15 hex chars of md5 → bigint (reproducible in DuckDB)
        return F.conv(F.substring(F.md5(F.concat(col, F.lit(f"#{seed}"))), 1, 15),
                      16, 10).cast("bigint")
    return F.xxhash64(col, F.lit(seed))


def _hash64_batch(buf: bytes, starts, lens, oracle_safe: bool):
    """Batch twin of ``_hash64`` over the strings whose UTF-8 bytes are
    the spans ``buf[starts[i]:starts[i] + lens[i]]``: returns
    ``seed -> int64[len(lens)]``, the bits ``_hash64`` gives each string.

    xxhash64 flavor: one vectorized span pass (seed 42), each seed then
    chained through hashInt in place (``xxh64_int_chain``: the returned
    array is overwritten by the next call). md5 flavor: each span is
    hashed once and a copy is extended with ``#<seed>``; the first 15 hex
    digits of the digest are its top 60 bits.
    """
    import numpy as np

    if oracle_safe:
        from hashlib import md5

        mv = memoryview(buf)
        prefixes = [md5(mv[a:a + n])
                    for a, n in zip(starts.tolist(), lens.tolist())]

        def at(seed: int):
            suffix = f"#{seed}".encode()
            digests = []
            for p in prefixes:
                h = p.copy()
                h.update(suffix)
                digests.append(h.digest())
            top = np.frombuffer(b"".join(digests), dtype=">u8")[::2]
            return (top >> np.uint64(4)).astype(np.int64)

        return at

    from ..functions.xxh64 import xxh64_int_chain, xxh64_spans

    at = xxh64_int_chain(xxh64_spans(buf, starts, lens))
    return lambda seed: at(seed).view(np.int64)


def _gram_spans(texts, k: int):
    """Word k-grams of a batch of texts as byte spans of ONE UTF-8 buffer.

    Each non-NULL text is encoded, its tokens are re-joined by single
    spaces, and the texts are joined by spaces into ``buf``. Tokens come
    from ``bytes.split()``, which splits on exactly Java's ``\\s``
    (``[ \\t\\n\\x0b\\f\\r]``, ASCII only): UTF-8 encodes every other code
    point, U+00A0 and U+3000 included, in bytes ≥ 0x80, so those stay
    inside tokens. Token ends are the buffer's space positions, and a
    k-gram is the span from token i's start to token i+k-1's end —
    exactly the bytes of ``" ".join(toks[i:i + k])``. A text of fewer
    than k tokens has one gram, its whole join (the empty span for a
    text with no token).

    Returns ``(buf, starts, lens, offs, n_tok, nulls)``: the grams of the
    j-th non-NULL text are spans ``offs[j]`` up to ``offs[j + 1]`` (each
    text has at least one), ``n_tok`` counts its tokens and ``nulls``
    marks the NULL rows of ``texts``.
    """
    import numpy as np

    nulls = np.fromiter((t is None for t in texts), dtype=bool,
                        count=len(texts))
    docs = [b" ".join(t.encode().split()) for t in texts if t is not None]
    buf = b" ".join(docs)
    dlen = np.fromiter(map(len, docs), dtype=np.int64, count=len(docs))
    dstart = np.cumsum(dlen + 1) - (dlen + 1)
    dend = dstart + dlen
    sp = np.flatnonzero(np.frombuffer(buf, dtype=np.uint8) == 32)
    t_start = np.concatenate(([0], sp + 1))
    t_end = np.concatenate((sp, [len(buf)]))
    tok = t_end > t_start           # an empty doc leaves an empty run
    t_start, t_end = t_start[tok], t_end[tok]
    t_off = np.searchsorted(t_start, dstart)
    n_tok = np.searchsorted(t_start, dend) - t_off
    n_gram = np.maximum(n_tok - (k - 1), 1)
    offs = np.cumsum(n_gram) - n_gram
    doc = np.repeat(np.arange(len(docs)), n_gram)
    starts, ends = dstart[doc], dend[doc]   # short texts: the whole join
    full = n_tok[doc] >= k
    first = (t_off[doc] + np.arange(len(doc)) - offs[doc])[full]
    starts[full] = t_start[first]
    ends[full] = t_end[first + (k - 1)]
    return buf, starts, ends - starts, offs, n_tok, nulls


def content_key(text: Column) -> Column:
    """Exact-dedup key: md5 of whitespace-canonicalized text.

    Stays an expression DELIBERATELY (r10): an Arrow kernel twin
    (hashlib md5 + the Java-``\\s`` regex) was built, pinned
    value-identical, and MEASURED SLOWER — 1.13 s → 1.47 s at sf1.0 —
    because shipping the full text column across the Python boundary
    costs more than the JVM ``regexp_replace`` it saves (the key is the
    only consumer of ``text`` here, so unlike the fingerprint/band
    kernels there is no amortizing batch of per-token work)."""
    return F.md5(F.trim(F.regexp_replace(text, r"\s+", " ")))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one row per content key (deterministic: min id wins).

    One shuffle on the 128-bit content hash; ``min_by`` carries the whole
    winning row through the aggregation, so the former shape — aggregate
    the keys, then a second scan + semi join back — collapses to a single
    scan with map-side partial aggregation (guide §2.4: one Exchange, no
    join). NULL keys (NULL text) and NULL ``id_col`` rows can never
    survive the old null-rejecting semi join, so they are filtered here —
    identical output, pinned by tests/test_r10_optimizations.py.
    """
    key = content_key(F.col(text_col)).alias("_ck")
    w = df.select("*", key).filter(F.col("_ck").isNotNull())
    winner = (w.groupBy("_ck")
              .agg(F.min_by(F.struct(*df.columns), F.col(id_col)).alias("_row"))
              .select("_row.*"))
    return winner.filter(F.col(id_col).isNotNull())


def exact_dedup_ids(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Surviving ids only — ``exact_dedup(df).select(id_col)`` without
    carrying the payload: the shuffle holds (content_key, partial-min id)
    pairs instead of whole rows (guide §2.3 "shuffle keys instead of
    payloads"). Same id set by construction (min id per non-null key;
    NULL keys/ids never survive either form)."""
    key = content_key(F.col(text_col)).alias("_ck")
    return (df.select(F.col(id_col), key)
            .filter(F.col("_ck").isNotNull() & F.col(id_col).isNotNull())
            .groupBy("_ck").agg(F.min(id_col).alias(id_col))
            .select(id_col))


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-grams (array<string>); fewer than k tokens give
    one gram, their whole join.

    The token array is bound once with ``let``: a column referenced
    inside the per-position ``transform`` lambda is evaluated again for
    every position, which would split the text once per shingle
    (quadratic in document length).
    """
    def grams(toks: Column) -> Column:
        n = F.size(toks)
        return F.when(n >= k, F.array_distinct(F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ))).otherwise(F.array(F.array_join(toks, " ")))

    return let(tokens_col(text), grams)


_LONG_MAX = 9223372036854775807


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    """Exact n-gram Jaccard on distinct shingle arrays. Both arrays are
    bound with ``let``, so each is computed once per evaluation, not once
    for the intersection and again for the union."""
    return let(sh_a, lambda a: let(sh_b, lambda b: F.size(
        F.array_intersect(a, b)) / F.greatest(
            F.size(F.array_union(a, b)), F.lit(1))))


def _minhash_bands_kernel(k: int, n_perm: int, n_bands: int,
                          oracle_safe: bool):
    """Batch kernel: text → LSH band-hash array, in the ``_hash64``
    flavor ``oracle_safe`` selects.

    Java-``\\s`` tokens, k-gram shingles ("<k tokens → one whole-join
    shingle"; duplicates need no dedup — ``min`` is idempotent), the
    per-permutation signed min of ``_hash64(shingle, p)``, then per band
    ``md5(",".join(signed signature slice))`` — the construction the
    DuckDB twins of ``minhash_lsh`` / ``incremental_dedup`` spell out.
    Shingles are never Python strings: ``_gram_spans`` gives their byte
    spans in one UTF-8 buffer and ``_hash64_batch`` hashes the spans.

    NULL text has the one-shingle array ``[NULL]``: ``xxhash64`` skips the
    null input, leaving ``hashInt(p, 42)`` per permutation, while the md5
    hash is NULL and ``least()`` skips it, leaving ``LONG_MAX``.

    Memory: the signature is one per-permutation ``np.minimum.reduceat``
    over the flat shingle hashes — never a ``[shingles × n_perm]`` matrix;
    the spans cost two int64 per shingle.
    """
    from hashlib import md5

    import numpy as np

    from ..functions.xxh64 import _SPARK_SEED, xxh64_int

    rpb = n_perm // n_bands
    null_sig = (np.full(n_perm, _LONG_MAX, dtype=np.int64) if oracle_safe
                else xxh64_int(np.arange(n_perm), _SPARK_SEED).view(np.int64))

    def kernel(texts):
        import pandas as pd

        buf, starts, lens, offs, _, nulls = _gram_spans(texts, k)
        sigs = np.empty((len(texts), n_perm), dtype=np.int64)
        if len(offs):
            # every non-null doc has ≥ 1 shingle (empty text → [""]), so
            # its segment of the flat hashes is never empty — reduceat is
            # safe on the segment offsets
            hash_at = _hash64_batch(buf, starts, lens, oracle_safe)
            valid = ~nulls
            for p in range(n_perm):
                sigs[valid, p] = np.minimum.reduceat(hash_at(p), offs)
        sigs[nulls] = null_sig
        return pd.Series([
            [md5(",".join(map(str, row[b * rpb:(b + 1) * rpb])).encode())
             .hexdigest() for b in range(n_bands)]
            for row in sigs.tolist()])

    return kernel


def _minhash_bands(text: Column, k: int, n_perm: int, n_bands: int,
                   oracle_safe: bool) -> Column:
    """array<string> of the ``n_bands`` LSH band hashes of ``text`` (band
    i at index i), evaluated once per row by ``_minhash_bands_kernel``.

    asNondeterministic: a filter on the result (posexplode's implicit
    ``size(..) > 0``) otherwise gets pushed below a repartition and the
    optimizer DUPLICATES the kernel — two ArrowEvalPython nodes, every
    doc hashed twice (guide §4.4; seen in plans/r10/minhash_lsh). The
    kernel is pure; the flag only pins its single evaluation point.
    """
    return pandas_udf(_minhash_bands_kernel(k, n_perm, n_bands, oracle_safe),
                      "array<string>").asNondeterministic()(text)


def _bucket_pairs(buck: DataFrame, keys: list[str], max_bucket: int,
                  carry: str | None = None) -> DataFrame:
    """Candidate pairs of the rows of ``buck`` (``_id``, the ``keys``
    columns and an optional ``carry`` column) that share a bucket — the
    pair generator of every banded near-dup operator.

    One aggregation per bucket: rows with a NULL id or key never pair
    (an equi-join never matches them) and are dropped first; a bucket
    keeps its rows sorted by id and its ``count(1)``, and buckets outside
    ``2 <= count <= max_bucket`` are dropped (the hot-bucket skew guard:
    a bucket of m rows costs m²/2 pairs). Every pair of positions i < j
    with ``id_a < id_b`` is emitted, so there is no self-pair and a pair
    sharing k buckets gives k rows, the multiplicity of the bucket
    self-join on ``a._id < b._id`` this replaces — one exchange on the
    keys, no window and no join.

    Returns ``(id_a, id_b[, <carry>_a, <carry>_b])``.
    """
    fields = ["_id"] + ([carry] if carry else [])
    rows = F.array_sort(F.collect_list(F.struct(*fields))).alias("_rows")
    for c in ("_id", *keys):
        buck = buck.filter(F.col(c).isNotNull())
    grouped = (buck.groupBy(*keys)
               .agg(rows, F.count(F.lit(1)).alias("_n"))
               .filter((F.col("_n") >= 2) & (F.col("_n") <= max_bucket)))

    def pair(x: Column, y: Column) -> Column:
        out = [x["_id"].alias("id_a"), y["_id"].alias("id_b")]
        if carry:
            out += [x[carry].alias(f"{carry}_a"), y[carry].alias(f"{carry}_b")]
        return F.struct(*out)

    r = F.col("_rows")
    pairs = F.flatten(F.transform(r, lambda x, i: F.transform(
        F.filter(F.slice(r, i + 2, F.size(r) - (i + 1)),
                 lambda y: y["_id"] > x["_id"]),
        lambda y: pair(x, y))))
    return grouped.select(F.inline(pairs))


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 3,
                      n_perm: int = 32, n_bands: int = 8,
                      min_jaccard: float = 0.6,
                      oracle_safe: bool = False,
                      max_bucket: int = 200) -> DataFrame:
    """Near-dup candidate pairs via MinHash LSH, verified by exact Jaccard.

    Plan shape: band hashes (one Arrow kernel, pure map) → explode bands
    (×n_bands) → ``_bucket_pairs`` on (band, band_hash) → distinct pairs
    → exact Jaccard verify on the shingle arrays.
    """
    # Bands carry ONLY (id, band, band_hash) through the shuffle — the wide
    # shingle arrays stay out of the explode/join entirely (a ~n_bands×
    # shuffle-volume cut). Shingle → signature → band hashes is ONE
    # vectorized Arrow kernel: the interpreted higher-order lambda chain
    # it replaced (slice/join per shingle position × n_perm hashes per
    # shingle) measured ~2 ms/doc at sf1.0, the kernel ~50 µs/doc. Both
    # flavors are pinned bit-identical to that column form by
    # tests/test_r10_optimizations.py::test_minhash_kernel_bands.
    # NULL text never pairs: every NULL text gets the same signature,
    # so banding it would pair all NULL-text docs at Jaccard 1.0
    buck = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        _minhash_bands(F.col(text_col), k, n_perm, n_bands,
                       oracle_safe).alias("_bh"),
    ).select("_id", F.posexplode("_bh").alias("band", "band_hash"))
    pairs = (_bucket_pairs(buck, ["band", "band_hash"], max_bucket)
             .dropDuplicates(["id_a", "id_b"]))
    # Verify: re-derive shingles ONLY for rows that appear in a candidate
    # pair. Joining back on the text column (broadcast-small pairs side)
    # beats joining the precomputed `base` twice — that shape recomputed
    # and shuffled the full corpus's shingle arrays 2× (measured ~40% of
    # the operator at sf0.1); pairs ≪ corpus is the LSH invariant.
    # The broadcast hints pin the PAIR-sized side as the build side: the
    # planner's static estimate for the aggregate output is unknown, so
    # it was broadcasting the CORPUS text table instead (guide §3.1 —
    # estimates after aggregates are badly wrong) — wrong at any scale
    # and measured 3× slower at sf1.0 from per-run corpus broadcasts.
    # The Jaccard comes out of a one-element explode so that the
    # threshold filter sits above a Generate: a filter on a projected
    # column would be pushed into the join condition, which evaluates the
    # Jaccard a second time for every pair that passes. The one
    # evaluation splits each text once
    # (tests/test_plans.py::test_minhash_verify_splits_each_text_once).
    txt_a = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta"))
    txt_b = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb"))
    half = txt_a.join(F.broadcast(pairs), "id_a")  # ≤ |pairs| rows out
    jac = F.round(jaccard(shingles(F.col("_ta"), k),
                          shingles(F.col("_tb"), k)), 6)
    return (txt_b.join(F.broadcast(half), "id_b")
            .select("id_a", "id_b", F.explode(F.array(jac)).alias("jaccard"))
            .filter(F.col("jaccard") >= min_jaccard))


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iters: int = 50) -> DataFrame:
    """Near-dup pairs → components via min-label propagation.

    The step a real dedup pipeline needs after pair generation: group
    transitively-linked documents so exactly one survivor per CLUSTER can
    be kept (pairwise keep-one under-deletes chains A~B~C). Iterative: each
    round every node takes the min label among itself and its neighbors;
    converges in O(graph diameter) rounds. Per-round ``localCheckpoint``
    truncates lineage (an un-checkpointed loop re-executes the whole
    history each round and the plan grows without bound); the driver-side
    loop is over ROUNDS (a dozen), never over rows.

    Returns (doc_id, component) for every id appearing in ``pairs``;
    component = min doc_id of the cluster.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates(["src", "dst"]).localCheckpoint(eager=True)
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("label", F.col("id")))
    changed = 0
    # max_iters productive rounds + 1 extra verification round: a graph
    # whose propagation needs exactly max_iters rounds is CONVERGED after
    # them, but detecting that takes one more (changed == 0) pass.
    for _ in range(max_iters + 1):
        neigh = (edges.join(labels, edges.dst == labels.id)
                 .groupBy("src").agg(F.min("label").alias("nlabel")))
        stepped = (labels.join(neigh, labels.id == neigh.src, "left")
                   .select(labels.id,
                           F.col("label").alias("_old"),
                           F.least(F.col("label"),
                                   F.coalesce("nlabel", F.col("label")))
                           .alias("label")))
        stepped = stepped.localCheckpoint(eager=True)
        changed = stepped.filter(F.col("label") != F.col("_old")).count()
        labels = stepped.drop("_old")
        if changed == 0:
            break
    if changed != 0:
        # a chain longer than max_iters hops would return silently SPLIT
        # components and dedup_keep_one would then under-delete — fail loud.
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            f"({changed} labels still changing); raise max_iters — rounds "
            "needed is O(graph diameter)")
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("component"))


def drop_common_paragraphs(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", min_docs: int = 2,
                           sep: str = "\n") -> DataFrame:
    """CCNet-style paragraph-level boilerplate removal: a paragraph whose
    (trimmed) text appears in ≥ ``min_docs`` DISTINCT documents is
    boilerplate (cookie banners, nav footers, "subscribe" blocks) and is
    stripped from every document; each document is rebuilt from its kept
    paragraphs in original order.

    Plan: posexplode(split) → md5 paragraph key → distinct-doc count per
    key (one shuffle, map-side partials) → the boilerplate KEY set is the
    ≥min_docs tail, which is small by construction (it's the frequent
    head of the distribution) → broadcast anti join → regroup by doc
    (second shuffle). Returns every input doc: (id, clean_text,
    n_paragraphs_kept) — a fully-boilerplate doc comes back with empty
    text and 0 kept, so downstream length filters drop it explicitly.
    """
    import re as _re
    paras = df.select(
        F.col(id_col).alias("_id"),
        # sep is a LITERAL separator — escape it, F.split takes a regex
        F.posexplode(F.split(F.col(text_col), _re.escape(sep)))
        .alias("_pos", "_p"))
    paras = (paras.withColumn("_p", F.trim("_p"))
             .filter(F.col("_p") != ""))
    keyed = paras.withColumn("_k", F.md5(F.col("_p")))
    boiler = (keyed.groupBy("_k")
              .agg(F.count_distinct("_id").alias("_nd"))
              .filter(F.col("_nd") >= min_docs)
              .select("_k"))
    kept = keyed.join(F.broadcast(boiler), "_k", "left_anti")
    rebuilt = (kept.groupBy("_id")
               .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("_pos", "_p"))),
                            lambda s: s["_p"]),
                        sep).alias("clean_text"),
                    F.count(F.lit(1)).alias("n_paragraphs_kept")))
    base = df.select(F.col(id_col).alias("_id"))
    return (base.join(rebuilt, "_id", "left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    F.coalesce("n_paragraphs_kept", F.lit(0))
                    .cast("bigint").alias("n_paragraphs_kept")))


def flag_contaminated(df: DataFrame, benchmark: DataFrame, n: int = 8,
                      id_col: str = "doc_id", text_col: str = "text",
                      b_text: str = "text") -> DataFrame:
    """Benchmark decontamination (GPT-3/Lee-style n-gram overlap): flag
    every document sharing at least one word n-gram with the benchmark
    set, reporting the count of distinct shared n-grams.

    Plan: benchmark → distinct n-grams (tiny by definition — eval sets
    are ≪ corpus — so it BROADCASTS; the corpus side is a pure map +
    explode, never shuffled against itself); per-doc hit counts come from
    one groupBy on doc id. At 10^12 docs this is the only shape that
    works: the corpus is touched once and nothing corpus-sized shuffles.
    """
    bgrams = (benchmark.select(F.explode(shingles(F.col(b_text), n)).alias("_g"))
              .distinct())
    dgrams = df.select(F.col(id_col).alias("_id"),
                       F.explode(shingles(F.col(text_col), n)).alias("_g"))
    # shingles() yields DISTINCT grams per doc, so join rows = distinct
    # shared grams; count(*) after the join is the overlap cardinality.
    hits = (dgrams.join(F.broadcast(bgrams), "_g")
            .groupBy("_id").agg(F.count(F.lit(1)).alias("_nh")))
    return (df.select(F.col(id_col).alias("_id"))
            .join(hits, "_id", "left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce("_nh", F.lit(0)).cast("bigint")
                    .alias("contaminated_ngrams"),
                    (F.coalesce("_nh", F.lit(0)) > 0).alias("contaminated")))


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 5,
                        window: int = 4,
                        oracle_safe: bool = False) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every token k-gram, slide a
    window of ``window`` consecutive hashes, select the minimum of each
    window (RIGHTMOST on ties). Guarantee: any duplicated token run of
    length ≥ window + k − 1 produces at least one IDENTICAL selected
    fingerprint in both copies regardless of phase — the content-defined
    anchoring that fixed-stride chunk hashing lacks.

    Pure map (zero shuffle): grams, windows, and the per-window argmin
    are all column algebra; cost O(n·window) per doc. Returns one row per
    selected (doc, pos, fp) — per-doc duplicates removed in the array
    (overlapping windows reselect the same gram), no shuffle needed.
    """
    toks = tokens_col(F.col(text_col))

    def fps_of(t: Column) -> Column:
        n = F.size(t)
        # beware: F.sequence(1, g) with g <= 0 DESCENDS (default step -1),
        # so gram construction must be gated on n >= k first; docs shorter
        # than k tokens contribute one whole-text gram (shingles semantics)
        grams = F.when(n >= k, F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: _hash64(F.array_join(F.slice(t, i, k), " "),
                              0, oracle_safe))) \
            .otherwise(F.when(n >= 1, F.array(
                _hash64(F.array_join(t, " "), 0, oracle_safe)))
                .otherwise(F.array().cast("array<bigint>")))

        def rightmost_min(h: Column, j: Column, width: Column) -> Column:
            # min over struct(hash, -pos) = rightmost minimum of the window
            return let(
                F.array_min(F.transform(
                    F.sequence(j, j + width - 1),
                    lambda p: F.struct(F.get(h, p - 1).alias("fp"),
                                       (-p).alias("negpos")))),
                lambda m: F.struct(m["fp"].alias("fp"),
                                   (-m["negpos"]).alias("pos")))

        def sel_of(h: Column) -> Column:
            g = F.size(h)
            return F.when(g >= window, F.transform(
                F.sequence(F.lit(1), g - F.lit(window - 1)),
                lambda j: rightmost_min(h, j, F.lit(window)))) \
                .otherwise(F.when(g >= 1, F.array(
                    rightmost_min(h, F.lit(1), g)))
                    .otherwise(F.array().cast(
                        "array<struct<fp:bigint,pos:int>>")))

        return let(grams, sel_of)

    sel = df.select(F.col(id_col).alias(id_col),
                    F.explode(F.array_distinct(let(toks, fps_of))).alias("_s"))
    return sel.select(id_col, F.col("_s.pos").alias("pos"),
                      F.col("_s.fp").alias("fp"))


def duplicate_passages(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 5, window: int = 4,
                       min_shared: int = 2, max_bucket: int = 200,
                       oracle_safe: bool = False) -> DataFrame:
    """Passage-level near-dup pairs: documents sharing ≥ ``min_shared``
    winnowing fingerprints — catches COPIED SPANS inside otherwise
    different documents (syndicated paragraphs, quoted chunks), which
    whole-document MinHash misses when the rest of the text diverges.

    Fingerprint buckets go through ``_bucket_pairs`` (one shuffle on fp,
    with the standard ``max_bucket`` hot-fingerprint guard — a
    boilerplate fp shared by m docs would cost m²); a pair's row count is
    its shared-fp count.
    """
    fps = winnow_fingerprints(df, id_col, text_col, k, window, oracle_safe) \
        .select(F.col(id_col).alias("_id"), "fp").distinct()
    return (_bucket_pairs(fps, ["fp"], max_bucket)
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared_fps"))
            .filter(F.col("shared_fps") >= min_shared))


def dedup_keep_one(df: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Cluster-aware dedup: keep the min-id document of every near-dup
    component, plus every document in no component at all."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("doc_id") != F.col("component")) \
                 .select(F.col("doc_id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def exact_substring_spans(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", min_tokens: int = 50,
                          oracle_safe: bool = False) -> DataFrame:
    """Exact-substring duplicate detection (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" shape, in
    token space): every run of >= ``min_tokens`` whitespace tokens that
    occurs at two or more positions corpus-wide is reported as a merged
    per-document span ``(doc_id, start, end)`` (token indices, 1-based,
    end exclusive). Runs that start mid-token are caught at the next
    token boundary — the documented approximation of byte-level suffix
    arrays, which Lee et al. themselves apply in (BPE) token space.

    Scale shape — no suffix array, no global sort:

    1. seed grams: each doc emits (pos, hash(T-token window)) for every
       window — a pure map; the shuffle key is the 64-bit hash, never
       the gram text (~8 bytes/position instead of ~6·T);
    2. duplicated-hash candidates: one narrow groupBy(hash) with
       map-side partial counts, keep count >= 2;
    3. verify: the gram TEXT is re-derived only for candidate positions
       (duplicated text is a small fraction of a crawl), collected per
       document so that each text is split once, and grouped by the full
       gram — 64-bit collisions cannot produce false spans, so the result
       is exact at any corpus size;
    4. per-doc interval merge of surviving seed windows [pos, pos+T) —
       an in-row fold after one doc-keyed regroup of bare positions.

    Feed the spans to ``remove_duplicate_spans`` to cut them out.
    """
    T = int(min_tokens)
    base = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))

    def gram_at(t: Column, i: Column) -> Column:
        return F.array_join(F.slice(t, i, T), " ")

    # each text is split once (``let``): a column referenced inside a
    # per-position lambda is evaluated again for every position
    def seed_hashes(toks: Column) -> Column:
        nt = F.size(toks)
        return F.transform(
            F.when(nt >= T, F.sequence(F.lit(1), nt - F.lit(T - 1)))
            .otherwise(F.array().cast("array<int>")),
            lambda i: F.struct(i.alias("pos"), _hash64(
                gram_at(toks, i), 0, oracle_safe).alias("ghash")))

    pos_df = (base.select(
        "_id", F.explode(let(tokens_col(F.col("_t")), seed_hashes)).alias("_g"))
        .select("_id", "_g.pos", "_g.ghash"))
    cand_hashes = (pos_df.groupBy("ghash").agg(F.count(F.lit(1)).alias("c"))
                   .filter(F.col("c") >= 2).select("ghash"))
    cand = (pos_df.join(cand_hashes, "ghash", "left_semi")
            .groupBy("_id").agg(F.collect_list("pos").alias("_ps")))
    cand_txt = (cand.join(base, "_id")
                .select("_id", F.explode(let(
                    tokens_col(F.col("_t")),
                    lambda toks: F.transform(F.col("_ps"), lambda p: F.struct(
                        p.alias("pos"), gram_at(toks, p).alias("gram"))))
                ).alias("_g"))
                .select("_id", "_g.pos", "_g.gram"))
    seeds = (cand_txt.withColumn(
                "_c2", F.count(F.lit(1)).over(W.partitionBy("gram")))
             .filter(F.col("_c2") >= 2).select("_id", "pos"))

    def merge(ps: Column) -> Column:
        empty = F.array().cast("array<struct<start:int,end:int>>")
        return F.aggregate(
            ps, empty,
            lambda acc, p: F.when(
                (F.size(acc) > 0) & (p <= F.element_at(acc, -1)["end"]),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.struct(
                        F.element_at(acc, -1)["start"].alias("start"),
                        F.greatest(F.element_at(acc, -1)["end"],
                                   p + T).cast("int").alias("end"))))
            ).otherwise(F.concat(acc, F.array(F.struct(
                p.cast("int").alias("start"),
                (p + T).cast("int").alias("end"))))))

    return (seeds.groupBy("_id")
            .agg(F.array_sort(F.collect_list("pos")).alias("_ps"))
            .select(F.col("_id").alias(id_col),
                    F.explode(merge(F.col("_ps"))).alias("_s"))
            .select(id_col, F.col("_s.start").alias("start"),
                    F.col("_s.end").alias("end")))


def remove_duplicate_spans(df: DataFrame, spans: DataFrame,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Cut the spans reported by ``exact_substring_spans`` out of each
    document: tokens whose (1-based) index falls inside any span are
    dropped, the rest are rejoined by single spaces. Documents with no
    span pass through with whitespace-normalized text (same token
    sequence). One doc-keyed join; the cut itself is in-row."""
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("start", "end")).alias("_spans"))
    joined = df.join(sp, id_col, "left")
    toks = tokens_col(F.col(text_col))
    kept = F.filter(
        F.zip_with(toks, F.sequence(F.lit(1), F.size(toks)),
                   lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda e: ~F.coalesce(
            F.exists(F.col("_spans"),
                     lambda s: (e["i"] >= s["start"]) & (e["i"] < s["end"])),
            F.lit(False)))
    out_text = F.when(F.size(toks) > 0,
                      F.array_join(F.transform(kept, lambda e: e["t"]), " ")) \
                .otherwise(F.col(text_col))
    return joined.withColumn(text_col, out_text).drop("_spans")


def snapshot_fingerprints(df: DataFrame, text_col: str = "text",
                          k: int = 3, n_perm: int = 32, n_bands: int = 8,
                          oracle_safe: bool = False) -> DataFrame:
    """Fingerprint store for crawl-over-crawl dedup: ``(kind, fp)`` rows
    where kind ``'exact'`` carries the content key and ``'band:<i>'`` the
    MinHash LSH band hash of band i.

    The store is intentionally ID-FREE — membership of a fingerprint is
    all the next crawl ever asks; carrying doc ids would only bloat it.
    Written once per snapshot (a few dozen bytes per doc — NOT the text:
    by the time the next crawl lands, the prior crawl's pages may be
    archived away), then equi-joined against by the next snapshot's
    ingest (``incremental_dedup``). ``distinct()`` is one narrow shuffle
    on the fp itself; at 10^12 docs the store is written partitioned by
    ``kind`` so each anti-join below prunes to its own slice.
    """
    exact = df.select(F.lit("exact").alias("kind"),
                      content_key(F.col(text_col)).alias("fp"))
    bands = (df.select(F.posexplode(_minhash_bands(
                F.col(text_col), k, n_perm, n_bands, oracle_safe))
                .alias("_band", "fp"))
             .select(F.concat(F.lit("band:"),
                              F.col("_band").cast("string")).alias("kind"),
                     "fp"))
    return exact.unionByName(bands).distinct()


def _exact_unseen(docs: DataFrame, prior_fps: DataFrame,
                  text_col: str) -> DataFrame:
    """Rows of ``docs`` whose content key is not in the store's
    ``'exact'`` slice: one LEFT ANTI equi join on the key — the exact
    tier of ``incremental_dedup`` and of its streaming twin (a
    stateless stream-static join there)."""
    exact_fps = prior_fps.filter(F.col("kind") == "exact").select("fp")
    keyed = docs.withColumn("_ck", content_key(F.col(text_col)))
    return keyed.join(exact_fps, keyed["_ck"] == exact_fps["fp"],
                      "left_anti").drop("_ck")


def incremental_dedup(new_docs: DataFrame, prior_fps: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      k: int = 3, n_perm: int = 32, n_bands: int = 8,
                      oracle_safe: bool = False) -> DataFrame:
    """Crawl-over-crawl dedup: keep only documents of ``new_docs`` that
    are genuinely new versus the prior snapshot's fingerprint store —
    no exact content-key match AND no shared MinHash band (the standard
    LSH candidate test; recall is governed by the same n_perm/n_bands
    knobs as ``minhash_lsh_pairs``). There is no Jaccard verify step
    against prior text by design: the store holds fingerprints only, so
    a band collision is treated as a duplicate (conservative for a
    training corpus — prefer dropping a borrowed page over keeping a
    near-copy).

    Scale shape: two narrow equi-joins on hash keys — content keys
    left-anti against the ``'exact'`` slice, then band hashes left-semi
    against the band slice to collect duplicate ids, anti-joined back.
    No broadcast assumption anywhere: at 10^12 docs the store is itself
    corpus-sized, and every join here shuffles only (id, hash) pairs.
    """
    fresh = _exact_unseen(new_docs, prior_fps, text_col)
    band_fps = prior_fps.filter(F.col("kind") != "exact") \
                        .select("kind", "fp")
    new_bands = (fresh.select(
        F.col(id_col).alias("_id"),
        F.posexplode(_minhash_bands(F.col(text_col), k, n_perm, n_bands,
                                    oracle_safe)).alias("_band", "fp"))
        .select("_id",
                F.concat(F.lit("band:"),
                         F.col("_band").cast("string")).alias("kind"),
                "fp"))
    dup_ids = (new_bands.join(band_fps, ["kind", "fp"], "left_semi")
               .select(F.col("_id").alias(id_col)).distinct())
    return fresh.join(dup_ids, id_col, "left_anti")


def _simhash64_kernel(oracle_safe: bool):
    """Batch SimHash kernel in the ``_hash64`` flavor ``oracle_safe``
    selects: one ``_hash64_batch`` pass (seed 0) over the byte spans of
    every token of the batch (``_gram_spans`` with k = 1), bit-unpack to
    uint8 [T,64], per-doc segment sum of set bits (``np.add.reduceat``)
    for the ±1 bit votes, pack the sign bits back to int64. Tokens are
    Java-``\\s`` runs. A doc with no tokens hashes to 0 (its one empty
    gram casts no vote); NULL text to NULL.
    """
    import numpy as np

    def kernel(texts):
        import pandas as pd

        buf, starts, lens, offs, n_tok, nulls = _gram_spans(texts, 1)
        out = np.zeros(len(texts), dtype=np.int64)
        if len(offs):
            h = _hash64_batch(buf, starts, lens, oracle_safe)(0)
            bits = np.unpackbits(h.view(np.uint8).reshape(-1, 8),
                                 axis=1, bitorder="little")
            cnt_set = np.add.reduceat(bits, offs, axis=0, dtype=np.int64)
            pos = (2 * cnt_set) > n_tok[:, None]     # sum of ±1 votes > 0
            pos[n_tok == 0] = False
            out[~nulls] = np.packbits(pos, axis=1, bitorder="little"
                                      ).view("<u8").ravel().view(np.int64)
        res = pd.array(out, dtype="Int64")
        res[nulls] = None
        return pd.Series(res)

    return kernel


def simhash64(text: Column, oracle_safe: bool = False) -> Column:
    """64-bit SimHash over whitespace tokens.

    Per token: 64-bit ``_hash64(token, 0)``; per bit: +1 if set else -1;
    sum over tokens; simhash bit j = 1 iff sum_j > 0.

    Both flavors run the same vectorized Arrow batch kernel
    (``_simhash64_kernel``); ``oracle_safe`` only picks its token hash.
    The interpreted form it replaced (one ``aggregate`` with a 64-wide
    ``zip_with`` accumulator) cost ~0.3 µs per element-op — ×64 bits ×
    tokens per doc — while the kernel runs the whole batch's bit-matrix
    vote in numpy. Same values in both flavors — pinned by
    tests/test_r10_optimizations.py.
    """
    return pandas_udf(_simhash64_kernel(oracle_safe), "long")(text)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_bands(sh: Column, n_bands: int) -> Column:
    """array<struct<band:int, bits:bigint>> — disjoint bit-slices of the
    64-bit simhash. Widths differ by at most one (64 = Σ widths)."""
    base, rem = divmod(64, n_bands)
    out, start = [], 0
    for j in range(n_bands):
        w = base + (1 if j < rem else 0)
        mask = (1 << w) - 1
        out.append(F.struct(
            F.lit(j).alias("band"),
            F.shiftrightunsigned(sh, start).bitwiseAND(F.lit(mask)).alias("bits")))
        start += w
    return F.array(*out)


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 8,
                  n_bands: int | None = None,
                  max_bucket: int = 2000,
                  oracle_safe: bool = False) -> DataFrame:
    """Near-dup pairs by SimHash with a pigeonhole recall guarantee.

    The 64 bits split into ``n_bands`` disjoint bands (default
    ``max_hamming + 1``): a pair within hamming ≤ max_hamming differs in at
    most max_hamming bands, so it MUST collide exactly on at least one —
    full recall, unlike the r1 single-prefix probe that missed pairs
    differing in the top bits. Candidates come from band-bucket collisions
    (``_hamming_pairs``); exact hamming verifies. Oversized buckets are
    dropped like minhash's skew guard (cost bound; recall caveat applies
    only to docs inside a dropped bucket).
    """
    n_bands = n_bands if n_bands is not None else max_hamming + 1
    s = df.select(F.col(id_col).alias("_id"),
                  simhash64(F.col(text_col), oracle_safe).alias("_sh"))
    return _hamming_pairs(s, max_hamming, n_bands, max_bucket)


def _hamming_pairs(hashed: DataFrame, max_hamming: int, n_bands: int,
                   max_bucket: int) -> DataFrame:
    """``(id_a, id_b, hamming)`` of the rows of ``hashed`` (``_id``, a
    64-bit hash ``_sh``) within ``max_hamming`` bits: candidates share
    one of ``n_bands`` disjoint bit bands (``_bucket_pairs`` on (band,
    bits)), each distinct pair is verified by exact ``hamming64``."""
    if n_bands > 64:
        raise ValueError("n_bands must be <= 64")
    buck = hashed.select("_id", "_sh",
                         F.inline(simhash_bands(F.col("_sh"), n_bands)))
    return (_bucket_pairs(buck, ["band", "bits"], max_bucket, carry="_sh")
            .dropDuplicates(["id_a", "id_b"])
            .select("id_a", "id_b",
                    hamming64(F.col("_sh_a"), F.col("_sh_b")).alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))
