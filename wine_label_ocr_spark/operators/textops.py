"""Text-analysis operators for large-scale training-data pipelines.

All JVM-native column expressions (no Python in the hot path):

* token counting — whitespace tokenizer, a BPE-ish regex heuristic, and
  REAL merge-table BPE (``bpe_tokenize``: published merges.txt format,
  greedy lowest-rank merges as an in-row column fold);
* quality scoring — length / alpha-ratio / punctuation / stopword-ratio
  features combined into one score (the P5-style predicate gate of
  ``hybrid.py:196-218`` re-targeted at text quality);
* language id — function-word marker counts per language, argmax
  (n-gram/stopword heuristic; no model);
* document fingerprinting — polynomial rolling hash over tokens
  (the E13 fingerprint idea applied to content rather than layout).

Every function returns Columns or DataFrames built from ``F.*`` only, so
Catalyst fuses them into whole-stage codegen and pushes column pruning
into the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# BPE-ish tokenization: words, numbers, or single punctuation — the classic
# GPT-2-style pre-tokenizer shape, kept RE2-compatible for the DuckDB oracle.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

QUALITY_STOPWORDS = ("the of and a to in is on for with as at by it "
                     "that this be are was from or an").split()

LANG_MARKERS = {
    "en": "the and of to in is you that it for".split(),
    "fr": "le la les de des et en une du que".split(),
    "de": "der die das und von zu den mit ist im".split(),
    "es": "el la los de las que y en un por".split(),
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokens (empty-safe)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens_col(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Regex-shape token count — the cheap heuristic stand-in. For
    budgets that must match a real tokenizer, use ``bpe_token_count``
    with an actual merge table."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))


def _bpe_word_tokens(word: Column, ranks: Column) -> Column:
    """One pre-token → its BPE symbol array under the ``ranks`` pair→rank
    map. The classic algorithm as column algebra: up to len-1 rounds of
    "find the lowest-rank adjacent pair, merge all its left-to-right
    occurrences", expressed as an ``aggregate`` fold whose accumulator is
    the symbol array (a round with no mergeable pair is a no-op, so
    over-iterating is safe and the fixed bound keeps the plan static)."""
    from ..functions import let

    def run(w: Column) -> Column:
        chars = F.split(w, "")

        def merge_round(acc: Column, _i: Column) -> Column:
            def pick(a: Column) -> Column:
                pairs = F.filter(
                    F.transform(
                        F.sequence(F.lit(0), F.size(a) - 2),
                        lambda i: F.struct(
                            F.element_at(
                                ranks,
                                F.concat_ws(" ", F.get(a, i),
                                            F.get(a, i + 1)))
                            .cast("int").alias("r"),
                            i.alias("i"))),
                    lambda p: p["r"].isNotNull())
                best = F.array_min(pairs)

                def apply_best(b: Column) -> Column:
                    left = F.get(a, b["i"])
                    right = F.get(a, b["i"] + 1)
                    merged = F.aggregate(
                        a, F.array().cast("array<string>"),
                        lambda st, s: F.when(
                            (F.size(st) > 0)
                            & (F.get(st, F.size(st) - 1) == left)
                            & (s == right),
                            F.concat(F.slice(st, 1, F.size(st) - 1),
                                     F.array(F.concat(left, right))))
                        .otherwise(F.concat(st, F.array(s))))
                    return merged

                return F.when(best.isNull(), a) \
                        .otherwise(let(best, apply_best))

            return F.when(F.size(acc) < 2, acc).otherwise(let(acc, pick))

        return F.when(
            F.size(chars) < 2, chars).otherwise(
            F.aggregate(F.sequence(F.lit(1), F.size(chars) - 1),
                        chars, merge_round))

    return let(word, run)


def bpe_tokenize(text: Column, merges: list[tuple[str, str]],
                 literal_pair_threshold: int = 2000) -> Column:
    """REAL byte-pair-encoding tokenization under a published-format
    merge table (``merges.txt`` lines ``"a b"``, rank = line order, the
    GPT-2 layout — no end-of-word marker): pre-tokenize with
    ``BPE_ISH_PATTERN``, then greedily apply the lowest-rank merge
    within each pre-token until none applies. Returns the flat token
    array. Everything is JVM column algebra over a constant pair→rank
    map (the merge table is a plan literal — the broadcast-table shape;
    no Python in the hot path), so token budgets from this column match
    what the same merge table produces in a reference BPE tokenizer
    (pytest-pinned against an independent Python implementation).

    Merge-table size (ADVICE r5): small tables inline as ``create_map``
    literal pairs; past ``literal_pair_threshold`` that shape would put
    2·|merges| expression nodes in the plan (a production GPT-2
    ``merges.txt`` is ~50k pairs → ~100k nodes, slow to analyze), so
    large tables switch to ``str_to_map`` over ONE packed string
    literal (0x01/0x02 separators, impossible in merge tokens), which
    Catalyst constant-folds into a single map literal — plan size O(1)
    in |merges| and per-pair lookups identical (rank values cast to int
    either way). Per-word cost is O(len²) merge rounds × O(len) scans,
    bounded because ``BPE_ISH_PATTERN`` pre-tokens are word-length —
    the per-DOCUMENT cost is linear in words either way."""
    if len(merges) <= literal_pair_threshold:
        ranks = F.create_map(
            *[x for r, (a, b) in enumerate(merges)
              for x in (F.lit(f"{a} {b}"), F.lit(r))])
    else:
        packed = "\x01".join(f"{a} {b}\x02{r}"
                             for r, (a, b) in enumerate(merges))
        ranks = F.str_to_map(F.lit(packed), F.lit("\x01"), F.lit("\x02"))
    words = F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)
    return F.flatten(
        F.transform(words, lambda w: _bpe_word_tokens(w, ranks)))


def _adjacent_pairs(syms: Column) -> Column:
    """array<struct<lhs,rhs>> of adjacent symbol pairs (per POSITION, so
    overlapping occurrences count — the subword-nmt counting rule);
    empty below two symbols (guards F.sequence's descending-step trap
    when size-2 < 0)."""
    idx = F.sequence(F.lit(0), F.size(syms) - 2)
    pairs = F.transform(idx, lambda i: F.struct(
        F.get(syms, i).alias("lhs"), F.get(syms, i + 1).alias("rhs")))
    return F.when(F.size(syms) >= 2, pairs).otherwise(
        F.array().cast("array<struct<lhs:string,rhs:string>>"))


def _merge_adjacent(syms: Column, lhs: str, rhs: str) -> Column:
    """Greedy left-to-right non-overlapping merge of one literal pair
    within a symbol array — the same fold rule ``_bpe_word_tokens``
    applies at tokenize time, so trained merges replay identically."""
    left, right = F.lit(lhs), F.lit(rhs)
    return F.aggregate(
        syms, F.array().cast("array<string>"),
        lambda st, s: F.when(
            (F.size(st) > 0)
            & (F.get(st, F.size(st) - 1) == left) & (s == right),
            F.concat(F.slice(st, 1, F.size(st) - 1),
                     F.array(F.concat(left, right))))
        .otherwise(F.concat(st, F.array(s))))


def bpe_train(df: DataFrame, text_col: str = "text", n_merges: int = 32,
              min_count: int = 2, min_word_count: int = 1,
              checkpoint_every: int = 8) -> list[tuple[str, str]]:
    """Distributed BPE merge-table TRAINING (the learn side of
    ``bpe_tokenize``'s published-``merges.txt`` apply path): iterative
    highest-count adjacent-pair selection over the corpus, the
    Sennrich/GPT-2 algorithm.

    1. ONE corpus-wide shuffle builds the word histogram
       (``BPE_ISH_PATTERN`` pre-tokens → groupBy(word).count() with
       map-side partial combine) — after this the corpus is never
       rescanned; every merge round runs over |vocab| rows, which Zipf
       keeps orders of magnitude below |corpus| (``min_word_count``
       prunes the hapax tail when even |vocab| is large — at web scale
       singleton "words" are mostly noise and can't win a merge that
       needs ``min_count`` anyway).
    2. Per round: adjacent-pair counts weighted by word frequency
       (per-position, overlapping — the subword-nmt rule), global agg,
       ``TakeOrdered(1)`` by (count desc, lhs asc, rhs asc) — a
       deterministic tie-break shared with the in-test reference
       trainer and the DuckDB gate constants. The per-round ``collect``
       is ONE row (the centroid-collect shape); the winning pair is
       applied to the cached symbol arrays as plan-literal column
       algebra (``_merge_adjacent`` — the exact greedy fold
       ``_bpe_word_tokens`` replays at apply time).
    3. Lineage is truncated every ``checkpoint_every`` rounds with an
       eager ``localCheckpoint`` (executor-local blocks — swap for
       ``checkpoint()`` on a reliable store when training must survive
       executor loss; the histogram is re-derivable either way).

    Stops early when no pair reaches ``min_count``. Returns the ranked
    merge list — a driver-side value BY DESIGN: it becomes the plan
    literal ``bpe_tokenize``/``bpe_token_count`` broadcast into the
    apply path (reference analog: the repo ships its lexicon as
    constants, e.g. ``MakerAndCustomIDSimilarity.py``'s winery list;
    here the lexicon is LEARNED from the corpus instead)."""
    words = (df.select(F.explode(F.regexp_extract_all(
                 F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)).alias("word"))
               .groupBy("word").agg(F.count(F.lit(1)).alias("n")))
    if min_word_count > 1:
        words = words.filter(F.col("n") >= min_word_count)
    cur = (words.select(F.split("word", "").alias("syms"), "n")
           .localCheckpoint(eager=True))
    merges: list[tuple[str, str]] = []
    for r in range(n_merges):
        best = (cur.select(F.explode(_adjacent_pairs(F.col("syms")))
                           .alias("p"), "n")
                .groupBy("p").agg(F.sum("n").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("p.lhs"), F.asc("p.rhs"))
                .limit(1).collect())
        if not best or best[0]["cnt"] < min_count:
            break
        lhs, rhs = best[0]["p"]["lhs"], best[0]["p"]["rhs"]
        merges.append((lhs, rhs))
        cur = cur.withColumn("syms",
                             _merge_adjacent(F.col("syms"), lhs, rhs))
        if (r + 1) % checkpoint_every == 0:
            cur = cur.localCheckpoint(eager=True)
    return merges


def bpe_token_count(text: Column, merges: list[tuple[str, str]],
                    literal_pair_threshold: int = 2000) -> Column:
    """Token count under a real BPE merge table — the budget column for
    ``chunk_documents``/``pack_sequences`` when counts must match an
    actual tokenizer rather than the regex heuristic."""
    return F.size(bpe_tokenize(text, merges,
                               literal_pair_threshold))


def quality_features(text: Column) -> dict[str, Column]:
    n = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()-]", ""))
    # (r10 note: a contains()-over-normalized-string restatement of the
    # token/stopword counts measured SLOWER than this array form at sf1.0
    # — 1.52 s vs 1.22 s for the token+intersect pair — so the original
    # shape stays.)
    toks = tokens_col(text)
    n_tok = F.size(toks)
    stop = F.size(F.array_intersect(
        F.transform(toks, F.lower), F.array(*[F.lit(s) for s in QUALITY_STOPWORDS])))
    safe_n = F.greatest(n, F.lit(1))
    safe_t = F.greatest(n_tok, F.lit(1))
    return {
        "n_chars": n,
        "n_tokens": n_tok,
        "alpha_ratio": alpha / safe_n,
        "punct_ratio": punct / safe_n,
        "stopword_ratio": stop / safe_t,  # distinct-marker coverage
        "mean_token_len": (n - (n_tok - 1)) / safe_t,
    }


def quality_score(text: Column) -> Column:
    """[0,1] quality score — weights mirror the 0.4/0.3/0.3 structure of the
    reference's region scorer (hybrid.py:131)."""
    f = quality_features(text)
    len_term = F.least(f["n_chars"] / F.lit(500.0), F.lit(1.0))
    return (F.lit(0.4) * len_term
            + F.lit(0.3) * f["alpha_ratio"]
            + F.lit(0.3) * F.least(f["stopword_ratio"] * 3.0, F.lit(1.0)))


def quality_gate(text: Column, min_chars: int = 25, min_alpha: float = 0.5,
                 max_punct: float = 0.2) -> Column:
    """P5-analog conjunction gate for training-data filtering."""
    f = quality_features(text)
    return ((f["n_chars"] >= min_chars)
            & (f["alpha_ratio"] >= min_alpha)
            & (f["punct_ratio"] <= max_punct))


def lang_scores(text: Column) -> dict[str, Column]:
    import functools
    import operator

    def marker_pred(markers: list[str]):
        # NB: plain single-arg closure — a default-arg lambda would be
        # introspected by PySpark's HOF binding as a second lambda variable
        def pred(t):
            return functools.reduce(operator.or_,
                                    [t == F.lit(x) for x in markers])
        return pred

    toks = F.transform(tokens_col(text), F.lower)
    return {
        lang: F.size(F.filter(toks, marker_pred(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """Marker-count argmax with deterministic tie-break (alphabetical lang).

    Heuristic language id — the D1-classifier analog over text. Returns
    'und' when no marker hits at all.
    """
    scores = lang_scores(text)
    pairs = [F.struct(c.alias("score"), F.lit(lang).alias("lang"))
             for lang, c in sorted(scores.items(), reverse=True)]
    best = F.greatest(*pairs)  # struct compare: score first, then lang desc→ reverse gives asc tie-break
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def doc_fingerprints(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     n_tokens: int = 64) -> DataFrame:
    """DataFrame form of ``doc_fingerprint`` → (id_col, content_fp).

    Same values, computed in an Arrow-batched Python kernel: Spark's
    ``md5`` expression constructs a fresh digest per call (~10 µs/token
    measured at sf1.0 — 65% of the query), while ``hashlib`` amortizes
    to ~0.5 µs. The kernel replicates the column algebra exactly:
    tokens are the ``[ \\t\\n\\x0b\\f\\r]+``-separated non-empty runs
    (Java ``\\s``, which Spark's split uses — NOT Python's unicode-aware
    ``\\s``), value = first 7 hex chars of md5, fold
    ``(acc*31 + v) mod 2147483647`` over the first ``n_tokens`` tokens
    (all values < 2^36, so Python/JVM integer arithmetic agree exactly).
    Equivalence vs the column form is pinned by tests/test_textops.py.
    """
    import re as _re

    from hashlib import md5 as _md5

    split = _re.compile(r"[ \t\n\x0b\f\r]+").split
    mod = 2147483647

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            fps: list[int | None] = []
            for t in pdf[text_col]:
                if t is None:
                    fps.append(None)
                    continue
                h = 0
                seen = 0
                for tok in split(t):
                    if tok:
                        seen += 1
                        if seen > n_tokens:
                            break
                        v = int(_md5(tok.encode("utf-8")).hexdigest()[:7], 16)
                        h = (h * 31 + v) % mod
                fps.append(h)
            yield pd.DataFrame({id_col: pdf[id_col], "content_fp": fps})

    id_type = df.schema[id_col].dataType.simpleString()
    # explicit repartition: the corpus scan is often a single split
    # (small compressed parquet under a large maxPartitionBytes), which
    # would serialize the whole kernel onto one worker; a user-specified
    # count is exempt from AQE coalescing (guide §2.5)
    n = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    src = df.select(id_col, text_col)
    if src.rdd.getNumPartitions() < n:
        src = src.repartition(n)
    return src.mapInPandas(kernel,
                           schema=f"{id_col} {id_type}, content_fp bigint")


def doc_fingerprint(text: Column, n_tokens: int = 64) -> Column:
    """Polynomial rolling hash over the first ``n_tokens`` tokens.

    Content fingerprint (E13 analog). Per-token value is derived from md5
    so the DuckDB oracle can reproduce it bit-for-bit; the polynomial stays
    inside 2^36 < bigint so ANSI mode never overflows.
    """
    toks = F.slice(tokens_col(text), 1, n_tokens)
    tok_val = lambda t: F.conv(F.substring(F.md5(t), 1, 7), 16, 10).cast("bigint")  # noqa: E731
    return F.aggregate(
        toks, F.lit(0).cast("bigint"),
        lambda acc, t: F.pmod(acc * F.lit(31) + tok_val(t), F.lit(2147483647)))


def unigram_logprob(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    min_count: int | None = None,
                    top_n: int | None = None) -> DataFrame:
    """Corpus-level unigram LM quality score — the classic training-data
    filter ("drop documents whose tokens are improbable under the corpus
    LM"), as two aggregations:

    1. vocab: one shuffle on token → (token, count), plus the scalar total
       (broadcast back — a few bytes). Map-side partial aggregation means
       only (token, partial count) pairs cross this exchange, never the
       raw explosion;
    2. score: tokens joined to vocab, per-doc SUM of log-probabilities.

    Two scoring shapes:

    * exact (default, the oracle's twin): sort-merge/hash join on token —
      the full token explosion crosses an exchange. Fine to ~10^9 docs;
    * pruned-broadcast (``min_count`` and/or ``top_n`` set — the 10^12-doc
      shape): the vocab is frequency-pruned (count >= min_count, then the
      ``top_n`` most frequent, ties broken on token), its log-prob terms
      are precomputed against the UNPRUNED total token mass, and the
      small table is broadcast — the scoring join is map-side
      (BroadcastHashJoin), so the token explosion never shuffles; the
      only token-keyed exchange left is the partial-aggregated vocab
      build. Pruned (OOV) tokens are excluded from both
      ``logprob_scaled`` and ``n_toks`` — callers wanting an OOV penalty
      compare ``n_toks`` against ``token_count``.

    The per-token term is scaled to an integer (round(log(p)·1e6)) so the
    per-doc sum is exact and order-free — a raw double sum would hash
    differently between engines because addition order is unspecified.
    """
    toks = (df.select(F.col(id_col).alias("doc_id"),
                      F.explode(tokens_col(F.col(text_col))).alias("tok"))
            .withColumn("tok", F.lower("tok")))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    term = F.round(F.log(F.col("cnt").cast("double")
                         / F.col("total").cast("double")) * 1e6).cast("bigint")
    if min_count is None and top_n is None:
        return (toks.join(vocab, "tok")
                .crossJoin(F.broadcast(total))
                .groupBy("doc_id")
                .agg(F.sum(term).alias("logprob_scaled"),
                     F.count(F.lit(1)).alias("n_toks")))
    pruned = vocab
    if min_count is not None:
        pruned = pruned.filter(F.col("cnt") >= min_count)
    if top_n is not None:
        pruned = pruned.orderBy(F.col("cnt").desc(), "tok").limit(top_n)
    # total re-derived as a global agg over the explosion (identical value,
    # no second token-keyed exchange in the plan); terms precomputed once
    # on the tiny pruned side; broadcast makes the scoring join map-side —
    # the explosion stays in its scan partitions
    total_direct = toks.agg(F.count(F.lit(1)).alias("total"))
    scoring = F.broadcast(
        pruned.crossJoin(F.broadcast(total_direct))
              .select("tok", term.alias("term")))
    return (toks.join(scoring, "tok")
            .groupBy("doc_id")
            .agg(F.sum("term").alias("logprob_scaled"),
                 F.count(F.lit(1)).alias("n_toks")))


def runlength_pairs(s: Column, key_alias: str, cnt_alias: str) -> Column:
    """Run-length encode an already-SORTED array bound as a lambda
    variable: ``array<struct<key, cnt:bigint>>``. Run starts are the
    positions whose element differs from the left neighbor; each run's
    length is ``next_start − start``. Callers must pass a ``let``-bound
    (or otherwise single-eval) column and guard the empty array
    themselves (``sequence(0, -1)`` DESCENDS). Shared by
    ``term_frequencies`` and ``classify.hashed_ngram_features`` so the
    fold exists exactly once."""
    n = F.size(s)
    idx = F.sequence(F.lit(0), n - 1)
    starts = F.filter(
        idx, lambda i: (i == F.lit(0)) | (F.get(s, i) != F.get(s, i - 1)))
    nxt = F.concat(F.slice(starts, 2, F.size(starts) - 1), F.array(n))
    return F.zip_with(
        starts, nxt,
        lambda st, nx: F.struct(F.get(s, st).alias(key_alias),
                                (nx - st).cast("bigint").alias(cnt_alias)))


def term_frequencies(text: Column) -> Column:
    """Within-row term frequencies: ``array<struct<tok, tf>>`` with one
    entry per distinct (lowercased) whitespace token, no shuffle.

    A document's tf table depends on nothing outside the row, so shipping
    its tokens through a corpus-wide ``groupBy(doc, tok)`` exchange — the
    widest shuffle in a naive tf·idf — is pure waste at 10^12 docs. Here
    the token array is sorted once (``let`` — single eval), run starts
    are the positions whose token differs from their left neighbor, and
    each run's length is ``next_start − start`` (``zip_with`` against the
    starts shifted left, padded with n). O(n log n) per row, all inside
    whole-stage codegen."""
    from ..functions import let

    toks = tokens_col(text)
    # guard: sequence(0, -1) DESCENDS on empty arrays — never build idx there
    return F.when(F.size(toks) > 0,
                  let(F.array_sort(F.transform(toks, F.lower)),
                      lambda s: runlength_pairs(s, "tok", "tf"))) \
            .otherwise(F.array().cast("array<struct<tok:string,tf:bigint>>"))


def tfidf_top_terms(df: DataFrame, k: int = 5, id_col: str = "doc_id",
                    text_col: str = "text", min_df: int | None = None,
                    top_n_vocab: int | None = None) -> DataFrame:
    """Per-document top-k terms by tf·idf (keyword extraction for corpus
    exploration/labeling). The score is integer-scaled
    (round(tf·ln(N/df)·1e6)) so ordering is exact and engine-independent;
    ties break on the token. Two shapes:

    * exact (default, the oracle's twin): (doc, token) tf agg, token df
      agg, per-doc ranking window — three exchanges, the first carrying
      the full token explosion. Fine to ~10^9 docs;
    * pruned-broadcast (``min_df`` and/or ``top_n_vocab`` set — the
      10^12-doc shape): tf is computed WITHIN each row
      (``term_frequencies`` — the explosion never shuffles), document
      frequencies aggregate over per-doc-distinct tokens only (one
      narrow, map-side-combined exchange), the vocab is pruned
      (df >= min_df, then the ``top_n_vocab`` most frequent, ties on
      token) and broadcast so the scoring join is map-side, and the
      top-k pick is a narrow doc-keyed regroup over matched tokens only.
      With ``min_df=1`` and no ``top_n_vocab`` the output is identical
      to the exact shape; real pruning drops OOV terms (documents whose
      every token is pruned disappear from the output — by design: they
      have no in-vocab keywords).
    """
    if min_df is None and top_n_vocab is None:
        toks = (df.select(F.col(id_col).alias("doc_id"),
                          F.explode(tokens_col(F.col(text_col))).alias("tok"))
                .withColumn("tok", F.lower("tok")))
        tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
        dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
        scored = (tf.join(dfreq, "tok").crossJoin(F.broadcast(n_docs))
                  .withColumn("tfidf_scaled",
                              F.round(F.col("tf")
                                      * F.log(F.col("n_docs").cast("double")
                                              / F.col("df").cast("double"))
                                      * 1e6).cast("bigint")))
        from pyspark.sql import Window as W
        w = W.partitionBy("doc_id").orderBy(F.col("tfidf_scaled").desc(), "tok")
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("doc_id", "tok", "tf", "df", "tfidf_scaled",
                        F.col("rank").cast("int").alias("rank")))

    tokdf = (df.select(F.col(id_col).alias("doc_id"),
                       F.explode(term_frequencies(F.col(text_col))).alias("e"))
             .select("doc_id", F.col("e.tok").alias("tok"),
                     F.col("e.tf").alias("tf")))
    # one row per distinct (doc, tok) already — df is a plain count
    dfreq = tokdf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    pruned = dfreq
    if min_df is not None:
        pruned = pruned.filter(F.col("df") >= int(min_df))
    if top_n_vocab is not None:
        pruned = pruned.orderBy(F.col("df").desc(), "tok").limit(int(top_n_vocab))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    scoring = F.broadcast(pruned.crossJoin(F.broadcast(n_docs)))
    scored = (tokdf.join(scoring, "tok")
              .withColumn("tfidf_scaled",
                          F.round(F.col("tf")
                                  * F.log(F.col("n_docs").cast("double")
                                          / F.col("df").cast("double"))
                                  * 1e6).cast("bigint")))
    top = (scored.groupBy("doc_id")
           .agg(F.slice(F.array_sort(F.collect_list(F.struct(
                    (-F.col("tfidf_scaled")).alias("neg"), F.col("tok"),
                    F.col("tf"), F.col("df"),
                    F.col("tfidf_scaled").alias("score")))),
                1, k).alias("top")))
    ex = top.select("doc_id", F.posexplode("top").alias("pos", "e"))
    return ex.select("doc_id", F.col("e.tok").alias("tok"),
                     F.col("e.tf").alias("tf"), F.col("e.df").alias("df"),
                     F.col("e.score").alias("tfidf_scaled"),
                     (F.col("pos") + 1).cast("int").alias("rank"))


def chunk_documents(df: DataFrame, chunk_tokens: int = 128,
                    overlap: int = 16, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    standard LLM-pretraining chunker. Pure column algebra: token array →
    stride sequence → slice+join per chunk → explode. No shuffle at all;
    chunking inherits the scan's partitioning.

    Emits (id, chunk_idx, chunk_text, n_tokens); the final short chunk is
    kept (training pipelines usually pad or drop it downstream).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens_col(F.col(text_col))

    def chunks_of(t: Column) -> Column:
        n = F.size(t)
        # start offsets 1, 1+stride, ...; the stop extends one stride past
        # n-chunk so the FINAL (short) window still covers the tail tokens
        # — stopping at n-chunk+1 exactly would drop up to stride-1 tokens
        # whenever (n-chunk) isn't a multiple of the stride. A doc shorter
        # than one chunk yields exactly one chunk.
        starts = F.sequence(
            F.lit(1),
            F.greatest(n - F.lit(chunk_tokens), F.lit(0)) + F.lit(stride),
            F.lit(stride))
        return F.transform(starts, lambda s: F.struct(
            ((s - 1) / stride).cast("int").alias("chunk_idx"),
            F.array_join(F.slice(t, s, chunk_tokens), " ").alias("chunk_text"),
            F.least(n - s + 1, F.lit(chunk_tokens)).alias("n_tokens")))

    from ..functions import let
    return (df.select(F.col(id_col).alias("doc_id"),
                      F.explode(let(toks, chunks_of)).alias("c"))
            .select("doc_id", F.col("c.chunk_idx").alias("chunk_idx"),
                    F.col("c.chunk_text").alias("chunk_text"),
                    F.col("c.n_tokens").alias("n_tokens")))


def pack_sequences(df: DataFrame, budget_tokens: int = 512,
                   id_col: str = "doc_id", text_col: str = "text",
                   n_shards: int | None = None,
                   count_col: Column | None = None) -> DataFrame:
    """Contiguous sequence packing: assign documents (in id order) to
    fixed-token-budget bins by running token total — the scalable
    approximation of training-batch packing (greedy first-fit needs global
    state; contiguous packing is one window and gets within one doc of the
    same utilization per shard).

    bin_id = floor((cumulative_tokens − n_tokens) / budget): a doc starts a
    new bin when the budget before it is exhausted. Oversized docs (>
    budget) still land in exactly one bin.

    ``n_shards`` is the scale switch: with it, the window partitions by
    ``pmod(xxhash64(id), n_shards)`` — every shard packs independently (an
    unpartitioned running-sum window is a single task sorting the whole
    corpus, the r1-VERDICT scale-killer shape), and bin ids are
    shard-prefixed so they stay globally unique. Packing tolerates
    sharding by construction: utilization loses at most one underfull bin
    per shard. ``n_shards=None`` keeps the exact single-sequence order for
    small inputs and the correctness gate. ``count_col`` overrides the
    whitespace token counter — pass ``bpe_token_count(col, merges)`` when
    bins must line up with a real tokenizer's budget.
    """
    from pyspark.sql import Window as W
    n_tok = count_col if count_col is not None \
        else token_count(F.col(text_col))
    if n_shards is None:
        w = W.orderBy(id_col).rowsBetween(W.unboundedPreceding, 0)
        shard_prefix = F.lit(0).cast("bigint")
    else:
        shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
        w = (W.partitionBy(shard).orderBy(id_col)
             .rowsBetween(W.unboundedPreceding, 0))
        # 2^40 bins/shard (~512T tokens at budget 512) before ids could
        # collide with the next shard's space — wide enough for 10^12 docs.
        shard_prefix = shard.cast("bigint") * F.lit(1 << 40)
    cum = F.sum(n_tok).over(w)
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_tok.alias("n_tokens"),
        (shard_prefix + F.floor((cum - n_tok) / budget_tokens))
        .cast("bigint").alias("bin_id"))


def pack_sequences_ffd(df: DataFrame, budget_tokens: int = 512,
                       id_col: str = "doc_id", text_col: str = "text",
                       n_shards: int | None = None,
                       count_col: Column | None = None) -> DataFrame:
    """First-fit-decreasing sequence packing (r8 VERDICT #6) — the
    padding-tight flavor next to ``pack_sequences``'s contiguous
    binning: sort by token count descending, greedy first-fit into
    fixed-budget bins. FFD's classic guarantee (≤ 11/9·OPT + 6/9 bins)
    beats budget-CAPPED contiguous packing hardest exactly where
    training corpora live: skewed length distributions, where capped
    contiguous bins strand a large remainder every time a long doc
    follows short ones (pytest pins 113 vs 150 bins on planted
    900/120 skew). Note the contract difference from
    ``pack_sequences``: that flavor's floor-binning lets a bin straddle
    the budget (its count is ceil(total/budget), unbeatable but
    overflowing), while every FFD bin genuinely fits a fixed-length
    training sequence — the flavor to use when bins may not overflow.

    FFD is inherently sequential, so it runs PER SHARD inside an Arrow
    group (``applyInPandas``): ``n_shards`` bounds each Python bin-pack
    to corpus/n_shards docs (the same scale switch as
    ``pack_sequences``; packing tolerates sharding by construction — at
    most one underfull bin per shard and budget-region), and bin ids
    are shard-prefixed for global uniqueness. ``n_shards=None`` packs
    exactly once for small inputs and the correctness gate.

    Deterministic: docs order by (n_tokens desc, id asc); bins are
    probed in creation order. Oversized docs (> budget) take a bin
    alone, like the contiguous flavor. Output matches
    ``pack_sequences``: ``(doc_id, n_tokens, bin_id)``."""
    import pandas as pd

    n_tok = count_col if count_col is not None \
        else token_count(F.col(text_col))
    shard = (F.lit(0).cast("bigint") if n_shards is None
             else F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
             .cast("bigint"))
    sized = df.select(F.col(id_col).cast("bigint").alias("doc_id"),
                      n_tok.cast("bigint").alias("n_tokens"),
                      shard.alias("_shard"))
    budget = int(budget_tokens)

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["n_tokens", "doc_id"],
                              ascending=[False, True],
                              kind="mergesort").reset_index(drop=True)
        # 2^40 bins/shard before prefix collision — same space as the
        # contiguous flavor
        prefix = int(pdf["_shard"].iloc[0]) << 40 if len(pdf) else 0
        remaining: list[int] = []
        bin_ids = []
        for n in pdf["n_tokens"]:
            n = int(n)
            for b, rem in enumerate(remaining):
                if rem >= n:
                    remaining[b] = rem - n
                    bin_ids.append(prefix + b)
                    break
            else:
                remaining.append(max(budget - n, 0))
                bin_ids.append(prefix + len(remaining) - 1)
        out = pdf[["doc_id", "n_tokens"]].copy()
        out["bin_id"] = pd.Series(bin_ids, dtype="int64")
        return out

    return (sized.groupBy("_shard")
            .applyInPandas(pack,
                           "doc_id bigint, n_tokens bigint, "
                           "bin_id bigint"))


# the high-frequency UTF-8-decoded-as-Latin-1/Win-1252 mojibake pairs — the
# curated-table approach (vs a full ftfy re-decode, which needs per-row
# Python): these cover the overwhelming majority of broken sequences in web
# crawls (common accented Latin letters + the Win-1252 punctuation block).
def _mojibake_of(good: str) -> str:
    """The UTF-8-bytes-read-as-cp1252 rendering of ``good``, with the two
    normalizations that run before the repair pass already applied
    (unmapped cp1252 bytes drop — e.g. 0x9D in the right double quote —
    and NBSP becomes a plain space, as _USPACE_RE will have done)."""
    return (good.encode("utf-8").decode("cp1252", errors="ignore")
            .replace("\xa0", " "))


# longest mojibake first, so a bare prefix (the right double quote's
# "broken" 2-char form) can never clobber a longer sequence
MOJIBAKE_PAIRS = tuple(sorted(
    ((_mojibake_of(g), g) for g in
     "\u2019\u201c\u201d\u2013\u2014\u2026"   # ’ “ ” – — …
     "\u00e9\u00e8\u00ea\u00e0\u00e7"          # é è ê à ç
     "\u00fc\u00f6\u00e4\u00f1"),               # ü ö ä ñ
    key=lambda pr: -len(pr[0])))

# C0/C1 control characters except \t \n \r — never legitimate in web
# text. \x{...} escapes are the Java-regex ∩ RE2 shared syntax (so the
# DuckDB oracle can run the identical pattern).
_CONTROL_RE = r"[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}-\x{84}\x{86}-\x{9F}]"
# exotic unicode spaces → plain space (NBSP, Ogham, en/em/thin, NNBSP,
# medium mathematical, ideographic)
_USPACE_RE = r"[\x{A0}\x{1680}\x{2000}-\x{200A}\x{202F}\x{205F}\x{3000}]"
# zero-width characters: ZWSP/ZWNJ/ZWJ/BOM
_ZEROW_RE = r"[\x{200B}\x{200C}\x{200D}\x{FEFF}]"


def fix_text(text: Column, fix_mojibake: bool = True) -> Column:
    """Crawl-text normalization (the ftfy-lite step every CC pipeline
    runs before filtering): strip C0/C1 control characters (keeping
    tab/newline/CR), map exotic unicode spaces to plain spaces, drop
    zero-width characters (ZWSP/ZWNJ/ZWJ/BOM), and repair the
    high-frequency UTF-8-as-Latin-1 mojibake sequences from a curated
    table (``MOJIBAKE_PAIRS``). All JVM-side ``replace``/``regexp``
    chains — RE2-safe, reproducible in the DuckDB oracle; a full ftfy
    re-decode would need per-row Python and is deliberately out of
    scope. Idempotent on its own output."""
    out = F.regexp_replace(text, _CONTROL_RE, "")
    out = F.regexp_replace(out, _USPACE_RE, " ")
    out = F.regexp_replace(out, _ZEROW_RE, "")
    if fix_mojibake:
        for bad, good in MOJIBAKE_PAIRS:
            out = F.replace(out, F.lit(bad), F.lit(good))
    return out


def host_of(url: Column) -> Column:
    """Host component of an http(s) URL (RE2-safe regexp, shared with the
    DuckDB oracle) — the grouping key for host-level skew analysis, crawl
    politeness budgets, and per-site quality aggregates. NULL when the
    value is not an http(s) URL."""
    # scheme is case-insensitive per RFC 3986 (HTTP:// is valid)
    return F.nullif(F.regexp_extract(url, r"^(?i:https?)://([^/]+)", 1),
                    F.lit(""))


# query params that never distinguish content: analytics/click trackers.
# Kept as a tuple so the DuckDB oracle can inline the same list.
TRACKING_PARAMS_RE = r"^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|mc_eid|igshid)="


def registrable_host(url: Column) -> Column:
    """Lowercased DNS host of an http(s) URL with userinfo and port
    stripped — the key under which security/politeness decisions
    (blocklists, robots.txt) must group, where ``example.com:8080`` and
    ``user@example.com`` are the SAME authority as ``example.com``.
    ``host_of`` deliberately keeps the raw authority (byte-faithful
    profiling, gate-pinned); this is the normalized flavor. NULL for
    non-http(s) values."""
    return F.lower(F.nullif(
        F.regexp_extract(url, r"^(?i:https?)://(?:[^/@?#]*@)?([^/:?#]+)", 1),
        F.lit("")))


def authority_host(host: Column) -> Column:
    """A host-keyed table's key (``h.com``, ``H.com:8080``,
    ``user@h.com``) normalized the way ``registrable_host`` normalizes
    a URL's authority: lowercased, userinfo and port stripped, so a
    robots or delay table keyed ``h.com:8080`` joins ``h.com`` URLs."""
    return F.regexp_replace(
        F.regexp_replace(F.lower(host), "^[^/@]*@", ""), ":[0-9]+$", "")


def canonical_url(url: Column) -> Column:
    """Canonical form of an http(s) URL for crawl dedup — the key under
    which two captures count as "the same page":

    * scheme and host lowercased (RFC 3986 §6.2.2.1);
    * default ports stripped (``:80`` for http, ``:443`` for https);
    * fragment dropped (never sent to the server);
    * tracking query params dropped (``utm_*``, ``fbclid``, ``gclid``,
      ``msclkid``, ``mc_eid``, ``igshid``) with the ``?`` removed when
      nothing survives — surviving params keep their original order
      (reordering would conflate genuinely different keys on sites where
      order matters);
    * trailing slash stripped from non-root paths; empty path → ``/``.

    Pure JVM column algebra on RE2-compatible regexes (no lookarounds),
    so the same expressions run in the DuckDB oracle. Non-http(s) values
    return NULL — callers keep the raw url for those rows.
    """
    from ..functions import let

    def canon(u: Column) -> Column:
        scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
        auth = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
        auth = F.when(scheme == "http", F.regexp_replace(auth, r":80$", "")) \
                .when(scheme == "https", F.regexp_replace(auth, r":443$", "")) \
                .otherwise(auth)
        rest = F.regexp_replace(  # path[?query] after dropping the fragment
            F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1),
            r"#.*$", "")
        path = F.regexp_extract(rest, r"^([^?]*)", 1)
        path = F.when(path == "", F.lit("/")) \
                .otherwise(F.regexp_replace(path, r"(.)/$", "$1"))
        query = F.regexp_replace(rest, r"^[^?]*\??", "")
        kept = F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & (F.regexp_extract(
                p, TRACKING_PARAMS_RE, 0) == ""))
        q = F.array_join(kept, "&")
        return F.concat(scheme, F.lit("://"), auth, path,
                        F.when(q == "", F.lit("")).otherwise(
                            F.concat(F.lit("?"), q)))

    ok = F.regexp_extract(url, r"^(?i:https?)://[^/?#]+", 0) != ""
    return F.when(ok, let(url, canon)).otherwise(F.lit(None).cast("string"))


def remove_dot_segments(path: Column) -> Column:
    """RFC 3986 §5.2.4 ``remove_dot_segments`` as pure column algebra.

    One ``aggregate`` fold over the ``/``-split segments keeps a stack:
    ``.`` is dropped, ``..`` pops (never past the leading root marker),
    anything else — including empty segments from ``//`` runs, which the
    RFC preserves — is pushed. A trailing ``.``/``..`` re-appends the
    empty segment so ``/a/b/..`` → ``/a/`` (RFC output keeps the slash).
    Assumes an absolute path (leading ``/``), which every http(s) merge
    in ``resolve_href`` guarantees. Empty result → ``/``."""
    from ..functions import let

    def rds(p: Column) -> Column:
        # fast path: no "." / ".." SEGMENT anywhere (the overwhelmingly
        # common case for crawl hrefs) → the fold is the identity
        # (split+join preserves empty segments), so skip it. The guard
        # requires the dot(s) to span a whole segment: "/a.b/", "/x."
        # and "/..hidden" stay on the fast path.
        needs = p.rlike(r"(^|/)\.\.?(/|$)")
        return F.when(~needs, p).otherwise(_rds_fold(p))

    return let(path, rds)


def _rds_fold(p: Column) -> Column:
    """The §5.2.4 stack fold itself — only reached for paths that
    actually contain a ``.``/``..`` segment (see the guard above)."""
    segs = F.split(p, "/")
    folded = F.aggregate(
        segs,
        F.array().cast("array<string>"),
        lambda acc, s: (
            F.when(s == ".", acc)
             .when(s == "..",
                   F.when(F.size(acc) > 1,
                          F.slice(acc, 1, F.size(acc) - 1))
                    .otherwise(acc))
             .otherwise(F.concat(acc, F.array(s)))))
    last = F.get(segs, F.size(segs) - 1)
    joined = F.array_join(
        F.when(last.isin(".", ".."),
               F.concat(folded, F.array(F.lit(""))))
         .otherwise(folded), "/")
    return F.when(joined == "", F.lit("/")).otherwise(joined)


def resolve_href(base: Column, href: Column) -> Column:
    """RFC 3986 §5.2 reference resolution for crawl outlinks: absolute
    URL of ``href`` seen on page ``base`` (itself an absolute http(s)
    URL). Pure JVM column algebra — the relative-link counterpart of
    ``canonical_url``, upstream of it in the frontier pipeline.

    Branches (§5.2.2): full http(s) URLs re-assemble with their own
    authority; other schemes (``mailto:``, ``javascript:``, ``data:``)
    pass through untouched; ``//host/p`` takes the base scheme; ``/p``
    the base authority; ``?q`` the base path; anything else merges onto
    the base path's directory (§5.2.3). Every http(s) result path goes
    through ``remove_dot_segments`` exactly once (the candidate string
    is assembled first, then decomposed once). Fragments are stripped
    (never sent to a server); an empty href is the base itself. NULL
    base or href → NULL.

    Both inputs are ``let``-bound: ``base`` is referenced by four
    decompositions across the branch arms, so a composite base (e.g.
    the ``<base href>`` pickup, itself a ``resolve_href``) would
    otherwise be inlined and re-evaluated per reference."""
    from ..functions import let

    def outer(b: Column) -> Column:
        def build(h: Column) -> Column:
            b_scheme = F.regexp_extract(b, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
            root = F.regexp_extract(b, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
            b_path = F.regexp_extract(b, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
            b_path = F.when(b_path == "", F.lit("/")).otherwise(b_path)
            b_query = F.regexp_extract(b, r"^[^#]*?(\?[^#]*)", 1)
            base_dir = F.regexp_replace(b_path, "[^/]*$", "")
            cand = (
                F.when(h.rlike("^(?i:https?)://"), h)
                 .when(h.startswith("//"), F.concat(b_scheme, F.lit(":"), h))
                 .when(h.startswith("/"), F.concat(root, h))
                 .when(h.startswith("?"), F.concat(root, b_path, h))
                 .when(h == "", F.concat(root, b_path, b_query))
                 .otherwise(F.concat(root, base_dir, h)))

            def assemble(c: Column) -> Column:
                c_root = F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
                c_path = F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
                c_query = F.regexp_extract(c, r"^[^#]*?(\?[^#]*)", 1)
                return F.concat(
                    c_root,
                    remove_dot_segments(
                        F.when(c_path == "", F.lit("/")).otherwise(c_path)),
                    c_query)

            return F.when(
                h.rlike("^[A-Za-z][A-Za-z0-9+.-]*:")
                & ~h.rlike("^(?i:https?)://"),
                h).otherwise(let(cand, assemble))

        return let(F.regexp_replace(F.trim(href), "#.*$", ""), build)

    return let(base, outer)


_UDF_CACHE: dict = {}


def compression_ratio(text: Column) -> Column:
    """zlib-compressed-size / raw-size — the classic repetitiveness
    signal (template spam and keyword stuffing compress far better than
    natural prose; very high ratios flag random/binary junk). Needs
    Python zlib, so it ships as an Arrow-batched pandas UDF — the ONE
    sanctioned slow-path op in this module; everything else stays
    JVM-side. NULL for empty text. No DuckDB oracle (zlib output is
    library-defined); semantics pinned by pytest on planted inputs."""
    from pyspark.sql.functions import pandas_udf

    if "zratio" not in _UDF_CACHE:
        def _batch(s):
            import zlib

            import pandas as pd
            out = []
            for t in s:
                b = (t or "").encode("utf-8")
                out.append(len(zlib.compress(b, 6)) / len(b) if b else None)
            return pd.Series(out, dtype="float64")
        _UDF_CACHE["zratio"] = pandas_udf(_batch, "double")
    return _UDF_CACHE["zratio"](text)


def lexical_diversity(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Lexical-diversity quality features: token count, distinct tokens,
    type-token ratio, and hapax ratio (share of distinct tokens occurring
    exactly once) — low TTR/hapax flags template spam and keyword
    stuffing; both are standard corpus-quality signals.

    Shuffle-free column algebra: sort the token array once (``let`` — the
    sorted array is referenced 2n times), count group boundaries for
    distinct, and isolated positions (differs from BOTH neighbors) for
    hapax. Ratios ship as exact integer parts-per-million (floor of
    integer division) so the DuckDB oracle matches bit-for-bit with no
    float-rounding seams. Per-doc cost is O(n log n) on the token count —
    fine for web documents; a corpus-wide explode+groupBy is the shape
    for book-length texts.
    """
    from ..functions import let

    def stats(s: Column) -> Column:
        n = F.size(s)
        idx = F.sequence(F.lit(0), n - 1)
        new_grp = F.transform(
            idx, lambda i: F.when(i == 0, F.lit(1)).otherwise(
                (F.get(s, i) != F.get(s, i - 1)).cast("int")))
        # hapax position: differs from both neighbors (edges count as differ)
        hapax = F.transform(
            idx, lambda i: (F.coalesce(F.get(s, i) != F.get(s, i - 1), F.lit(True))
                            & F.coalesce(F.get(s, i) != F.get(s, i + 1), F.lit(True))
                            ).cast("int"))
        add = lambda a, b: a + b  # noqa: E731
        return F.struct(
            n.cast("bigint").alias("n_tokens"),
            F.aggregate(new_grp, F.lit(0).cast("bigint"), add).alias("n_distinct"),
            F.aggregate(hapax, F.lit(0).cast("bigint"), add).alias("n_hapax"))

    st = F.when(F.size(tokens_col(F.col(text_col))) > 0,
                let(F.array_sort(tokens_col(F.col(text_col))), stats)) \
         .otherwise(F.struct(F.lit(0).cast("bigint").alias("n_tokens"),
                             F.lit(0).cast("bigint").alias("n_distinct"),
                             F.lit(0).cast("bigint").alias("n_hapax")))
    out = df.select(F.col(id_col).alias(id_col), st.alias("_s"))
    n, d, h = F.col("_s.n_tokens"), F.col("_s.n_distinct"), F.col("_s.n_hapax")
    return out.select(
        id_col, n.alias("n_tokens"), d.alias("n_distinct"),
        F.when(n > 0, F.try_divide((d * 1_000_000).cast("bigint"), n)
               .cast("bigint"))
         .otherwise(F.lit(None)).alias("ttr_ppm"),
        F.when(d > 0, F.try_divide((h * 1_000_000).cast("bigint"), d)
               .cast("bigint"))
         .otherwise(F.lit(None)).alias("hapax_ppm"))


def stratified_sample(df: DataFrame, fractions: dict[str, float],
                      stratum_col: str = "lang", id_col: str = "doc_id",
                      oracle_safe: bool = False) -> DataFrame:
    """Deterministic stratified sampling — the corpus-mixing primitive
    (sample each source/language at its target rate when composing a
    training mix). Keep a row iff ``hash(stratum:id) < frac[stratum] ·
    2^32``: reproducible across runs, partitionings, and cluster sizes
    (no RNG state, unlike ``df.sample``), a pure map (zero shuffle), and
    stable under re-runs so resumes don't resample. Strata absent from
    ``fractions`` are DROPPED — the mix spec is explicit.

    ``oracle_safe=True`` swaps xxhash64 for the md5-derived bucket the
    DuckDB oracle can reproduce bit-for-bit (same dual-flavor pattern as
    operators.dedupe).
    """
    if not fractions:
        return df.filter(F.lit(False))  # empty mix spec drops everything
    key = F.concat_ws(":", F.col(stratum_col), F.col(id_col).cast("string"))
    if oracle_safe:
        bucket = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
    else:
        bucket = F.pmod(F.xxhash64(key), F.lit(1 << 32).cast("bigint"))
    thr = None
    for s, frac in fractions.items():
        c = F.col(stratum_col) == s
        t = F.lit(int(frac * (1 << 32))).cast("bigint")
        thr = F.when(c, t) if thr is None else thr.when(c, t)
    thr = thr.otherwise(F.lit(0).cast("bigint"))
    return df.filter(bucket < thr)


# RE2-compatible PII patterns (shared verbatim with the DuckDB oracle)
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
    (r"\+?[0-9][0-9()\-\s]{7,}[0-9]", "[PHONE]"),
)


def redact_pii(text: Column) -> Column:
    """Training-data PII scrubbing: emails, IPv4s, phone-shaped digit runs
    → typed placeholders. Ordered regexp_replace chain (email first so its
    digits can't be half-eaten by the phone pattern); all JVM-side."""
    out = text
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Gopher-style repetition filters: duplicate-line fraction and the
    fraction of all 2-grams taken by the most frequent 2-gram. High values
    flag boilerplate/spam for training-data removal. Line stats are pure
    column algebra; the top-bigram stat is one (doc, bigram) aggregation.
    """
    lines = F.filter(F.split(F.col(text_col), r"\n"),
                     lambda s: F.trim(s) != "")
    n_lines = F.size(lines)
    dup_frac = F.when(
        n_lines > 0,
        F.round((n_lines - F.size(F.array_distinct(lines)))
                / n_lines.cast("double"), 6)).otherwise(F.lit(0.0))
    toks = tokens_col(F.col(text_col))
    bigrams = F.when(F.size(toks) >= 2, F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.array_join(F.slice(toks, i, 2), " "))
    ).otherwise(F.array().cast("array<string>"))
    base = df.select(F.col(id_col).alias("doc_id"),
                     dup_frac.alias("dup_line_frac"),
                     bigrams.alias("_bg"))
    counts = (base.select("doc_id", F.explode_outer("_bg").alias("bg"))
              .groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
              .groupBy("doc_id")
              .agg(F.max(F.when(F.col("bg").isNotNull(), F.col("c"))
                         .otherwise(F.lit(0))).alias("top_c"),
                   F.sum(F.when(F.col("bg").isNotNull(), F.col("c"))
                         .otherwise(F.lit(0))).alias("total_c")))
    return (base.select("doc_id", "dup_line_frac").join(counts, "doc_id")
            .select("doc_id", "dup_line_frac",
                    F.when(F.col("total_c") > 0,
                           F.round(F.col("top_c") / F.col("total_c")
                                   .cast("double"), 6))
                    .otherwise(F.lit(0.0)).alias("top_bigram_frac")))


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-stop profiling projection used by the pipeline and the bench."""
    t = F.col(text_col)
    f = quality_features(t)
    return df.select(
        "*",
        f["n_tokens"].alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        F.round(f["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(quality_score(t), 6).alias("quality"),
        quality_gate(t).alias("quality_ok"),
        lang_id(t).alias("lang_pred"),
        doc_fingerprint(t).alias("content_fp"),
    )


# ---------------------------------------------------------------------------
# Gopher document-quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", appendix A1.1) — the
# published web-corpus filter set. Pure JVM column algebra over shared
# Java∩RE2 regexes, so the DuckDB oracle runs the same semantics.
# ---------------------------------------------------------------------------

# the 8 required "stop words" from A1.1 — a document must contain >= 2
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_features(text: Column) -> dict[str, Column]:
    """The Gopher rule inputs as named columns.

    * ``n_words`` — whitespace tokens;
    * ``mean_word_len`` — sum(len(tok)) / n_words;
    * ``symbol_ratio`` — (# count + ellipsis count, ``…`` or a disjoint
      ``...`` run) / n_words ("symbol-to-word ratio");
    * ``alpha_word_frac`` — fraction of words with >= 1 ASCII letter;
    * ``bullet_line_frac`` / ``ellipsis_line_frac`` — fraction of
      non-blank lines starting with a bullet (``•``, ``- ``, ``* ``) /
      ending with an ellipsis;
    * ``n_stop_hits`` — how many DISTINCT required stopwords appear.

    Ratios divide exact integer counts in double (bit-identical across
    engines); callers round for display, the gate compares unrounded.
    """
    toks = tokens_col(text)
    n_words = F.size(toks)
    safe_w = F.greatest(n_words, F.lit(1)).cast("double")
    sum_len = F.aggregate(toks, F.lit(0).cast("bigint"),
                          lambda a, t: a + F.length(t))
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#")))
    n_uell = F.length(text) - F.length(F.replace(text, F.lit("…")))
    n_dell = ((F.length(text) - F.length(F.replace(text, F.lit("..."))))
              / F.lit(3)).cast("bigint")
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    lines = F.filter(F.split(text, r"\n"), lambda s: F.trim(s) != "")
    n_lines = F.size(lines)
    safe_l = F.greatest(n_lines, F.lit(1)).cast("double")
    bullet = F.size(F.filter(
        lines, lambda s: F.ltrim(s).startswith("•")
        | F.ltrim(s).startswith("- ") | F.ltrim(s).startswith("* ")))
    ell = F.size(F.filter(
        lines, lambda s: F.rtrim(s).endswith("...")
        | F.rtrim(s).endswith("…")))
    # explicit membership sum (not array_intersect): bit-identical
    # restatement exists in every engine's SQL dialect
    low = F.transform(toks, F.lower)
    stops = sum(
        (F.array_contains(low, w).cast("int") for w in GOPHER_STOPWORDS),
        start=F.lit(0))
    return {
        "n_words": n_words,
        "mean_word_len": sum_len / safe_w,
        "symbol_ratio": (n_hash + n_uell + n_dell) / safe_w,
        "alpha_word_frac": alpha_words / safe_w,
        "bullet_line_frac": bullet / safe_l,
        "ellipsis_line_frac": ell / safe_l,
        "n_stop_hits": stops,
    }


def gopher_gate(text: Column,
                min_words: int = 50, max_words: int = 100_000,
                min_mean_word_len: float = 3.0,
                max_mean_word_len: float = 10.0,
                max_symbol_ratio: float = 0.1,
                max_bullet_frac: float = 0.9,
                max_ellipsis_frac: float = 0.3,
                min_alpha_word_frac: float = 0.8,
                min_stop_hits: int = 2) -> Column:
    """The A1.1 conjunction with the paper's thresholds as defaults:
    50 <= words <= 100k, mean word length in [3, 10], symbol ratio
    < 0.1, < 90% bullet lines, < 30% ellipsis lines, >= 80% alphabetic
    words, >= 2 required stopwords."""
    f = gopher_features(text)
    return ((f["n_words"] >= min_words) & (f["n_words"] <= max_words)
            & (f["mean_word_len"] >= min_mean_word_len)
            & (f["mean_word_len"] <= max_mean_word_len)
            & (f["symbol_ratio"] < max_symbol_ratio)
            & (f["bullet_line_frac"] < max_bullet_frac)
            & (f["ellipsis_line_frac"] < max_ellipsis_frac)
            & (f["alpha_word_frac"] >= min_alpha_word_frac)
            & (f["n_stop_hits"] >= min_stop_hits))


def gopher_rules(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-document Gopher feature row + verdict — a pure projection
    (zero Exchange, survives any scale: the rules never look across
    documents). Features rounded to 6 places for display; ``gopher_ok``
    is computed on the unrounded values."""
    t = F.col(text_col)
    f = gopher_features(t)
    return df.select(
        F.col(id_col),
        f["n_words"].alias("n_words"),
        F.round(f["mean_word_len"], 6).alias("mean_word_len"),
        F.round(f["symbol_ratio"], 6).alias("symbol_ratio"),
        F.round(f["alpha_word_frac"], 6).alias("alpha_word_frac"),
        F.round(f["bullet_line_frac"], 6).alias("bullet_line_frac"),
        F.round(f["ellipsis_line_frac"], 6).alias("ellipsis_line_frac"),
        f["n_stop_hits"].alias("n_stop_hits"),
        gopher_gate(t).alias("gopher_ok"))


# ---------------------------------------------------------------------------
# C4-style page cleaning (Raffel et al. 2020, "Exploring the Limits of
# Transfer Learning...", §2.2) — the published line/page filter used to
# build C4 from Common Crawl. Same pure-projection shape as gopher_rules.
# ---------------------------------------------------------------------------

# a kept line must end in one of these (C4: "terminal punctuation mark")
C4_TERMINAL = (".", "!", "?", '"')


def c4_line_keep(line: Column, min_line_words: int = 5) -> Column:
    """C4's line predicate over a TRIMMED line: ends in terminal
    punctuation, has >= ``min_line_words`` words, and does not mention
    javascript (case-insensitive)."""
    terminal = F.lit(False)
    for ch in C4_TERMINAL:
        terminal = terminal | line.endswith(ch)
    return ((line != "") & terminal
            & (F.size(tokens_col(line)) >= min_line_words)
            & ~F.lower(line).contains("javascript"))


def c4_text_cols(t: Column, min_line_words: int = 5,
                 min_kept_lines: int = 3) -> tuple[Column, Column, Column]:
    """(clean_text, n_kept_lines, page_ok) columns for a text column —
    the C4 core shared by ``c4_clean`` (the gate projection) and the
    curation capstone's optional c4 stage."""
    # NB: explicit single-arg lambda — passing F.trim directly would be
    # introspected as a TWO-variable HOF lambda (trim's optional second
    # param becomes the element index → trims index digits, not spaces)
    kept = F.filter(F.transform(F.split(t, r"\n"), lambda s: F.trim(s)),
                    lambda s: c4_line_keep(s, min_line_words))
    page_ok = (~t.contains("{")
               & ~F.lower(t).contains("lorem ipsum")
               & (F.size(kept) >= min_kept_lines))
    return F.array_join(kept, "\n"), F.size(kept), page_ok


def c4_clean(df: DataFrame, id_col: str = "doc_id",
             text_col: str = "text", min_line_words: int = 5,
             min_kept_lines: int = 3) -> DataFrame:
    """Per-document C4 cleaning: lines are trimmed and kept per
    ``c4_line_keep``; the page survives iff >= ``min_kept_lines`` lines
    survive (the "fewer than 3 sentences" page rule, with kept lines as
    the sentence proxy), the raw text has no ``{`` (code page rule) and
    no ``lorem ipsum``. Emits the cleaned text (kept lines joined with
    newlines), the kept/total line counts, and ``c4_ok``.

    Like the reference's tolerant-parse policy (ST8), nothing errors:
    an all-dropped page simply emits ``clean_text=''`` and
    ``c4_ok=false``. Zero Exchange — every rule is within-row.
    """
    t = F.col(text_col)
    clean_text, n_kept, page_ok = c4_text_cols(
        t, min_line_words, min_kept_lines)
    return df.select(
        F.col(id_col),
        clean_text.alias("clean_text"),
        n_kept.alias("n_kept_lines"),
        F.size(F.filter(F.split(t, r"\n"), lambda s: F.trim(s) != ""))
         .alias("n_lines"),
        page_ok.alias("c4_ok"))


# ---------------------------------------------------------------------------
# SURT — Sort-friendly URI Reordering Transform (the Wayback/IA key form:
# pywb / webarchive-commons "surt" canonicalization, public spec). The key
# under which a web-archive URL index (CDX) sorts, so one host's captures
# are contiguous and prefix queries ("everything under com,example)/a/")
# are range scans.
# ---------------------------------------------------------------------------


def surt_key(url: Column) -> Column:
    """SURT form of an http(s) URL, lowercased (the wayback default):

    * scheme dropped; userinfo dropped; leading ``www.`` dropped;
    * default ports stripped (``:80`` http, ``:443`` https), other
      ports kept;
    * host labels REVERSED and comma-joined, then ``)`` + path;
    * query params sorted bytewise and re-joined (``?a=1&b=2``), empty
      query dropped; fragment dropped;
    * trailing slash stripped from non-root paths; empty path → ``/``.

    ``http://User@WWW.Example.COM:80/B/a?z=1&a=2#f`` →
    ``com,example)/b/a?a=2&z=1``. NULL for non-http(s) values. Pure JVM
    column algebra on shared-dialect regexes (DuckDB oracle runs the
    same expressions).
    """
    from ..functions import let

    def build(u: Column) -> Column:
        scheme = F.lower(F.regexp_extract(
            u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
        auth = F.lower(F.regexp_extract(
            u, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/?#]+)", 1))
        auth = F.when(scheme == "http", F.regexp_replace(auth, r":80$", "")) \
                .when(scheme == "https", F.regexp_replace(auth, r":443$", "")) \
                .otherwise(auth)
        host = F.regexp_replace(F.regexp_extract(auth, r"^([^:]*)", 1),
                                r"^www\.", "")
        port = F.regexp_extract(auth, r"(:\d+)$", 1)  # surviving port
        rev = F.concat(
            F.array_join(F.reverse(F.split(host, r"\.")), ","), port)
        rest = F.lower(F.regexp_replace(
            F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1),
            r"#.*$", ""))
        path = F.regexp_extract(rest, r"^([^?]*)", 1)
        path = F.when(path == "", F.lit("/")) \
                .otherwise(F.regexp_replace(path, r"(.)/$", "$1"))
        query = F.regexp_replace(rest, r"^[^?]*\??", "")
        q = F.array_join(F.array_sort(
            F.filter(F.split(query, "&"), lambda p: p != "")), "&")
        return F.concat(rev, F.lit(")"), path,
                        F.when(q == "", F.lit("")).otherwise(
                            F.concat(F.lit("?"), q)))

    ok = F.regexp_extract(url, r"^(?i:https?)://[^/?#]+", 0) != ""
    return F.when(ok, let(url, build)).otherwise(F.lit(None).cast("string"))


def gopher_repetition(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      top_ns: tuple[int, ...] = (2, 3, 4),
                      dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10)
                      ) -> DataFrame:
    """The FULL Gopher repetition-signal set (Rae et al. 2021 A1.1),
    extending ``repetition_stats``'s two signals to the paper's twelve:

    * ``dup_line_frac`` / ``dup_para_frac`` — fraction of non-blank
      trimmed lines / paragraphs (blank-line-separated) that are
      repeats of an earlier one;
    * ``dup_line_char_frac`` / ``dup_para_char_frac`` — fraction of
      unit characters inside those repeats (occurrences beyond the
      first; denominator = total unit characters);
    * ``top_{n}gram_char_frac`` for n in ``top_ns`` — characters
      covered by occurrences of the MOST frequent word n-gram (count ×
      n-gram length, spaces included) over total document characters;
      ties break to the lexicographically largest gram (deterministic
      across engines and partitionings);
    * ``dup_{n}gram_char_frac`` for n in ``dup_ns`` — characters of
      tokens covered by ANY occurrence of a repeated n-gram, counted
      ONCE per token even when overlapping n-grams cover it (the
      masking semantics of the published implementations), over total
      document characters.

    Scale shape: line/paragraph stats are in-row column algebra (O(U²)
    in units per row — crawl documents have hundreds of lines, not
    millions); the n-gram stats are ONE explode keyed (doc, n, gram)
    followed by count aggregation, a positions re-join for the dup
    mask, and conditional-aggregation pivots — every shuffle carries
    (doc_id, n, gram/pos) rows only, never the text.
    """
    t = F.col(text_col)
    total = F.greatest(F.length(t), F.lit(1)).cast("double")

    def unit_cols(units):
        n = F.size(units)
        nd = F.size(F.array_distinct(units))
        frac = F.when(n > 0, F.round((n - nd) / n.cast("double"), 6)) \
                .otherwise(F.lit(0.0))
        dup_chars = F.aggregate(
            F.transform(
                F.array_distinct(units),
                lambda v: (F.size(F.filter(units, lambda u: u == v))
                           - 1).cast("bigint") * F.length(v)),
            F.lit(0).cast("bigint"), lambda a, x: a + x)
        tot_chars = F.aggregate(
            F.transform(units, lambda u: F.length(u).cast("bigint")),
            F.lit(0).cast("bigint"), lambda a, x: a + x)
        char_frac = F.when(
            tot_chars > 0,
            F.round(dup_chars / tot_chars.cast("double"), 6)) \
            .otherwise(F.lit(0.0))
        return frac, char_frac

    lines = F.filter(F.transform(F.split(t, r"\n"), lambda s: F.trim(s)),
                     lambda s: s != "")
    paras = F.filter(F.transform(F.split(t, r"\n{2,}"),
                                 lambda s: F.trim(s)),
                     lambda s: s != "")
    line_frac, line_char = unit_cols(lines)
    para_frac, para_char = unit_cols(paras)

    all_ns = tuple(sorted(set(top_ns) | set(dup_ns)))
    toks = tokens_col(t)
    gram_t = "array<struct<n:int,pos:int,g:string>>"

    # NB: closure factory, NOT ``lambda i, n=n`` — a default arg makes
    # PySpark's HOF introspection bind the lambda as TWO-variable, so
    # ``n`` would become the element-index column instead of the int
    def _gram_fn(n):
        def f(i):
            return F.struct(
                F.lit(n).alias("n"), (i - 1).cast("int").alias("pos"),
                F.array_join(F.slice(toks, i, n), " ").alias("g"))
        return f

    per_n = [
        F.when(F.size(toks) >= n, F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1), _gram_fn(n)))
        .otherwise(F.expr(f"CAST(array() AS {gram_t})"))
        for n in all_ns]

    base = df.select(
        F.col(id_col).alias("doc_id"),
        line_frac.alias("dup_line_frac"),
        line_char.alias("dup_line_char_frac"),
        para_frac.alias("dup_para_frac"),
        para_char.alias("dup_para_char_frac"),
        total.alias("_total"),
        toks.alias("_toks"),
        F.flatten(F.array(*per_n)).alias("_grams"))

    exploded = base.select("doc_id", "_total",
                           F.explode("_grams").alias("gr")) \
        .select("doc_id", "_total", F.col("gr.n").alias("n"),
                F.col("gr.pos").alias("pos"), F.col("gr.g").alias("g"))
    counts = exploded.groupBy("doc_id", "n", "g") \
        .agg(F.count(F.lit(1)).alias("c"), F.first("_total").alias("_total"))

    # top-n-gram char coverage: count × gram length, deterministic
    # tie-break (count desc, gram desc)
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id", "n").orderBy(
        F.col("c").desc(), F.col("g").desc())
    top = (counts.where(F.col("n").isin(*top_ns))
           .withColumn("_rk", F.row_number().over(w))
           .where(F.col("_rk") == 1)
           .select("doc_id", "n",
                   F.round((F.col("c") * F.length("g"))
                           / F.col("_total"), 6).alias("v")))
    top_piv = top.groupBy("doc_id").agg(*[
        F.max(F.when(F.col("n") == n, F.col("v")))
         .alias(f"top_{n}gram_char_frac") for n in top_ns])

    # dup-n-gram mask: token indices covered by any gram with count>=2,
    # each token counted once; chars = sum of those tokens' lengths
    dup_pos = (exploded.where(F.col("n").isin(*dup_ns))
               .join(counts.where(F.col("c") >= 2)
                     .select("doc_id", "n", "g"), ["doc_id", "n", "g"])
               .select("doc_id", "n",
                       F.explode(F.sequence(
                           F.col("pos"),
                           F.col("pos") + F.col("n") - 1)).alias("idx"))
               .distinct())
    tok_lens = base.select(
        "doc_id", "_total",
        F.posexplode("_toks").alias("idx", "tok")) \
        .select("doc_id", "_total", "idx",
                F.length("tok").cast("bigint").alias("len"))
    dup = (dup_pos.join(tok_lens, ["doc_id", "idx"])
           .groupBy("doc_id", "n")
           .agg(F.round(F.sum("len") / F.first("_total"), 6).alias("v")))
    dup_piv = dup.groupBy("doc_id").agg(*[
        F.max(F.when(F.col("n") == n, F.col("v")))
         .alias(f"dup_{n}gram_char_frac") for n in dup_ns])

    out = (base.drop("_total", "_toks", "_grams")
           .join(top_piv, "doc_id", "left")
           .join(dup_piv, "doc_id", "left"))
    fills = {f"top_{n}gram_char_frac": 0.0 for n in top_ns}
    fills.update({f"dup_{n}gram_char_frac": 0.0 for n in dup_ns})
    return out.fillna(fills)


def corpus_datacard(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Per-language corpus data card — the one-screen summary a corpus
    release ships with: document count, token mass, mean quality score,
    and the Gopher/C4 pass rates. One groupBy(lang) aggregation;
    per-row doubles are integer-scaled BEFORE the sum (order-dependent
    float addition would break cross-engine determinism), the final
    mean is a single division."""
    t = F.col(text_col)
    q_e6 = F.round(quality_score(t) * 1e6).cast("bigint")
    return (df.select(
                lang_id(t).alias("lang"),
                token_count(t).cast("bigint").alias("_nt"),
                q_e6.alias("_q"),
                gopher_gate(t).cast("int").alias("_g"),
                c4_text_cols(t)[2].cast("int").alias("_c4"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("_nt").alias("total_tokens"),
                 F.round((F.sum("_q") / F.count(F.lit(1))) / 1e6, 6)
                  .alias("mean_quality"),
                 F.round(F.sum("_g") / F.count(F.lit(1)).cast("double"), 6)
                  .alias("gopher_pass_rate"),
                 F.round(F.sum("_c4") / F.count(F.lit(1)).cast("double"), 6)
                  .alias("c4_pass_rate")))


# Unicode script ranges as LITERAL character ranges — identical pattern
# bytes on both engines (Java regex and RE2 both accept literal-char
# classes; named \p{Script=} classes differ between dialects, so we
# stay on explicit ranges). Coverage: the major crawl scripts; chars
# outside every range (digits, punctuation, space, other scripts)
# count toward none.
SCRIPT_RANGES = {
    "arabic": "؀-ۿ",
    "cjk": "一-鿿",
    "cyrillic": "Ѐ-ӿ",
    "devanagari": "ऀ-ॿ",
    "greek": "Ͱ-Ͽ",
    "hangul": "가-힯",
    "hebrew": "֐-׿",
    "kana": "぀-ヿ",
    # NB: À-ɏ minus the two Latin-1 NON-letters embedded in the block
    # (× U+00D7, ÷ U+00F7) — a division sign is not Latin text
    "latin": "A-Za-zÀ-ÖØ-öø-ɏ",
}


def script_counts(text: Column) -> dict[str, Column]:
    """Per-script character counts (exact ints — the cross-engine-safe
    currency): count = length(text) - length(text with the script's
    chars removed). One JVM regexp_replace per script, zero Exchange."""
    return {
        name: (F.length(text)
               - F.length(F.regexp_replace(text, f"[{rng}]", "")))
        for name, rng in SCRIPT_RANGES.items()
    }


def script_profile(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-document script histogram + dominant script — the
    multilingual-curation router (script disagreement with the claimed
    language is a classic crawl-noise signal; CJK/kana mixtures route
    to different tokenizers). Pure projection: every count is in-row
    column algebra, ``dominant_script`` is an argmax over the counts
    with a deterministic max-name tie-break, ``'none'`` when no script
    char occurs at all."""
    t = F.col(text_col)
    counts = script_counts(t)
    pairs = [F.struct(c.alias("n"), F.lit(name).alias("s"))
             for name, c in counts.items()]
    best = F.greatest(*pairs)
    return df.select(
        F.col(id_col),
        *[c.cast("int").alias(f"n_{name}")
          for name, c in sorted(counts.items())],
        F.when(best["n"] > 0, best["s"]).otherwise(F.lit("none"))
         .alias("dominant_script"))


def bigram_lm_scores(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     n_buckets: int = 3,
                     min_count: int | None = None,
                     top_n: int | None = None) -> DataFrame:
    """CCNet-style LM quality signal (Wenzek et al. 2020): train an
    add-one-smoothed bigram LM on the corpus itself, score every
    document by mean bigram log-probability, and split the corpus into
    ``n_buckets`` perplexity buckets (bucket 1 = most predictable =
    CCNet's "head"; highest = "tail").

    logP(w2 | w1) = ln((c(w1,w2) + 1) / (c(w1) + V)) with c(w1) the
    corpus unigram count and V the corpus vocabulary size — every input
    to the log is an exact integer, and per-bigram terms are
    integer-scaled (round(ln·1e6)) BEFORE the sum, so sums and means
    are bit-identical across engines and partitionings (the
    unigram_logprob pattern).

    Documents with fewer than two tokens carry no bigram evidence and
    are dropped (documented; a production run would route them to a
    short-docs bucket before this operator).

    Scale shape: bigram/unigram count aggregations shuffle word-pair /
    word strings with map-side combine; the bucket split is ONE global
    ntile window over (score, doc_id) — at corpus scale swap in fixed
    score thresholds from a reference run (CCNet's actual design) to
    avoid the single-pass sort. Two scoring shapes (the
    ``unigram_logprob`` split):

    * exact (default, the oracle's twin): the doc-bigram instances join
      the count tables on (w1, w2) — the full bigram explosion crosses
      an exchange. Fine to ~10^9 docs;
    * pruned-broadcast (``min_count`` and/or ``top_n`` set — the
      10^12-doc shape): the bigram LM is frequency-pruned (c12 >=
      min_count, then the top_n most frequent, ties (w1, w2)-asc), its
      per-bigram terms are precomputed against the UNPRUNED unigram
      counts and vocab size, and the small table is broadcast — the
      scoring join is map-side (BroadcastHashJoin), so the instance
      explosion never shuffles. Pruned (OOV) bigrams are excluded from
      both ``logprob_scaled`` and ``n_bigrams`` (a doc with no
      surviving bigram drops out, like the <2-token docs); at
      ``min_count=1, top_n=None`` the result is exactly the default
      (every observed bigram has c12 >= 1 — pytest-pinned equivalence).
    """
    from pyspark.sql import Window

    toks = F.transform(tokens_col(F.col(text_col)), F.lower)
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
    bi = (base.filter(F.size("_toks") >= 2)
          .select("doc_id", F.explode(F.transform(
              F.sequence(F.lit(1), F.size("_toks") - 1),
              lambda i: F.struct(
                  F.get(F.col("_toks"), i - 1).alias("w1"),
                  F.get(F.col("_toks"), i).alias("w2")))).alias("b"))
          .select("doc_id", F.col("b.w1").alias("w1"),
                  F.col("b.w2").alias("w2")))
    uni = (base.select(F.explode("_toks").alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c1")))
    vocab = uni.select(F.count(F.lit(1)).alias("v"))
    big = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    t_expr = F.round(F.log((F.col("c12") + 1).cast("double")
                           / (F.col("c1") + F.col("v")).cast("double"))
                     * 1e6).cast("bigint")
    if min_count is None and top_n is None:
        term = (bi.join(big, ["w1", "w2"])
                .join(uni.withColumnRenamed("w", "w1"), "w1")
                .crossJoin(F.broadcast(vocab))
                .select("doc_id", t_expr.alias("t")))
    else:
        pruned = big
        if min_count is not None:
            pruned = pruned.filter(F.col("c12") >= min_count)
        if top_n is not None:
            pruned = pruned.orderBy(F.col("c12").desc(), "w1", "w2") \
                           .limit(top_n)
        # terms precomputed ONCE on the tiny pruned side — broadcast
        # INTO the unigram join too, so the (vocab-sized) unigram table
        # never shuffles on w1 — then broadcast again for scoring: the
        # scoring join is map-side and the bigram instance explosion
        # stays in its scan partitions
        scoring = F.broadcast(
            uni.withColumnRenamed("w", "w1")
               .join(F.broadcast(pruned), "w1")
               .crossJoin(F.broadcast(vocab))
               .select("w1", "w2", t_expr.alias("t")))
        term = bi.join(scoring, ["w1", "w2"]).select("doc_id", "t")
    scored = term.groupBy("doc_id").agg(
        F.sum("t").alias("logprob_scaled"),
        F.count(F.lit(1)).alias("n_bigrams"))
    w = Window.orderBy(
        (F.col("logprob_scaled").cast("double")
         / F.col("n_bigrams").cast("double")).desc(), F.col("doc_id"))
    return scored.select(
        "doc_id",
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.col("logprob_scaled").cast("bigint").alias("logprob_scaled"),
        F.round((F.col("logprob_scaled") / F.col("n_bigrams")) / 1e6, 6)
         .alias("mean_logprob"),
        F.ntile(n_buckets).over(w).cast("int").alias("ppl_bucket"))
