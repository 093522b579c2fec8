"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline (pages → records)
over the sf0.001 ``documents`` table rendered as boilerplated web pages.
``queries()``/``oracle_sql()`` cover the operator inventory of SURVEY.md
§2, checked side-by-side against DuckDB at sf0.01.

Alignment rules used throughout (Spark ↔ DuckDB):

* money sums → integer cents (``cast(round(x*100)) as bigint``) so sums are
  exact and order-insensitive in both engines;
* regexes restricted to RE2-compatible syntax (no lookaround) for oracle
  queries; ``nullif(.., '')`` normalizes the no-match result;
* every computed column aliased identically on both sides.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F, Window as W

SF_DEFAULT = "/root/testdata/sf0.001"

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    documents → rendered pages (url, warc_ts, html, text, lang) →
    ``extract_records`` → records, with a per-url byte-identity flag
    against the carried ground truth.
    """
    from wine_label_ocr_spark.fixtures import documents_as_pages
    from wine_label_ocr_spark.plans.pipeline import extract_records

    pages = documents_as_pages(spark, SF_DEFAULT)
    truth = pages.select("url", F.col("text").alias("truth_text"))
    rec = extract_records(pages).select(
        "url", "warc_ts", "lang", "text", "maker_name", "vintage",
        "custom_id", "rec_id", "fingerprint")
    return (
        rec.join(truth, "url")
        .withColumn("byte_identical", F.col("text") == F.col("truth_text"))
        .drop("truth_text")
    )


# ---------------------------------------------------------------------------
# Oracle-checked queries (SURVEY.md §2 inventory)
# ---------------------------------------------------------------------------

def q_lineitem_agg(spark, sf):  # A1/A4/A8 — grouped hash agg, exact cents
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
                  .cast("bigint")).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_top_customer_per_nation(spark, sf):  # W2 — top-1 per group
    c = _t(spark, sf, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("c_nationkey").cast("int").alias("nationkey"),
                F.col("c_custkey").cast("bigint").alias("custkey"),
                F.round("c_acctbal", 2).alias("acctbal"))
    )


def q_orders_by_segment(spark, sf):  # J1-style equi join (broadcast dim) + agg
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
             .alias("total_cents"))
    )


def q_customers_with_orders(spark, sf):  # J1 — semi join ("seen")
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .select(F.col("c_custkey").cast("bigint").alias("custkey")))


def q_customers_without_orders(spark, sf):  # J11 — anti join (dedup insert)
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .select(F.col("c_custkey").cast("bigint").alias("custkey")))


def q_year_extract(spark, sf):  # E4/E10 — ordered regex year + range gate
    d = _t(spark, sf, "documents")
    synth = F.concat(F.lit("rev vintage "),
                     (F.lit(1900) + F.col("doc_id") % 140).cast("string"),
                     F.lit(" tail "), F.substring("text", 1, 20))
    year = F.nullif(F.regexp_extract(synth, r"vintage ((?:19|20)[0-9]{2})", 1),
                    F.lit("")).cast("int")
    year = F.when((year >= 1900) & (year <= 2030), year)
    return d.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    year.cast("int").alias("vintage"))


def q_normalize_maker(spark, sf):  # E7 — charset-whitelist normalization
    d = _t(spark, sf, "documents")
    s = F.upper(F.substring("text", 1, 50))
    s = F.regexp_replace(s, r"[^A-Z0-9 &'-]", "")
    s = F.trim(F.regexp_replace(s, " +", " "))
    return d.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    F.nullif(s, F.lit("")).alias("maker_name"))


def q_custom_id(spark, sf):  # E11/E12 — key concat + content-hash id
    d = _t(spark, sf, "documents")
    maker = F.trim(F.upper(F.substring("text", 1, 24)))
    year = (F.lit(1900) + F.col("doc_id") % 131).cast("string")
    cid = F.concat(maker, F.lit("|"), year)
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        cid.alias("custom_id"),
        F.substring(F.md5(cid), 1, 12).alias("rec_id"))


def q_alnum_stats(spark, sf):  # E14 + A1 — alnum char count, grouped mean
    d = _t(spark, sf, "documents")
    alnum = F.length(F.regexp_replace("text", "[^A-Za-z0-9]", ""))
    return (d.groupBy("lang")
            .agg(F.sum(alnum.cast("bigint")).alias("sum_alnum"),
                 F.count(F.lit(1)).alias("n_docs")))


def q_token_counts(spark, sf):  # token counting (training-pipeline op)
    d = _t(spark, sf, "documents")
    return (d.groupBy("lang")
            .agg(F.sum(F.size(F.split("text", " ")).cast("bigint"))
                 .alias("sum_tokens")))


def q_exact_dup_groups(spark, sf):  # exact dedup — hash-groupBy on prefix
    d = _t(spark, sf, "documents")
    return (d.groupBy(F.md5(F.substring("text", 1, 32)).alias("prefix_hash"))
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1))


def q_window_spread_5s(spark, sf):  # W5/A7 — 5s range frame, max-min spread
    e = _t(spark, sf, "events")
    # ts is TIMESTAMP_NTZ; session tz is UTC so the cast is lossless
    w = (W.partitionBy("user_id").orderBy(F.unix_millis(F.col("ts").cast("timestamp")))
         .rangeBetween(-5000, 0))
    return e.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.round(F.max("value").over(w) - F.min("value").over(w), 6).alias("spread"))


def q_running_peak(spark, sf):  # W6 — monotone running max per key
    e = _t(spark, sf, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, 0))
    return e.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.round(F.max("value").over(w), 6).alias("peak"))


def q_stopword_strip(spark, sf):  # U2/E8 — token set-difference
    d = _t(spark, sf, "documents").filter(F.col("lang") == "en")
    toks = F.array_distinct(F.split("text", " "))
    kept = F.array_sort(F.array_except(toks, F.array(*[F.lit(s) for s in STOPWORDS])))
    return d.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    F.array_join(kept, " ").alias("kept_tokens"))


FUZZY_MAX_BLOCK = 500  # skew guard: cost is Σ block² — bound the hot block


def q_fuzzy_blocked_join(spark, sf):  # J2/J3/J6 — blocked fuzzy theta join
    # r10: the SMJ self-join + per-pair JVM levenshtein became a blocked
    # Myers bit-parallel batch kernel (similarity.blocked_prefix_pairs):
    # ONE exchange on the block key, no quadratic row materialization,
    # ~1 µs/pair instead of ~14 µs/pair measured at sf1.0. Block-size cap
    # (count(*) over ALL rows of the block, nulls included), null-
    # rejecting key equality, null id/pfx discard, a<b ordering and the
    # sim ≥ 0.5 gate are replicated exactly (see the operator docstring);
    # the similarity itself is derived NATIVELY below from the kernel's
    # (lev, maxlen) with the same expression the former plan used, so the
    # doubles are bit-identical. Equivalence pinned by
    # tests/test_r10_optimizations.py::test_fuzzy_blocked_join_matches_legacy.
    from wine_label_ocr_spark.operators.similarity import blocked_prefix_pairs
    d = _t(spark, sf, "documents").select(
        "doc_id", "lang", "source", F.substring("text", 1, 40).alias("pfx"))
    # explicit co-partitioning on the block key (scale-adaptive count):
    # the groupBy reuses this exact hash partitioning (no second
    # exchange), and being user-specified it is NOT AQE-coalesced — the
    # quadratic kernel work stays spread over every core even though the
    # shuffled (id, key, pfx) rows are only a few MB (guide §2.5)
    d = d.repartition(max(spark.sparkContext.defaultParallelism * 2, 16),
                      "lang", "source")
    pairs = blocked_prefix_pairs(d, id_col="doc_id",
                                 block_cols=("lang", "source"),
                                 pfx_col="pfx", max_block=FUZZY_MAX_BLOCK)
    sim = F.lit(1.0) - F.col("lev") / F.col("maxlen")
    return (pairs.select(F.col("id_a").cast("bigint").alias("doc_a"),
                         F.col("id_b").cast("bigint").alias("doc_b"),
                         F.round(sim, 6).alias("sim"))
            .filter(F.col("sim") >= 0.5))


# ---------------------------------------------------------------------------
# Batch 2 — extraction pipeline end-to-end + training-pipeline operators
# ---------------------------------------------------------------------------

def q_extract_fields_pipeline(spark, sf):
    """Full extract pipeline over documents rendered as web pages; the
    DuckDB oracle reconstructs the expected fields from documents directly.
    This puts byte-identity itself under the driver's correctness gate."""
    from wine_label_ocr_spark.fixtures import documents_as_pages
    from wine_label_ocr_spark.plans.pipeline import extract_records

    rec = extract_records(documents_as_pages(spark, sf))
    return rec.select(
        F.regexp_extract("url", r"/doc/(\d+)", 1).cast("bigint").alias("doc_id"),
        "maker_name",
        F.col("vintage").cast("int").alias("vintage"),
        "custom_id",
        "text")


def q_extract_pdf_pipeline(spark, sf):
    """PDF layout-parse branch under the correctness gate: documents
    rendered as PDF payloads → same span schema → byte-identical text."""
    from wine_label_ocr_spark.fixtures import documents_as_pdf_pages
    from wine_label_ocr_spark.plans.pipeline import extract_records

    rec = extract_records(documents_as_pdf_pages(spark, sf))
    return rec.select(
        F.regexp_extract("url", r"/doc/(\d+)", 1).cast("bigint").alias("doc_id"),
        F.col("blob_data.mask_info.method").alias("method"),
        "maker_name",
        "text")


def _shard_dir(root: str, kind: str, sf: str, tag: str) -> str:
    """Cache dir of the ``kind`` gate's shards (``warc``, ``wat``, ``wet``)
    of ``sf`` under ``root``: ``wlos_<kind>_<md5(sf)[:8]>_<tag>``, so the
    dirs of one gate and ``sf`` share a prefix and differ only in the
    content tag."""
    import os
    sf_key = hashlib.md5(sf.encode()).hexdigest()[:8]
    return os.path.join(root, f"wlos_{kind}_{sf_key}_{tag}")


def _prune_shards(shard_dir: str) -> list[str]:
    """Remove the published shard dirs of the same gate and ``sf`` with
    another tag (caches of an older renderer, writer or fixture), after
    ``shard_dir`` was published, and the gate's published dirs of the
    older naming with no ``sf`` key (``wlos_<kind>_<tag>``). Staging dirs
    (``.stage-``) of in-flight runs, the dirs of other ``sf`` values and
    of other gates are left alone. Returns the removed names."""
    import os
    import re
    import shutil
    root, name = os.path.split(shard_dir)
    prefix = name[:name.rindex("_") + 1]
    kind = name.split("_")[1]
    stale = [d for d in os.listdir(root) if d != name and (
        d.startswith(prefix) and ".stage-" not in d
        or re.fullmatch(rf"wlos_{kind}_[0-9a-f]{{10}}", d))]
    for d in stale:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return stale


def _cached_shards(sf: str, kind: str, sources: tuple,
                   pages: Callable[[], DataFrame],
                   write: Callable[[DataFrame, str], DataFrame]) -> str:
    """Dir of the ``kind`` gate's gzip shards of ``sf``, exported on a
    miss by ``write(pages(), dir)`` (a DISTRIBUTED shard writer over 4
    url-hashed partitions) under the system temp dir.

    The cache tag covers the parquet fixture's file identity (names,
    sizes, mtimes) and the source of every object in ``sources`` (the
    page construction and the writer/reader modules), so an edit to any
    of them never serves stale shards to the gate that certifies them.
    A miss exports into a run-private staging dir, then ONE atomic
    directory rename publishes it — concurrent runs race on the rename,
    losers discard their staging dir, readers only ever see exactly one
    complete shard set — and the winner prunes the gate's older caches
    of the same ``sf`` (``_prune_shards``)."""
    import inspect
    import os
    import shutil
    import tempfile
    import uuid

    doc_dir = os.path.join(sf, "documents.parquet")
    stat = "" if not os.path.isdir(doc_dir) else ";".join(
        f"{f}:{s.st_size}:{s.st_mtime_ns}" for f, s in sorted(
            (f, os.stat(os.path.join(doc_dir, f)))
            for f in os.listdir(doc_dir) if not f.startswith(".")))
    tag = hashlib.md5((sf + stat + "".join(map(inspect.getsource, sources)))
                      .encode()).hexdigest()[:10]
    shard_dir = _shard_dir(tempfile.gettempdir(), kind, sf, tag)
    if not os.path.isdir(shard_dir):
        staging = f"{shard_dir}.stage-{uuid.uuid4().hex}"
        write(pages().repartition(4, F.abs(F.xxhash64("url")) % 4),
              staging).collect()
        try:
            os.rename(staging, shard_dir)
        except OSError:
            if os.path.isdir(shard_dir):
                shutil.rmtree(staging, ignore_errors=True)  # lost the race
            else:
                raise  # a real failure (EXDEV/EACCES/ENOSPC), not the race
        else:
            _prune_shards(shard_dir)
    return shard_dir


def q_warc_extract(spark, sf):
    """WARC ingestion under the correctness gate: documents rendered as
    pages → exported with the DISTRIBUTED gzip shard writer (the
    production sink — per-record gzip members, task-side atomic publish,
    no driver collect) → read back through the binaryFile scan → full
    extraction. The oracle recomputes the expected fields from
    documents directly, so a hash match proves the gzip WARC path is
    byte-faithful end-to-end."""
    import os

    from wine_label_ocr_spark import fixtures as _fx
    from wine_label_ocr_spark.fixtures import documents_as_pages
    from wine_label_ocr_spark.plans.pipeline import extract_records
    from wine_label_ocr_spark.sources import warc as _warc_mod
    from wine_label_ocr_spark.sources.warc import read_warc, write_warc_shards

    # the tag covers the renderer's source and the WARC writer/reader
    # module (a format_warc_record/gzip_member change must not serve
    # stale shards to the gate that certifies the writer).
    # http_envelope=True: response records carry a real HTTP status
    # line + headers (the Common-Crawl layout) — the reader must strip
    # the envelope and honor the HTTP Content-Type charset for the
    # hash to stay green against the envelope-free oracle
    shard_dir = _cached_shards(
        sf, "warc", (_fx.render_doc_page, _fx.documents_as_pages, _warc_mod),
        lambda: documents_as_pages(spark, sf),
        lambda p, d: write_warc_shards(p, d, compress=True,
                                       http_envelope=True))
    pages = read_warc(spark, os.path.join(shard_dir, "*.warc.gz"))
    rec = extract_records(pages)
    return rec.select(
        F.regexp_extract("url", r"/doc/(\d+)", 1).cast("bigint").alias("doc_id"),
        "maker_name",
        F.col("vintage").cast("int").alias("vintage"),
        "text")


def q_bpe_token_counts(spark, sf):  # textops: BPE-ish tokenizer
    from wine_label_ocr_spark.operators.textops import bpe_ish_token_count
    d = _t(spark, sf, "documents")
    return (d.groupBy("lang")
            .agg(F.sum(bpe_ish_token_count(F.col("text")).cast("bigint"))
                 .alias("sum_bpe_tokens")))


def q_quality_scores(spark, sf):  # textops: quality score + gate
    from wine_label_ocr_spark.operators.textops import quality_gate, quality_score
    # the documents scan is one split at bench scale (small compressed
    # parquet, large maxPartitionBytes) — an explicit repartition spreads
    # the per-row token/regex work over every core (guide §2.5; the same
    # pattern ema_phase_batch uses); output is per-row, order-free
    d = _t(spark, sf, "documents").repartition(
        max(spark.sparkContext.defaultParallelism, 8))
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.round(quality_score(F.col("text")), 6).alias("quality"),
        quality_gate(F.col("text")).alias("quality_ok"))


def q_lang_id(spark, sf):  # textops: marker-based language id
    from wine_label_ocr_spark.operators.textops import lang_id
    d = _t(spark, sf, "documents")
    return d.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    lang_id(F.col("text")).alias("lang_pred"))


# Seed corpus for the statistical lang-id head (r8 VERDICT #3) — three
# generic sentences + one interrogative phrase-book line per language.
# PUBLIC-knowledge sample text written for this repo; the model is
# multinomial NB over hashed char 2–3-grams (Cavnar–Trenkle/langid.py
# family), so the whole train+score path is exact integer algebra both
# engines can replay.
_LANG_SEED = [
    ("en", "the quick brown fox jumps over the lazy dog and runs away"),
    ("en", "she was not there when they looked for the right answer"),
    ("en", "every morning brings another chance to think things through"),
    ("en", "could you tell me what time it is right now please"),
    ("de", "der schnelle braune fuchs springt über den faulen hund weg"),
    ("de", "sie war nicht dort als sie nach der richtigen antwort suchten"),
    ("de", "jeden morgen gibt es eine neue gelegenheit nachzudenken"),
    ("de", "können sie mir bitte sagen wie spät es jetzt ist"),
    ("fr", "le renard brun rapide saute par dessus le chien paresseux"),
    ("fr", "elle n'était pas là quand ils cherchaient la bonne réponse"),
    ("fr", "chaque matin apporte une nouvelle occasion de réfléchir"),
    ("fr", "où est la gare et où sont les toilettes dans cette ville"),
    ("es", "el rápido zorro marrón salta sobre el perro perezoso"),
    ("es", "ella no estaba allí cuando buscaron la respuesta correcta"),
    ("es", "cada mañana trae una nueva oportunidad para reflexionar"),
    ("es", "puede decirme qué hora es ahora mismo por favor"),
]

# Planted doc texts (doc_id % 8): one phrase-book sentence per language
# plus one function-word-FREE sample per language — the rows where the
# marker heuristic has zero signal and only the char-gram statistics
# decide (the pytest "beats the marker" bar, certified here by value).
_LANG_DOCS = [
    "wo ist der bahnhof bitte schön",
    "where is the train station please",
    "où est la gare s'il vous plaît",
    "dónde está la estación de tren por favor",
    "schadenfreude kindergarten zeitgeist doppelgänger",
    "weatherproofing thoroughbred knighthood throughput",
    "château grenouille écureuil chevalier papillon",
    "ñoño añoranza cigüeña muñeca jalapeño zarzuela",
]


def q_lang_id_model(spark, sf):  # classify: statistical NB lang-id head
    """The model-based lang-id upgrade over the marker heuristic
    (q_lang_id stays as the cheap prefilter): NB over hashed char
    2–3-grams, trained in-engine from the _LANG_SEED literals, scored
    over planted per-doc_id texts, md5 bucket flavor for DuckDB parity.
    Certifies the ENTIRE train+score path by value: char-gram
    extraction, bucket hashing, add-one log-likelihood weights, the
    per-gram unseen baseline, exact integer logits, argmax with
    (logit desc, lang asc) tie-break, and the best-minus-second margin."""
    from wine_label_ocr_spark.operators.classify import lang_id_classifier
    d = _t(spark, sf, "documents").select("doc_id")
    texts = F.array(*[F.lit(t) for t in _LANG_DOCS])
    docs = d.select(
        "doc_id",
        F.get(texts, F.pmod(F.col("doc_id"),
                            F.lit(len(_LANG_DOCS))).cast("int"))
        .alias("text"))
    seed = spark.createDataFrame(_LANG_SEED, "lang string, text string")
    out = lang_id_classifier(docs, seed, oracle_safe=True)
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                      "lang", "logit_scaled", "margin_scaled") \
              .orderBy("doc_id")


def _lang_grams_sql(src: str, key: str) -> str:
    """DuckDB char-2/3-gram pipeline over ``src(key, text)`` →
    ``(key, bucket, cnt)`` + total grams — mirrors
    classify.lang_char_features (md5 flavor, 2^18 buckets, 192 chars)."""
    return f"""(
      WITH n0 AS (
        SELECT {key},
               substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      1, 192) AS s
        FROM {src}),
      g0 AS (
        SELECT {key}, unnest(list_concat(
          CASE WHEN length(s) >= 2 THEN list_transform(
               generate_series(1, length(s) - 1), i -> substr(s, i, 2))
               ELSE [] END,
          CASE WHEN length(s) >= 3 THEN list_transform(
               generate_series(1, length(s) - 2), i -> substr(s, i, 3))
               ELSE [] END)) AS g
        FROM n0)
      SELECT {key},
             CAST(CAST(concat('0x', substr(md5(g || '#0'), 1, 15))
                  AS UBIGINT) AS BIGINT) % 262144 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM g0 GROUP BY 1, 2
    )"""


def _lang_id_model_oracle_sql() -> str:
    """Full DuckDB twin of q_lang_id_model: trains the same NB weights
    from the same seed literals and replays the scoring — no planted
    constants, genuine cross-engine replication of train+score."""
    def q(s: str) -> str:
        return s.replace("'", "''")
    seed_vals = ", ".join(f"('{lang}', '{q(t)}')" for lang, t in _LANG_SEED)
    doc_case = " ".join(f"WHEN {i} THEN '{q(t)}'"
                        for i, t in enumerate(_LANG_DOCS))
    return f"""
        WITH seed(lang, text) AS (VALUES {seed_vals}),
        docs AS (
          SELECT doc_id, CASE doc_id % {len(_LANG_DOCS)} {doc_case} END
                 AS text
          FROM documents),
        scnt AS (SELECT * FROM {_lang_grams_sql("seed", "lang")} t),
        vv AS (SELECT COUNT(DISTINCT bucket) AS v FROM scnt),
        tot AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS tot
                FROM scnt GROUP BY 1),
        w AS (SELECT lang, bucket,
                     CAST(ROUND(ln(cnt + 1) * 1000000) AS BIGINT) AS w
              FROM scnt),
        base AS (SELECT lang,
                        CAST(ROUND(ln(1.0 / (tot + v)) * 1000000)
                             AS BIGINT) AS unk
                 FROM tot, vv),
        dgr AS (SELECT * FROM {_lang_grams_sql("docs", "doc_id")} t),
        dtot AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n
                 FROM dgr GROUP BY 1),
        logits AS (
          SELECT d.doc_id, b.lang,
                 d.n * b.unk
                 + COALESCE(CAST(SUM(g.cnt * w.w) AS BIGINT), 0) AS logit
          FROM dtot d CROSS JOIN base b
          LEFT JOIN dgr g ON g.doc_id = d.doc_id
          LEFT JOIN w ON w.lang = b.lang AND w.bucket = g.bucket
          GROUP BY d.doc_id, b.lang, d.n, b.unk),
        ranked AS (
          SELECT doc_id, lang, logit,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY logit DESC, lang ASC) AS rn
          FROM logits)
        SELECT r1.doc_id, r1.lang,
               CAST(r1.logit AS BIGINT) AS logit_scaled,
               CAST(r1.logit - r2.logit AS BIGINT) AS margin_scaled
        FROM ranked r1
        JOIN ranked r2 ON r1.doc_id = r2.doc_id AND r2.rn = 2
        WHERE r1.rn = 1
        ORDER BY r1.doc_id
    """


def q_content_fingerprint(spark, sf):  # textops: rolling-hash fingerprint
    # DataFrame kernel form — same fingerprints as the doc_fingerprint
    # column algebra (pinned by tests), ~4× cheaper per token because
    # hashlib amortizes the digest Spark's md5 expression re-creates
    d = _t(spark, sf, "documents")
    from wine_label_ocr_spark.operators.textops import doc_fingerprints
    return (doc_fingerprints(d)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "content_fp"))


def q_unigram_logprob(spark, sf):  # corpus-LM quality scoring
    from wine_label_ocr_spark.operators.textops import unigram_logprob
    d = _t(spark, sf, "documents")
    return (unigram_logprob(d)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "logprob_scaled", "n_toks"))


def q_tfidf_top_terms(spark, sf):  # keyword extraction (tf·idf top-k)
    from wine_label_ocr_spark.operators.textops import tfidf_top_terms
    d = _t(spark, sf, "documents")
    return (tfidf_top_terms(d, k=3)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "tok", "tf", "df", "tfidf_scaled", "rank"))


def q_chunk_documents(spark, sf):  # LLM-pretraining chunker (shuffle-free)
    from wine_label_ocr_spark.operators.textops import chunk_documents
    d = _t(spark, sf, "documents")
    return (chunk_documents(d, chunk_tokens=64, overlap=8)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "chunk_idx", F.md5("chunk_text").alias("chunk_fp"),
                    "n_tokens"))


def q_pack_sequences(spark, sf):  # training-batch packing by token budget
    from wine_label_ocr_spark.operators.textops import pack_sequences
    d = _t(spark, sf, "documents")
    return pack_sequences(d, budget_tokens=512).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"), "bin_id")


def q_pack_sequences_ffd(spark, sf):  # first-fit-decreasing packing
    """The padding-tight FFD flavor (r8 VERDICT #6) over planted token
    counts (doc_id%4 → 600/400/300/200, budget 1000, fixed doc_id<400
    window so the composition is 100 per class at every sf): the REAL
    Arrow bin-packer runs unsharded (exactly one deterministic pack),
    and the oracle states the expected per-doc bin assignment via an
    embedded reference FFD — the compression_ratio planted-constants
    pattern. FFD packs this composition into 154 budget-respecting bins
    vs 200 for budget-capped next-fit in id order (``pack_sequences``'s
    floor-binning reports 150 but lets bins straddle the budget — see
    the pytest, which pins all three counts on harsher skew)."""
    from wine_label_ocr_spark.operators.textops import pack_sequences_ffd
    d = _t(spark, sf, "documents").select("doc_id") \
        .filter(F.col("doc_id") < 400)
    lens = F.array(F.lit(600), F.lit(400), F.lit(300), F.lit(200))
    n = F.get(lens, F.pmod(F.col("doc_id"), F.lit(4)).cast("int")) \
         .cast("bigint")
    return pack_sequences_ffd(d, budget_tokens=1000, count_col=n) \
        .orderBy("doc_id")


def _ffd_reference(items: list[tuple[int, int]],
                   budget: int) -> dict[int, int]:
    """Reference first-fit-decreasing used ONLY at oracle-SQL build
    time: (n desc, id asc) order, bins probed in creation order —
    the exact rule pack_sequences_ffd implements."""
    rem: list[int] = []
    out: dict[int, int] = {}
    for i, n in sorted(items, key=lambda t: (-t[1], t[0])):
        for b in range(len(rem)):
            if rem[b] >= n:
                rem[b] -= n
                out[i] = b
                break
        else:
            rem.append(max(budget - n, 0))
            out[i] = len(rem) - 1
    return out


def _pack_ffd_oracle_sql() -> str:
    lens = [600, 400, 300, 200]
    items = [(i, lens[i % 4]) for i in range(400)]
    bins = _ffd_reference(items, 1000)
    values = ", ".join(f"({i}, {n}, {bins[i]})" for i, n in items)
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(bin_id AS BIGINT) AS bin_id
        FROM (VALUES {values}) AS t(doc_id, n_tokens, bin_id)
        JOIN (SELECT doc_id AS d2 FROM documents WHERE doc_id < 400) u
          ON doc_id = d2
        ORDER BY doc_id
    """


def q_pii_redaction(spark, sf):  # training-data PII scrub
    """Plant synthetic PII deterministically, scrub it, emit fingerprints
    plus a leak check the oracle reproduces."""
    from wine_label_ocr_spark.operators.textops import redact_pii
    d = _t(spark, sf, "documents")
    planted = F.concat(
        F.lit("contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 10.0."),
        (F.col("doc_id") % 255).cast("string"), F.lit(".7 tel +1 (555) 010-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" :: "), F.substring("text", 1, 60))
    red = redact_pii(planted)
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.md5(red).alias("redacted_fp"),
        red.rlike("@|\\d{3}[-.]\\d{4}").alias("pii_leaked"))


def q_repetition_stats(spark, sf):  # Gopher-style repetition filters
    from wine_label_ocr_spark.operators.textops import repetition_stats
    d = _t(spark, sf, "documents")
    # plant duplicate lines + a hot bigram for every 7th doc so the filter
    # demonstrably fires on testdata
    planted = d.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit("spam line\nspam line\nbuy now buy now buy now\n"),
                        F.col("text"))).otherwise(F.col("text")))
    return repetition_stats(planted).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "dup_line_frac", "top_bigram_frac")


def q_training_funnel(spark, sf):
    """The whole training-data funnel composed end-to-end: corpus →
    quality gate → language filter → exact dedup → chunking, with a
    per-stage surviving-count row; the oracle recomputes every stage in
    SQL. The counts are the Observations of ONE run of the funnel
    (``plans/funnel.run_funnel_one_pass``, chunks to the noop sink)."""
    from wine_label_ocr_spark.plans.funnel import run_funnel_one_pass

    counts = run_funnel_one_pass(_t(spark, sf, "documents"))
    labels = ("0_corpus", "1_quality", "2_lang_en", "3_deduped", "4_chunks")
    return spark.createDataFrame(list(zip(labels, counts.values())),
                                 "stage string, n bigint")


def q_latest_capture(spark, sf):  # A8/U3 — crawl-scale last-wins per url
    """Keep the newest capture per url (the Common-Crawl recrawl dedup):
    synthesize recrawls for every 10th doc with a later timestamp, then
    max_by(ts, doc_id) per url — one shuffle, map-side combinable."""
    d = _t(spark, sf, "documents").select(
        F.concat(F.lit("https://x.example/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("doc_id").alias("capture_seq"),
        F.substring("text", 1, 30).alias("body"))
    recrawl = (d.filter(F.col("doc_id") % 10 == 0)
               .withColumn("capture_seq", F.col("capture_seq") + 1_000_000)
               .withColumn("body", F.concat(F.lit("RECRAWL "), "body")))
    allc = d.unionByName(recrawl)
    return (allc.groupBy("url")
            .agg(F.max_by("body", "capture_seq").alias("body"),
                 F.max("capture_seq").alias("latest_seq"),
                 F.count(F.lit(1)).alias("n_captures")))


def q_exact_dedup(spark, sf):  # dedupe: exact content dedup
    # id-only form: the gate projects nothing but the surviving id, so
    # the shuffle carries (content_key, id) pairs, not whole rows
    from wine_label_ocr_spark.operators.dedupe import exact_dedup_ids
    d = _t(spark, sf, "documents")
    return exact_dedup_ids(d).select(
        F.col("doc_id").cast("bigint").alias("doc_id"))


def q_minhash_lsh(spark, sf):  # dedupe: MinHash+LSH near-dup pairs
    from wine_label_ocr_spark.operators.dedupe import minhash_lsh_pairs
    d = _t(spark, sf, "documents")
    return minhash_lsh_pairs(d, n_perm=16, n_bands=4, min_jaccard=0.4,
                             oracle_safe=True).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "jaccard")


def q_near_dup_components(spark, sf):  # dedupe: transitive clustering
    """Connected components over the MinHash near-dup pairs — min-label
    propagation (O(diameter) rounds, lineage cut per round); the oracle is
    a DuckDB recursive CTE over the identical pair set."""
    from wine_label_ocr_spark.operators.dedupe import (
        connected_components, minhash_lsh_pairs)
    d = _t(spark, sf, "documents")
    pairs = minhash_lsh_pairs(d, n_perm=16, n_bands=4, min_jaccard=0.4,
                              oracle_safe=True)
    return (connected_components(pairs)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    F.col("component").cast("bigint").alias("component")))


def q_simhash_fingerprints(spark, sf):  # dedupe: SimHash, oracle-checked
    # oracle_safe=True → md5-derived token hashes DuckDB can reproduce
    # bit-for-bit; the xxhash64 production flavor is what bench.py runs
    from wine_label_ocr_spark.operators.dedupe import simhash64
    d = _t(spark, sf, "documents")
    return d.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    simhash64(F.col("text"), oracle_safe=True).alias("simhash"))


def q_interval_join(spark, sf):  # rangejoin: equi-ized |Δt|<=bound join
    """Same-user event pairs within 300 s via the bucketed interval join
    (equi join on (user, time-cell), never a nested loop); the oracle is
    the plain theta join — proving the equi-ized plan computes the exact
    range-join semantics."""
    from wine_label_ocr_spark.operators.rangejoin import bucketed_interval_join
    e = _t(spark, sf, "events").select("user_id", "event_id", "ts")
    out = bucketed_interval_join(e, e, keys=["user_id"], ts_col="ts",
                                 bound_sec=300.0)
    dt_ms = F.abs(F.unix_millis(F.col("ts").cast("timestamp"))
                  - F.unix_millis(F.col("ts_r").cast("timestamp")))
    return (out.filter(F.col("event_id") < F.col("event_id_r"))
            .select(F.col("user_id").cast("bigint").alias("user_id"),
                    F.col("event_id").cast("bigint").alias("id_a"),
                    F.col("event_id_r").cast("bigint").alias("id_b"),
                    dt_ms.cast("bigint").alias("dt_ms")))


def q_host_stats(spark, sf):  # textops: host-level skew profile
    """The pre-salting step at crawl scale: per-host doc counts + token
    mass + mean quality — the profile that tells you WHICH hosts need
    salting (hot hosts = the skew the north rule calls out). Urls are a
    deterministic function of doc_id (a Zipf-ish %7 %41 split so hosts
    are genuinely skewed)."""
    from wine_label_ocr_spark.operators.textops import (
        host_of, quality_score, token_count)
    d = _t(spark, sf, "documents")
    pages = d.select(
        F.concat(F.lit("https://"),
                 F.when(F.col("doc_id") % 7 < 4, F.lit("bighost.example"))
                  .otherwise(F.concat(F.lit("host"),
                                      (F.col("doc_id") % 41).cast("string"),
                                      F.lit(".example"))),
                 F.lit("/doc/"), F.col("doc_id").cast("string")).alias("url"),
        "text")
    # quality folded to integer micro-units BEFORE the sum — float sums
    # are order-dependent across engines, integer sums are not
    q_e6 = F.round(quality_score(F.col("text")) * 1_000_000).cast("bigint")
    return (pages.groupBy(host_of(F.col("url")).alias("host"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(token_count(F.col("text")).cast("bigint")).alias("n_tokens"),
                 F.sum(q_e6).alias("sum_quality_e6")))


def q_lexical_diversity(spark, sf):  # textops: TTR + hapax quality features
    from wine_label_ocr_spark.operators.textops import lexical_diversity
    return lexical_diversity(_t(spark, sf, "documents")) \
        .withColumn("doc_id", F.col("doc_id").cast("bigint"))


def q_stratified_sample(spark, sf):  # textops: deterministic corpus mixing
    """Sample each language at its mix rate with a content-hash keep rule
    (reproducible across cluster sizes, pure map); 'es' is absent from
    the spec so it drops entirely — the explicit-mix semantics."""
    from wine_label_ocr_spark.operators.textops import stratified_sample
    d = _t(spark, sf, "documents")
    out = stratified_sample(
        d, {"en": 0.35, "de": 1.0, "fr": 0.5, "zh": 0.25},
        oracle_safe=True)
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"), "lang")


def q_paragraph_dedup(spark, sf):  # dedupe: CCNet paragraph boilerplate strip
    """Plant two boilerplate lines (newsletter / copyright) on periodic
    docs; the operator must strip every paragraph shared by ≥2 distinct
    docs — including naturally-duplicated whole texts in testdata — and
    rebuild docs in paragraph order."""
    from wine_label_ocr_spark.operators.dedupe import drop_common_paragraphs
    d = _t(spark, sf, "documents")
    corpus = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit("\nsubscribe to our newsletter for daily updates"))
             .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.lit("\ncopyright example corp all rights reserved"))
             .otherwise(F.lit(""))).alias("text"))
    out = drop_common_paragraphs(corpus, min_docs=2)
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                      F.md5("clean_text").alias("clean_fp"),
                      "n_paragraphs_kept")


def q_decontamination(spark, sf):  # dedupe: benchmark n-gram overlap flag
    """Benchmark set = every 97th document; any doc sharing an 8-gram with
    it is flagged with the distinct-overlap count."""
    from wine_label_ocr_spark.operators.dedupe import flag_contaminated
    d = _t(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return (flag_contaminated(d, bench, n=8)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "contaminated_ngrams", "contaminated"))


def q_duplicate_passages(spark, sf):  # dedupe: winnowing passage-level pairs
    """Docs sharing a copied SPAN (winnowing/MOSS fingerprints) — plant a
    12-token syndicated passage on every 40th doc; the guarantee (any
    duplicated run ≥ window+k−1 tokens anchors at least one identical
    fingerprint regardless of phase) makes all planted pairs appear."""
    from wine_label_ocr_spark.operators.dedupe import duplicate_passages
    d = _t(spark, sf, "documents").select("doc_id", "text")
    corpus = d.select("doc_id", F.concat(
        "text",
        F.when(F.col("doc_id") % 40 == 0,
               F.lit(" syndicated boilerplate passage tokens appear "
                     "verbatim across many documents tonight"))
        .otherwise(F.lit(""))).alias("text"))
    return (duplicate_passages(corpus, min_shared=1, oracle_safe=True)
            .select(F.col("id_a").cast("bigint").alias("id_a"),
                    F.col("id_b").cast("bigint").alias("id_b"),
                    F.col("shared_fps").cast("bigint").alias("shared_fps")))


def q_simhash_pairs(spark, sf):  # dedupe: banded SimHash pairing, oracle-checked
    """Banded SimHash near-dup pairs (pigeonhole full recall) under the
    gate: plant near-duplicates (same text + a short tail) so the operator
    demonstrably fires; the DuckDB oracle reproduces the md5 token hashes,
    band-slice arithmetic, bucket guard, and exact hamming verify."""
    from wine_label_ocr_spark.operators.dedupe import simhash_pairs
    d = _t(spark, sf, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate tail")).alias("text"))
    return (simhash_pairs(d.unionByName(dup), max_hamming=4, oracle_safe=True)
            .select(F.col("id_a").cast("bigint").alias("id_a"),
                    F.col("id_b").cast("bigint").alias("id_b"),
                    F.col("hamming").cast("int").alias("hamming")))


def q_cosine_topk(spark, sf):  # ann: exact brute-force cosine top-k
    from wine_label_ocr_spark.operators.ann import cosine_topk
    e = _t(spark, sf, "embeddings")
    # round inputs to 3dp in double so both engines fold identical values
    rounded = e.select(
        "vec_id",
        F.transform("embedding", lambda x: F.round(x.cast("double"), 3)).alias("embedding"))
    q = (rounded.filter(F.col("vec_id") % 100 == 0)
         .select(F.col("vec_id").alias("q_id"), "embedding"))
    return cosine_topk(q, rounded, k=5)


def q_rp_lsh_topk(spark, sf):  # ann: LSH-bucketed approximate top-k, oracle-checked
    from wine_label_ocr_spark.operators.ann import rp_lsh_topk
    e = _t(spark, sf, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: F.round(x.cast("double"), 3)).alias("embedding"))
    q = (e.filter(F.col("vec_id") % 100 == 0)
         .select(F.col("vec_id").alias("q_id"), "embedding"))
    return rp_lsh_topk(q, e, dim=64, k=5, n_planes=6, n_probes=3)


def q_ivf_topk(spark, sf):  # ann: IVF top-k, fixed centroids, hash-gated
    """IVF probe-and-rerank under a FULL value oracle (upgraded from the
    r1–r7 rows-only gate, the ivfadc_topk precedent): fixed hash-derived
    coarse centroids (8 cells, the same literals ivfadc uses) make cell
    assignment + probe selection closed-form; exact cosine re-ranks the
    probed cells. The learned-Lloyd flavor (``ivf_topk``) keeps its
    recall/pruning pytest — this gate certifies the search plan."""
    from wine_label_ocr_spark.operators.ann import (
        ivf_fixed_topk, pq_fixed_codebooks)
    e = _t(spark, sf, "embeddings").select(
        "vec_id",
        F.transform("embedding",
                    lambda x: F.round(x.cast("double"), 3)).alias("embedding"))
    cents = pq_fixed_codebooks(1, 8, 64, seed=7)[0]
    q = (e.filter(F.col("vec_id") % 100 == 0)
         .select(F.col("vec_id").alias("q_id"), "embedding"))
    return ivf_fixed_topk(q, e, cents, k=5, n_probes=2)


def q_embedding_quantized(spark, sf):  # ann: int8 quantization, oracle-checked
    from wine_label_ocr_spark.operators.ann import quantize_embedding
    e = _t(spark, sf, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: F.round(x.cast("double"), 3)).alias("embedding"))
    q, max_abs = quantize_embedding(F.col("embedding"))
    return e.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.md5(F.array_join(F.transform(q, lambda v: v.cast("string")), ","))
        .alias("q_fp"),
        F.round(max_abs * 1000).cast("bigint").alias("scale_mill"))


def q_embedding_near_dup(spark, sf):  # ann: embedding near-dup, oracle-checked
    from wine_label_ocr_spark.operators.ann import embedding_near_dup
    e = _t(spark, sf, "embeddings")
    # round to 3dp double so both engines fold identical values (same
    # alignment trick as cosine_topk); plant exact duplicates so the
    # operator demonstrably fires on testdata
    e = e.select(
        "vec_id",
        F.transform("embedding", lambda x: F.round(x.cast("double"), 3)).alias("embedding"))
    dup = e.filter(F.col("vec_id") % 97 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    return (embedding_near_dup(e.unionByName(dup), dim=64,
                               min_cosine=0.95, n_planes=8)
            .select(F.col("id_a").cast("bigint").alias("id_a"),
                    F.col("id_b").cast("bigint").alias("id_b"), "cosine"))


def q_media_features(spark, sf):  # multimodal: REAL header decode, oracle-checked
    """Real PNG/JPEG payloads (built columnar from doc_id) → stdlib header
    decode in the Arrow UDF → true width/height/channels. The array<float>
    feature is projected to a hashable md5 fingerprint over its integer
    basis so the driver can canonicalize rows (r1 failed on raw arrays)."""
    from wine_label_ocr_spark.fixtures import documents_as_media
    from wine_label_ocr_spark.operators.multimodal import extract_media_features
    out = extract_media_features(documents_as_media(spark, sf), fake=False)
    feature_ints = F.transform(
        "feature", lambda x: F.round(x * 255).cast("int").cast("string"))
    return out.select(
        "url", "media_type", "width", "height", "channels", "n_frames",
        "decode_ok", "error",
        F.md5(F.array_join(feature_ints, ",")).alias("feature_fp"))


def q_media_pixels(spark, sf):  # multimodal: REAL PNG raster decode, oracle-checked
    """Full-raster PNGs (solid color, filters cycling 0..4) → stdlib
    inflate + unfilter → TRUE per-channel pixel statistics. The oracle
    recomputes the closed-form expected stats from doc_id, so a hash match
    proves the entire raster path (chunk walk, zlib, all five unfilter
    types, channel-lane math) is byte-faithful."""
    from wine_label_ocr_spark.fixtures import documents_as_media_pixels
    from wine_label_ocr_spark.operators.multimodal import extract_media_features
    out = extract_media_features(documents_as_media_pixels(spark, sf), fake=False)
    return out.select(
        "url",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("channels").cast("int").alias("channels"),
        "decode_ok",
        F.round(F.get("feature", 0) * 255).cast("int").alias("mean_r"),
        F.round(F.get("feature", 1) * 255).cast("int").alias("mean_g"),
        F.round(F.get("feature", 2) * 255).cast("int").alias("mean_b"),
        F.round(F.get("feature", 4) * 100000).cast("int").alias("std_r_e5"),
        F.round(F.get("feature", 12) * 100000).cast("int").alias("grad_row_e5"))


# merges.txt-format table (rank = position) for the real-BPE gate — the
# classic lower/newest teaching vocabulary
BPE_GATE_MERGES = [("e", "r"), ("l", "o"), ("lo", "w"), ("n", "e"),
                   ("ne", "w"), ("e", "s"), ("es", "t")]


def q_bpe_real_tokens(spark, sf):  # textops: merge-table BPE tokenization
    """REAL BPE under a published-format merge table over planted text
    (the lower/newest vocabulary repeated doc_id%5+1 times plus the
    doc_id digits): each sentence tokenizes to exactly 12 tokens
    ('low er new est w i d er low low est !'), digits never merge, so
    total count AND the per-token value check ('low' occurrences) are
    closed-form in doc_id."""
    from wine_label_ocr_spark.operators.textops import bpe_tokenize
    d = _t(spark, sf, "documents").select("doc_id")
    reps = (F.pmod(F.col("doc_id"), F.lit(5)) + 1).cast("int")
    text = F.concat(
        F.repeat(F.lit("lower newest wider low lowest! "), reps),
        F.col("doc_id").cast("string"))
    toks = bpe_tokenize(text, BPE_GATE_MERGES)
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda t: t == "low")).alias("n_low"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    ).orderBy("doc_id")


# Planted BPE-training corpus: four fixed word-mix classes assigned by
# doc_id % 4 over the FIXED doc_id<40 window (10 copies per class at
# every sf — the histogram, and therefore the learned merge sequence, is
# scale-invariant). Lowercase a–z + space only: no quoting/regex seams.
_BPE_TRAIN_TEXTS = [
    "low lower lowest low low slow slower glow",
    "newest newer new news renew newest newest",
    "widest wider wide widen widow wild widest",
    "the then there these other weather the the",
]


def _bpe_reference_train(texts, n_merges, min_count=2):
    """Pure-Python reference BPE trainer (Sennrich): used ONLY at
    oracle-SQL build time to state the expected merge table closed-form
    (the compression_ratio planted-zlib-constants pattern). Same rules
    the distributed trainer implements: BPE_ISH_PATTERN pre-tokens,
    per-position overlapping pair counts, best by (count desc, pair
    asc), greedy left-to-right merge."""
    import collections
    import re as _re
    words = collections.Counter()
    for t in texts:
        words.update(_re.findall(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]", t))
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


def q_bpe_train(spark, sf):  # textops: DISTRIBUTED BPE merge training
    """The learn side of the BPE pair (r8 VERDICT #2; apply side =
    bpe_real_tokens): the REAL distributed trainer — one corpus shuffle
    to the word histogram, then per-round pair-count aggregation with a
    one-row TakeOrdered collect and plan-literal merge application —
    runs over the planted 40-doc corpus (doc_id<40, class = doc_id%4,
    10 copies each at every sf). The oracle states the expected ranked
    merge table closed-form via the embedded single-process reference
    trainer (compression_ratio's planted-constants pattern)."""
    from wine_label_ocr_spark.operators.textops import bpe_train
    d = _t(spark, sf, "documents").select("doc_id") \
        .filter(F.col("doc_id") < 40)
    cls = F.array(*[F.lit(t) for t in _BPE_TRAIN_TEXTS])
    text = F.get(cls, F.pmod(F.col("doc_id"),
                             F.lit(len(_BPE_TRAIN_TEXTS))).cast("int"))
    merges = bpe_train(d.select(text.alias("text")), n_merges=12,
                       checkpoint_every=4)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, lhs string, rhs string").orderBy("rank")


def _bpe_train_oracle_sql() -> str:
    """Expected merges computed ONCE here by the reference trainer on
    the identical 40-copy planted corpus, stated as literals (lhs/rhs —
    LEFT/RIGHT are reserved words in DuckDB)."""
    corpus = [_BPE_TRAIN_TEXTS[i % len(_BPE_TRAIN_TEXTS)]
              for i in range(40)]
    merges = _bpe_reference_train(corpus, 12)
    values = ", ".join(f"({i}, '{a}', '{b}')"
                       for i, (a, b) in enumerate(merges))
    return f"""
        SELECT CAST(rank AS INT) AS rank, lhs, rhs
        FROM (VALUES {values}) AS t(rank, lhs, rhs)
        ORDER BY rank
    """


def q_wat_sidecar(spark, sf):  # warc: WAT metadata export, end-to-end
    """WAT sidecar under the correctness gate: planted pages (title on
    all but every 7th doc, doc_id%3 outlinks) → build_wat_records →
    DISTRIBUTED gzip metadata shards → read back → project the JSON
    envelope fields with get_json_object. Field-level projection (not
    raw-JSON hashing) sidesteps key-order parity; the oracle states
    title/link-count/header-echo closed-form from doc_id."""
    import os

    from wine_label_ocr_spark.operators import graph as _graph_mod
    from wine_label_ocr_spark.sources import warc as _warc_mod
    from wine_label_ocr_spark.sources.warc import read_warc, write_wat_shards

    def pages_df():
        d = _t(spark, sf, "documents").select("doc_id")
        did = F.col("doc_id").cast("string")
        title = F.when(F.pmod(F.col("doc_id"), F.lit(7)) == 0, F.lit("")) \
                 .otherwise(F.concat(F.lit("<title>Doc "), did,
                                     F.lit("</title>")))
        nl = F.pmod(F.col("doc_id"), F.lit(3))
        links = F.concat(
            F.when(nl >= 1, F.concat(F.lit('<a href="https://l0.com/'),
                                     did, F.lit('">x</a>')))
             .otherwise(F.lit("")),
            F.when(nl >= 2, F.concat(F.lit('<a href="https://l1.com/'),
                                     did, F.lit('">y</a>')))
             .otherwise(F.lit("")))
        return d.select(
            F.concat(F.lit("https://w"), F.pmod(F.col("doc_id"), F.lit(9))
                     .cast("string"), F.lit(".com/p/"), did).alias("url"),
            F.expr("timestamp'2025-01-01 00:00:00'"
                   " + make_interval(0, 0, 0, 0, 0, 0, doc_id)")
             .alias("warc_ts"),
            F.concat(title, F.lit("<body>b</body>"), links)
             .cast("binary").alias("html"),
            F.lit(None).cast("string").alias("lang"))

    # the tag covers the planted-page construction (this function's own
    # source) AND graph.py (href_values/HREF_PATTERN — the link
    # extraction build_wat_records shares) — editing either must never
    # serve stale shards
    shard_dir = _cached_shards(
        sf, "wat", (_warc_mod, _graph_mod, q_wat_sidecar), pages_df,
        lambda p, d: write_wat_shards(p, d, compress=True))
    wat = read_warc(spark, os.path.join(shard_dir, "*.warc.gz"),
                    record_types=("metadata",))
    j = F.col("html").cast("string")
    env = "$.Envelope['{}']"
    meta = "$.Envelope['Payload-Metadata']['HTTP-Response-Metadata']" \
           "['HTML-Metadata']"
    return wat.select(
        F.regexp_extract("url", r"/p/(\d+)$", 1).cast("bigint")
         .alias("doc_id"),
        "url",
        F.get_json_object(j, env.format("WARC-Header-Metadata")
                          + "['WARC-Target-URI']").alias("hdr_uri"),
        F.get_json_object(j, env.format("WARC-Header-Metadata")
                          + "['WARC-Date']").alias("wdate"),
        F.get_json_object(j, meta + ".Head.Title").alias("title"),
        F.json_array_length(F.get_json_object(j, meta + ".Links"))
         .cast("int").alias("n_links"),
    ).orderBy("doc_id")


def q_media_pixels_jpeg(spark, sf):  # multimodal: REAL baseline-JPEG raster
    """Quality-100 baseline JPEGs (4:4:4 / 4:2:0 / grayscale / restart
    markers cycling by doc_id) → stdlib Huffman + dequant + exact IDCT →
    TRUE pixel statistics. The oracle recomputes the closed-form stats
    from doc_id, so a hash match proves the whole JPEG raster path
    (segment walk, canonical Huffman, byte-unstuffing, RST resync,
    zigzag, IDCT, chroma upsample, color convert) is value-faithful."""
    from wine_label_ocr_spark.fixtures import documents_as_media_pixels_jpeg
    from wine_label_ocr_spark.operators.multimodal import extract_media_features
    out = extract_media_features(documents_as_media_pixels_jpeg(spark, sf),
                                 fake=False)
    return out.select(
        "url",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("channels").cast("int").alias("channels"),
        "decode_ok",
        F.round(F.get("feature", 0) * 255).cast("int").alias("mean_c0"),
        F.round(F.get("feature", 1) * 255).cast("int").alias("mean_c1"),
        F.round(F.get("feature", 2) * 255).cast("int").alias("mean_c2"),
        F.round(F.get("feature", 4) * 100000).cast("int").alias("std_c0_e5"),
        F.round(F.get("feature", 12) * 100000).cast("int").alias("grad_row_e5"))


def q_media_pixels_jpeg_prog(spark, sf):  # multimodal: PROGRESSIVE JPEG
    """Quality-100 PROGRESSIVE JPEGs (SOF2; scan scripts cycling
    spectral-selection-only vs full successive approximation with DC/AC
    refinement passes; 4:4:4 / 4:2:0 / grayscale by doc_id) → multi-scan
    coefficient accumulation → dequant + exact IDCT → TRUE pixel
    statistics. Same closed-form oracle regime as the baseline gate: a
    decoder that fails any progressive path (EOBRUN, correction bits,
    non-interleaved component grids) falls back to header features and
    breaks the hash."""
    from wine_label_ocr_spark.fixtures import \
        documents_as_media_pixels_jpeg_prog
    from wine_label_ocr_spark.operators.multimodal import \
        extract_media_features
    out = extract_media_features(
        documents_as_media_pixels_jpeg_prog(spark, sf), fake=False)
    return out.select(
        "url",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("channels").cast("int").alias("channels"),
        "decode_ok",
        F.round(F.get("feature", 0) * 255).cast("int").alias("mean_c0"),
        F.round(F.get("feature", 1) * 255).cast("int").alias("mean_c1"),
        F.round(F.get("feature", 2) * 255).cast("int").alias("mean_c2"),
        F.round(F.get("feature", 4) * 100000).cast("int").alias("std_c0_e5"),
        F.round(F.get("feature", 12) * 100000).cast("int").alias("grad_row_e5"))


def q_media_pixels_gif(spark, sf):  # multimodal: REAL GIF raster decode
    """Single-frame GIFs (2-entry palette, every 3rd interlaced, every
    5th carrying an 89a extension block) → stdlib LZW decode → TRUE
    pixel statistics. The oracle recomputes the closed-form stats from
    doc_id, so a hash match proves the GIF raster path (header/color-
    table walk, sub-block reassembly, LZW, extension skip, palette
    lookup) is value-faithful."""
    from wine_label_ocr_spark.fixtures import documents_as_media_pixels_gif
    from wine_label_ocr_spark.operators.multimodal import extract_media_features
    out = extract_media_features(documents_as_media_pixels_gif(spark, sf),
                                 fake=False)
    return out.select(
        "url",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("channels").cast("int").alias("channels"),
        "decode_ok",
        F.round(F.get("feature", 0) * 255).cast("int").alias("mean_r"),
        F.round(F.get("feature", 1) * 255).cast("int").alias("mean_g"),
        F.round(F.get("feature", 2) * 255).cast("int").alias("mean_b"),
        F.round(F.get("feature", 4) * 100000).cast("int").alias("std_r_e5"),
        F.round(F.get("feature", 12) * 100000).cast("int").alias("grad_row_e5"))


def q_media_pixels_webp(spark, sf):  # multimodal: REAL WebP (VP8L) decode
    """Solid-color WebP-lossless payloads → stdlib VP8L decode (RIFF
    walk, LSB-first bitstream, prefix codes) → TRUE pixel statistics.
    The oracle restates the closed-form stats from doc_id; the richer
    decoder paths (normal codes, LZ77 refs, color cache, palette
    bundling, subtract-green) are pytest-pinned on hand-built
    streams."""
    from wine_label_ocr_spark.fixtures import documents_as_media_pixels_webp
    from wine_label_ocr_spark.operators.multimodal import (
        extract_media_features)
    out = extract_media_features(documents_as_media_pixels_webp(spark, sf),
                                 fake=False)
    return out.select(
        "url",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("channels").cast("int").alias("channels"),
        "decode_ok",
        F.round(F.get("feature", 0) * 255).cast("int").alias("mean_r"),
        F.round(F.get("feature", 1) * 255).cast("int").alias("mean_g"),
        F.round(F.get("feature", 2) * 255).cast("int").alias("mean_b"),
        F.round(F.get("feature", 4) * 100000).cast("int").alias("std_r_e5"),
        F.round(F.get("feature", 12) * 100000).cast("int")
         .alias("grad_row_e5"))


def q_media_mp4_meta(spark, sf):  # multimodal: ISO-BMFF video metadata
    """Planted minimal-legal MP4 skeletons (real box sizes, 16.16
    dimensions, mvhd timescale/duration) → recursive box-walk parse.
    Every 9th doc is a corrupt payload (truncated moov) that must come
    back parse_ok=false, not vanish (ST8 policy). The oracle restates
    width/height/duration closed-form from doc_id. Frame DECODE stays
    the documented codec seam — this certifies the metadata surface a
    pipeline filters and shards on."""
    from collections.abc import Iterator

    from wine_label_ocr_spark.operators.multimodal import mp4_metadata

    def gen(batches) -> Iterator:
        import pandas as pd

        from wine_label_ocr_spark.operators.multimodal import (
            encode_mp4_header)
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h = 16 * (2 + i % 9), 16 * (1 + i % 7)
                dur = 1000 + (i * 37) % 9000
                p = encode_mp4_header(w, h, dur)
                if i % 9 == 0:
                    p = p[:24]  # truncated container: parse_ok=false
                rows.append((f"mediamp4:{i:09d}", p, "video"))
            yield pd.DataFrame(rows, columns=["url", "payload",
                                              "media_type"])

    d = _t(spark, sf, "documents").select("doc_id")
    pages = d.mapInPandas(
        gen, schema="url string, payload binary, media_type string")
    return mp4_metadata(pages).orderBy("url")


def q_media_webp_lossy(spark, sf):  # multimodal: lossy-VP8 header metadata
    """Planted lossy-VP8 keyframe headers (real RFC 6386 frame tag +
    bool-coded first-partition prefix, built with the roundtrip-pinned
    _VP8BoolWriter) → ``webp_lossy_meta``: dims, y_ac_qi (the encoder
    quantizer — the decode-free quality prior lossy thumbnails filter
    on), loop-filter level, partition count. Every 7th doc is a junk
    payload that must come back parse_ok=false, not vanish (ST8).
    The oracle restates every field closed-form from doc_id. Full VP8
    raster decode is a recorded KILL this round (BENCH.md r8): its
    ~1000+ probability/dequant constants are not verifiable offline."""
    from collections.abc import Iterator

    from wine_label_ocr_spark.operators.multimodal import webp_lossy_meta

    def gen(batches) -> Iterator:
        import pandas as pd

        from wine_label_ocr_spark.operators.multimodal import (
            encode_vp8_keyframe_header)
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                if i % 7 == 0:
                    p = b"RIFF\x04\x00\x00\x00WEBPjunk"
                else:
                    p = encode_vp8_keyframe_header(
                        16 * (1 + i % 40), 16 * (1 + i % 23),
                        y_ac_qi=(i * 11) % 128,
                        filter_level=i % 64, sharpness=i % 8,
                        n_dct_partitions_log2=i % 4,
                        y_dc_delta=(i % 31) - 15,
                        uv_ac_delta=(i % 7) - 3)
                rows.append((f"medialossy:{i:09d}", p))
            yield pd.DataFrame(rows, columns=["url", "payload"])

    d = _t(spark, sf, "documents").select("doc_id")
    pages = d.mapInPandas(gen, schema="url string, payload binary")
    return webp_lossy_meta(pages).orderBy("url")


_WEBP_LOSSY_ORACLE_SQL = """
    SELECT 'medialossy:' || printf('%09d', doc_id) AS url,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE CAST(16 * (1 + doc_id % 40) AS INT) END AS width,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE CAST(16 * (1 + doc_id % 23) AS INT) END AS height,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE CAST((doc_id * 11) % 128 AS INT) END AS y_ac_qi,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE CAST(doc_id % 64 AS INT) END AS filter_level,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE CAST(CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
                          WHEN 2 THEN 4 ELSE 8 END AS INT)
                END AS n_dct_partitions,
           CASE WHEN doc_id % 7 = 0 THEN NULL ELSE TRUE END AS show_frame,
           doc_id % 7 != 0 AS parse_ok
    FROM documents ORDER BY url
"""


def q_media_frames(spark, sf):  # multimodal: ANIMATED GIF multi-frame decode
    """Animated GIFs (2–4 frames, disposal 1 and 2, Netscape app
    extension) → per-frame composited rasters with EXACT integer
    channel sums. The oracle restates each frame's sums closed-form
    from (doc_id, frame_idx), so a hash match proves the animation
    semantics (GCE parse, compositing, restore-to-background) are
    value-faithful. Per-frame dHash is pytest-pinned separately
    (frame-sampling + keyframe near-dup)."""
    from wine_label_ocr_spark.fixtures import documents_as_media_frames
    from wine_label_ocr_spark.operators.multimodal import gif_frames
    pages = documents_as_media_frames(spark, sf)
    return (gif_frames(pages)
            .select("url", "frame_idx", "n_frames", "height", "width",
                    "sum_r", "sum_g", "sum_b", "decode_ok")
            .orderBy("url", "frame_idx"))


def q_media_frames_webp(spark, sf):  # multimodal: ANIMATED WebP raster decode
    """Animated WebP (VP8X/ANIM/ANMF, 2-4 frames) -> per-frame
    composited rasters with EXACT integer channel sums -- the
    ``media_frames`` twin over the WebP container, unlocked by the
    full VP8L transform decoder. The fixture cycles the flag byte
    (no-blend replace / opaque alpha-blend / dispose-to-background
    against the NONZERO ANIM background color) and offset frames, so
    a hash match proves the ANMF walk, sub-stream VP8L decode,
    offset compositing, blend arithmetic, and background disposal are
    all value-faithful."""
    from wine_label_ocr_spark.fixtures import documents_as_media_frames_webp
    from wine_label_ocr_spark.operators.multimodal import webp_frames
    pages = documents_as_media_frames_webp(spark, sf)
    return (webp_frames(pages)
            .select("url", "frame_idx", "n_frames", "height", "width",
                    "sum_r", "sum_g", "sum_b", "decode_ok")
            .orderBy("url", "frame_idx"))


# planted zlib inputs (all ASCII so char length == utf-8 byte length):
# six repetitiveness shapes from degenerate-run to natural prose — the
# operator's whole dynamic range. Fixed strings make the level-6 zlib
# output length a pinned constant per shape, so the oracle states it
# closed-form (the media_pixels pattern).
_ZLIB_SHAPES = [
    "a" * 800,                                             # degenerate run
    "the quick brown fox jumps over the lazy dog. " * 18,  # sentence loop
    "".join(hashlib.md5(f"junk{i}".encode()).hexdigest()
            for i in range(12)),                           # hex noise
    "ab" * 400,                                            # 2-cycle
    "buy cheap widgets now " * 40,                         # template spam
    "The committee convened at noon to review the annual budget, "
    "noting that revenues had risen modestly while expenditures "
    "remained flat across departments.",                   # natural prose
]


def q_compression_ratio(spark, sf):  # textops: zlib repetitiveness signal
    """FULL value oracle (upgraded from the r1–r7 rows-only gate): the
    REAL pandas-UDF operator runs over planted texts (one of 6 fixed
    repetitiveness shapes per doc_id), and because each shape's level-6
    zlib output length is a deterministic constant, the oracle pins
    compressed length and ratio decile closed-form per shape. Emits
    comp_len as an integer (ratio·raw_len rounds back to the exact
    compressed byte count — no float seam crosses the engines)."""
    from wine_label_ocr_spark.operators.textops import compression_ratio
    d = _t(spark, sf, "documents").select("doc_id")
    shapes = F.array(*[F.lit(s) for s in _ZLIB_SHAPES])
    text = F.get(shapes, F.pmod(F.col("doc_id"),
                                F.lit(len(_ZLIB_SHAPES))).cast("int"))
    ratio = compression_ratio(text)
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.round(ratio * F.length(text)).cast("bigint").alias("comp_len"),
        F.floor(ratio * 10).cast("int").alias("decile"))


def _compression_ratio_oracle_sql() -> str:
    """DuckDB twin of q_compression_ratio: per planted shape, the level-6
    zlib output length is computed ONCE here (same zlib the executors
    call) and stated as a literal; the decile replays the identical
    float64 ops (clen/raw·10, floored)."""
    import math
    import zlib
    n = len(_ZLIB_SHAPES)
    clens = [len(zlib.compress(s.encode("utf-8"), 6)) for s in _ZLIB_SHAPES]
    decs = [math.floor(c / len(s.encode("utf-8")) * 10)
            for c, s in zip(clens, _ZLIB_SHAPES)]
    clen_case = " ".join(f"WHEN {i} THEN {c}" for i, c in enumerate(clens))
    dec_case = " ".join(f"WHEN {i} THEN {d}" for i, d in enumerate(decs))
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(CASE doc_id % {n} {clen_case} END AS BIGINT) AS comp_len,
               CAST(CASE doc_id % {n} {dec_case} END AS INT) AS decile
        FROM documents
    """


def q_curation_funnel(spark, sf):  # plans/curate: capstone survivor counts
    """The curation capstone under the correctness gate: documents →
    rendered pages → extract → quality/length gates → exact dedup →
    MinHash near-dup dedup, reported as per-stage survivor counts.
    Counts are representative-independent (WHICH duplicate survives is a
    tie-break; HOW MANY survive is not), so the whole funnel — both
    dedup stages included — has an exact DuckDB twin: the extraction is
    byte-faithful (certified by extract_fields_pipeline), so the oracle
    re-derives every gate from documents.text directly."""
    from wine_label_ocr_spark.fixtures import documents_as_pages
    from wine_label_ocr_spark.plans.curate import run_curation_funnel
    counts = run_curation_funnel(documents_as_pages(spark, sf),
                                 min_quality=0.3, min_tokens=10,
                                 near_dup_jaccard=0.85, oracle_safe=True)
    return spark.createDataFrame(
        [(i, *kv) for i, kv in enumerate(counts.items())],
        "stage_idx int, stage string, n_docs bigint")


def q_url_canon(spark, sf):  # textops.canonical_url: crawl URL dedup key
    """URL canonicalization over planted messy URLs (one of 6 deterministic
    shapes per doc_id: uppercase scheme/host + default port + tracking
    params + fragment / default-port root / non-default port + trailing
    slash / no path / mixed-case host with kept params / non-http).
    The Spark side runs the REAL operator; the oracle states the expected
    canonical in closed form per shape — the solid-color-PNG pattern."""
    from wine_label_ocr_spark.operators.textops import canonical_url
    d = _t(spark, sf, "documents").select("doc_id")
    v = F.pmod(F.col("doc_id"), F.lit(6))
    s = F.pmod(F.col("doc_id"), F.lit(20)).cast("string")
    did = F.col("doc_id").cast("string")
    url = (F.when(v == 0, F.concat(
                F.lit("HTTPS://WWW.Site"), s, F.lit(".COM:443/page/"), did,
                F.lit("/?utm_source=feed&id="), did, F.lit("&fbclid=xyz#top")))
           .when(v == 1, F.concat(F.lit("http://site"), s, F.lit(".com:80/")))
           .when(v == 2, F.concat(F.lit("http://site"), s, F.lit(".com:8080/a/"),
                                  did, F.lit("/")))
           .when(v == 3, F.concat(F.lit("https://site"), s, F.lit(".com")))
           .when(v == 4, F.concat(F.lit("https://Site"), s,
                                  F.lit(".com/A/b?b=2&a=1&utm_campaign="), did))
           .otherwise(F.concat(F.lit("notaurl:"), did)))
    return (d.select("doc_id", url.alias("url"))
            .select("doc_id", "url",
                    canonical_url(F.col("url")).alias("canonical_url"))
            .orderBy("doc_id"))


def q_incremental_dedup(spark, sf):  # dedupe: crawl-over-crawl ingest
    """Cross-snapshot dedup: even doc_ids play the PRIOR crawl (their
    fingerprint store is all that survives), odd doc_ids the NEW crawl;
    survivors are new docs with no exact content-key match and no shared
    MinHash band against the store. md5 flavor for DuckDB bit-parity."""
    from wine_label_ocr_spark.operators.dedupe import (
        incremental_dedup, snapshot_fingerprints)
    d = _t(spark, sf, "documents")
    prior = d.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    new = d.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    fps = snapshot_fingerprints(prior, n_perm=16, n_bands=4, oracle_safe=True)
    out = incremental_dedup(new, fps, n_perm=16, n_bands=4, oracle_safe=True)
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id")) \
              .orderBy("doc_id")


def q_tfidf_pruned(spark, sf):  # textops: tf·idf, 10^12-doc broadcast shape
    """The pruned-broadcast tf·idf flavor (within-row tf, df>=2 vocab
    broadcast, narrow top-k regroup) — same integer-scaled scores as the
    exact flavor, certified against a DuckDB twin that prunes the same
    way. Exercises term_frequencies' run-length fold under the gate."""
    from wine_label_ocr_spark.operators.textops import tfidf_top_terms
    d = _t(spark, sf, "documents")
    return tfidf_top_terms(d, k=3, min_df=2).orderBy("doc_id", "rank")


def q_quality_classifier(spark, sf):  # classify: fasttext-style scoring
    """Hashed uni+bi-gram linear classifier over documents with a
    deterministic weight table (weight(b) = b % 2001 − 1000, built from
    the corpus's own distinct buckets — 'trained on this corpus'), md5
    bucket flavor for DuckDB parity. Certifies the whole scoring path:
    within-row feature hashing/counting, broadcast weight join, exact
    integer logits."""
    from wine_label_ocr_spark.operators.classify import (
        hashed_ngram_features, linear_text_classifier)
    d = _t(spark, sf, "documents")
    nb = 1 << 16
    feats = d.select(F.explode(hashed_ngram_features(
        F.col("text"), 2, nb, oracle_safe=True)).alias("e"))
    weights = (feats.select(F.col("e.bucket").alias("bucket")).distinct()
               .withColumn("weight_scaled",
                           (F.pmod(F.col("bucket"), F.lit(2001)) - 1000)
                           .cast("bigint")))
    out = linear_text_classifier(d, weights, bias_scaled=0, n_max=2,
                                 n_buckets=nb, oracle_safe=True)
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                      "n_features", "logit_scaled", "keep").orderBy("doc_id")


def q_blocklist_filter(spark, sf):  # classify: UT1-style domain blocklist
    """Domain blocklist over the planted url_canon shapes: site3.com and
    site11.com (and every subdomain, e.g. www.site3.com) are dropped;
    non-URL rows are kept. Closed-form oracle."""
    from wine_label_ocr_spark.operators.classify import filter_blocklisted
    d = _t(spark, sf, "documents").select("doc_id")
    v = F.pmod(F.col("doc_id"), F.lit(6))
    s = F.pmod(F.col("doc_id"), F.lit(20)).cast("string")
    did = F.col("doc_id").cast("string")
    url = (F.when(v == 0, F.concat(F.lit("HTTPS://WWW.Site"), s,
                                   F.lit(".COM:443/page/"), did))
           .when(v == 5, F.concat(F.lit("notaurl:"), did))
           .otherwise(F.concat(F.lit("https://site"), s, F.lit(".com/p/"), did)))
    pages = d.select("doc_id", url.alias("url"))
    # site6.com hits doc_ids where the planted shape is the uppercase
    # WWW.Site6.COM:443 variant - certifying that registrable_host
    # normalization (case, port) and the www-subdomain suffix all work
    bl = spark.createDataFrame([("site3.com",), ("site11.com",),
                                ("site6.com",)], "domain string")
    return filter_blocklisted(pages, bl).orderBy("doc_id")


def q_exact_substring(spark, sf):  # dedupe: Lee-et-al exact-substring spans
    """Exact-substring duplicate spans (token space, T=8 at gate scale;
    50 in production) over documents, PRODUCTION hash flavor — the final
    spans are decided by full-gram verification, so the candidate hash
    flavor cannot affect the result and the DuckDB twin groups grams
    directly."""
    from wine_label_ocr_spark.operators.dedupe import exact_substring_spans
    d = _t(spark, sf, "documents")
    return (exact_substring_spans(d, min_tokens=8)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "start", "end")
            .orderBy("doc_id", "start"))


def q_text_fix(spark, sf):  # textops.fix_text: ftfy-lite normalization
    """Crawl-text normalization over planted broken inputs (real cp1252
    mojibake generated from the clean strings, raw control characters,
    exotic unicode spaces, zero-widths). The Spark side runs the REAL
    operator; the oracle states the expected clean text per shape."""
    from wine_label_ocr_spark.operators.textops import fix_text

    def moji(good: str) -> str:
        return good.encode("utf-8").decode("cp1252", errors="ignore")

    d = _t(spark, sf, "documents").select("doc_id")
    m = F.pmod(F.col("doc_id"), F.lit(4))
    raw = (F.when(m == 0, F.lit(moji("café déjà vu")))
           .when(m == 1, F.lit(moji("“quote") + "â€\x9d" + moji(" ’s – — …")))
           .when(m == 2, F.lit("a\x00b\x07c\u00a0d\u200be\u3000f"))
           .otherwise(F.lit("plain text")))
    return (d.select("doc_id", fix_text(raw).alias("fixed"))
            .orderBy("doc_id"))


def q_image_dhash(spark, sf):  # multimodal: perceptual image fingerprint
    """Perceptual dHash over planted block-pattern PNGs (gray, cycling
    filters, every 3rd Adam7-interlaced): the engine runs the full
    decode → luma → 8×9 block-mean → gradient-sign path; the oracle
    derives the expected 64-bit hash from the planted pattern directly
    (no bytes touched) — an independent derivation, not a shared code
    path."""
    from wine_label_ocr_spark.fixtures import documents_as_media_dhash
    from wine_label_ocr_spark.operators.multimodal import image_dhash
    pages = documents_as_media_dhash(spark, sf)
    return (image_dhash(pages, id_col="url")
            .select("url", "dhash", "decode_ok").orderBy("url"))


def _dhash_oracle_sql() -> str:
    from wine_label_ocr_spark.fixtures import DHASH_PATTERNS

    def expected(pat) -> int:
        bits = 0
        for r in range(8):
            for c in range(8):
                if pat[c] > pat[c + 1]:
                    bits |= 1 << (r * 8 + c)
        return bits - (1 << 64) if bits >= (1 << 63) else bits

    cases = "\n".join(
        f"                WHEN {i} THEN CAST({expected(p)} AS BIGINT)"
        for i, p in enumerate(DHASH_PATTERNS))
    return f"""
        SELECT 'dhash:' || printf('%09d', doc_id) AS url,
               CASE doc_id % 8
{cases}
               END AS dhash,
               TRUE AS decode_ok
        FROM documents
        ORDER BY url
    """


def q_audio_features(spark, sf):  # multimodal: real WAV decode + FFT
    """Spectral features over planted pure-tone WAVs (16-bit PCM, exact
    FFT-bin frequencies → zero leakage): the engine decodes RIFF bytes
    and FFTs; the oracle states the closed-form dominant bin per
    doc_id."""
    from wine_label_ocr_spark.fixtures import documents_as_media_audio
    from wine_label_ocr_spark.operators.multimodal import audio_features
    pages = documents_as_media_audio(spark, sf)
    return (audio_features(pages, id_col="url")
            .select("url", "sample_rate", "n_samples", "dominant_bin",
                    "dominant_freq_mhz", "decode_ok")
            .orderBy("url"))


def q_audio_resample(spark, sf):  # multimodal: REAL PCM rate conversion
    """Sample-rate conversion under the value gate: planted exact-bin
    tones (rate 8192, bin k = 32 + doc_id % 64) are resampled to 4096
    with the windowed-sinc kernel, then the standard FFT feature path
    runs over the RESAMPLED bytes. The physical frequency must survive
    the conversion exactly: bin doubles (2k at the halved rate), the
    milli-Hz frequency is unchanged (8000·k), and 2048 source samples
    become exactly 1024 — every value closed-form in doc_id (reference
    analog: the fixed-cadence capture loop resamples its camera feed,
    hybrid.py preprocess variants)."""
    from wine_label_ocr_spark.fixtures import documents_as_media_audio
    from wine_label_ocr_spark.operators.multimodal import (
        audio_features, resample_audio)
    pages = documents_as_media_audio(spark, sf)
    res = resample_audio(pages, target_rate=4096)
    return (audio_features(res.filter("decode_ok"), id_col="url")
            .select("url", "sample_rate", "n_samples", "dominant_bin",
                    "dominant_freq_mhz", "decode_ok")
            .orderBy("url"))


def q_audio_spectrogram(spark, sf):  # multimodal: framed STFT features
    """Hann-windowed STFT under the value gate: the planted exact-bin
    tones (rate 8192, bin k = 32 + doc_id % 64 at n_fft 1024) dominate
    EVERY frame, so the per-frame dominant-bin array is closed-form:
    2048 samples at hop 512 → exactly 3 frames, each argmax = k."""
    from wine_label_ocr_spark.fixtures import documents_as_media_audio
    from wine_label_ocr_spark.operators.multimodal import audio_spectrogram
    pages = documents_as_media_audio(spark, sf)
    return (audio_spectrogram(pages, id_col="url", n_fft=1024, hop=512)
            .select("url", "sample_rate", "n_frames", "dominant_bins",
                    "decode_ok")
            .orderBy("url"))


def q_audio_dedup(spark, sf):  # multimodal: content-level audio dedup
    """Spectral-fingerprint dedup under the value gate: the planted
    corpus reuses 64 tone bins across 500 docs, so content dedup must
    recover exactly 64 groups of ⌈500/64⌉-member shape with closed-form
    membership (all doc_ids ≡ k−32 mod 64), independent of byte-level
    container differences."""
    from wine_label_ocr_spark.fixtures import documents_as_media_audio
    from wine_label_ocr_spark.operators.multimodal import audio_content_dedup
    pages = documents_as_media_audio(spark, sf)
    return (audio_content_dedup(pages, id_col="url", n_fft=1024, hop=512)
            .select("dominant_bins",
                    F.col("n_dups").cast("bigint").alias("n_dups"),
                    "canonical_id", "members")
            .orderBy("canonical_id"))


def q_outlinks(spark, sf):  # graph: href extraction for frontier/link graph
    """Outlink extraction over planted html (absolute/uppercase-HREF/
    fragment-only/relative/UNQUOTED/<area image-map> shapes, plus
    <abbr href> and <basefont href> negatives for the tag-name
    boundary). Spark runs the real operator; the DuckDB twin runs the
    IDENTICAL RE2-safe pattern + quote-strip."""
    from wine_label_ocr_spark.operators.graph import extract_outlinks
    d = _t(spark, sf, "documents").select("doc_id")
    a = F.pmod(F.col("doc_id"), F.lit(20)).cast("string")
    b = F.pmod(F.col("doc_id") * 3, F.lit(20)).cast("string")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<p>t</p><a href="https://site'), a, F.lit('.com/x/'), did,
        F.lit('">1</a><A HREF=\'https://site'), b, F.lit(".com/y'>2</A>"),
        F.lit('<a href="#s">n</a><a href="/rel/'), did, F.lit('">r</a>'),
        F.lit('<a href=/bare/'), did, F.lit('>u</a>'),
        F.lit('<area shape="rect" href="/map/'), b, F.lit('">'),
        F.lit('<abbr href="no">z</abbr><basefont href="/bf/">'))
    pages = d.select(F.concat(F.lit("doc:"), did).alias("url"),
                     html.alias("html"))
    return extract_outlinks(pages).orderBy("src", "href")


def q_outlinks_resolved(spark, sf):  # graph: RFC 3986 href resolution
    """Outlink extraction with RFC 3986 resolution over planted html:
    relative dot-segment hrefs, absolute paths, protocol-relative,
    query-only, an UNQUOTED relative href, and a ``<base href>`` tag on
    every 4th page — every page also opens with a ``<basefont href>``
    decoy that must NOT be picked as the base (tag-name boundary). The
    oracle states each resolved URL closed-form (no RFC logic in
    SQL)."""
    from wine_label_ocr_spark.operators.graph import extract_outlinks
    d = _t(spark, sf, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    h = F.pmod(F.col("doc_id"), F.lit(5)).cast("string")
    k = F.pmod(F.col("doc_id"), F.lit(3)).cast("string")
    base_tag = F.when(F.pmod(F.col("doc_id"), F.lit(4)) == 0,
                      F.lit('<base href="/b/">')).otherwise(F.lit(""))
    html = F.concat(
        F.lit('<basefont href="/evil/">'),
        base_tag,
        F.lit('<a href="x/../y'), did, F.lit('.html">1</a>'),
        F.lit('<a href="/abs/'), did, F.lit('">2</a>'),
        F.lit('<a href="//cdn'), k, F.lit('.com/lib.js">3</a>'),
        F.lit('<a href="?q='), did, F.lit('">4</a>'),
        F.lit('<a href=bare'), k, F.lit('.html>5</a>'))
    pages = d.select(
        F.concat(F.lit("https://ex"), h, F.lit(".com/dir/sub/page"),
                 did, F.lit(".html")).alias("url"),
        html.alias("html"))
    return (extract_outlinks(pages, resolve=True)
            .orderBy("src", "href"))


def q_pq_topk(spark, sf):  # ann: product-quantization ADC top-k
    """PQ encode + ADC search under a FULL value oracle: with the
    deterministic fixed codebooks as plan literals, encoding (per-
    subspace argmin) and ADC distances (table lookups + adds) are pure
    closed-form float algebra whose op sequence the DuckDB twin replays
    exactly — so unlike ivf_topk (learned Lloyd, rows-only) this PQ
    path hash-gates. m=4 subspaces × 8 codes over the 64-dim vectors."""
    from wine_label_ocr_spark.operators.ann import (
        pq_adc_topk, pq_encode, pq_fixed_codebooks)
    e = _t(spark, sf, "embeddings").select(
        "vec_id",
        F.transform("embedding",
                    lambda x: F.round(x.cast("double"), 3)).alias("embedding"))
    books = pq_fixed_codebooks(4, 8, 64)
    codes = e.select("vec_id",
                     pq_encode(F.col("embedding"), books).alias("pq_code"))
    q = (e.filter(F.col("vec_id") % 100 == 0)
         .select(F.col("vec_id").alias("q_id"), "embedding"))
    return pq_adc_topk(q, codes, books, k=5)


def _pq_oracle_sql(m=4, ksub=8, dim=64, k=5) -> str:
    """DuckDB twin of q_pq_topk: the same fixed-codebook literals, the
    same left-fold distance op sequence (prepend-0 list_reduce ≡ Spark's
    aggregate), argmin via list_position(list_min) ≡ array_min on
    (dist, idx) structs — bit-identical doubles end to end."""
    from wine_label_ocr_spark.operators.ann import pq_fixed_codebooks
    books = pq_fixed_codebooks(m, ksub, dim)
    sub = dim // m

    def d2(vec_expr: str, j: int, c: int) -> str:
        cent = "[" + ", ".join(repr(v) for v in books[j][c]) + "]"
        return (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
                f"list_transform(generate_series(1, {sub}), i -> "
                f"({vec_expr}[{j * sub} + i] - {cent}[i]) "
                f"* ({vec_expr}[{j * sub} + i] - {cent}[i]))), "
                f"(a, b) -> a + b)")

    def enc(j: int) -> str:
        djs = "[" + ", ".join(d2("e", j, c) for c in range(ksub)) + "]"
        return (f"(list_position({djs}, list_min({djs})) - 1)")

    code = "[" + ", ".join(enc(j) for j in range(m)) + "]"
    adc = " + ".join(
        f"(CASE code[{j + 1}]"
        + "".join(f" WHEN {c} THEN {d2('qe', j, c)}"
                  for c in range(ksub))
        + " END)"
        for j in range(m))
    return f"""
        WITH r AS (SELECT vec_id,
                          list_transform(embedding,
                              x -> round(CAST(x AS DOUBLE), 3)) AS e
                   FROM embeddings),
        codes AS (SELECT vec_id AS c_id, {code} AS code FROM r),
        q AS (SELECT vec_id AS q_id, e AS qe FROM r
              WHERE vec_id % 100 = 0),
        s AS (SELECT q_id, c_id, CAST(0.0 AS DOUBLE) + {adc} AS adc
              FROM codes CROSS JOIN q)
        SELECT q_id, c_id, ROUND(adc, 6) AS adc_dist, CAST(rank AS INT)
                   AS rank
        FROM (SELECT q_id, c_id, adc,
                     ROW_NUMBER() OVER (PARTITION BY q_id
                                        ORDER BY adc ASC, c_id) AS rank
              FROM s)
        WHERE rank <= {k}
        ORDER BY q_id, rank
    """


def q_ivfadc_topk(spark, sf):  # ann: IVF x PQ (IVFADC) search, hash-gated
    """The classic IVFADC composition under a FULL value oracle: fixed
    hash-derived coarse centroids (8 cells) + PQ codebooks (4×8) make
    cell assignment, residual encoding, probe selection, and ADC all
    closed-form float algebra; the DuckDB twin replays the identical op
    sequence. 2 probes, top-5."""
    from wine_label_ocr_spark.operators.ann import (
        ivfadc_index, ivfadc_topk, pq_fixed_codebooks)
    e = _t(spark, sf, "embeddings").select(
        "vec_id",
        F.transform("embedding",
                    lambda x: F.round(x.cast("double"), 3)).alias("embedding"))
    cents = pq_fixed_codebooks(1, 8, 64, seed=7)[0]
    books = pq_fixed_codebooks(4, 8, 64)
    idx = ivfadc_index(e, cents, books)
    q = (e.filter(F.col("vec_id") % 100 == 0)
         .select(F.col("vec_id").alias("q_id"), "embedding"))
    return ivfadc_topk(q, idx, cents, books, k=5, n_probes=2)


def _ivfadc_oracle_sql(n_cells=8, m=4, ksub=8, dim=64, k=5,
                       n_probes=2) -> str:
    """DuckDB twin of q_ivfadc_topk: same centroid/codebook literals,
    same left-fold distances, argmin via list_position(list_min), probe
    pick via list_sort on (d, c) structs (ties → lowest cell, matching
    Spark's array_sort/array_min struct order)."""
    from wine_label_ocr_spark.operators.ann import pq_fixed_codebooks
    cents = pq_fixed_codebooks(1, n_cells, dim, seed=7)[0]
    books = pq_fixed_codebooks(m, ksub, dim)
    sub = dim // m
    cs_flat = "[" + ", ".join(repr(v) for c in cents for v in c) + "]"

    def d2full(vec: str, cent: list) -> str:
        lit = "[" + ", ".join(repr(v) for v in cent) + "]"
        return (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
                f"list_transform(generate_series(1, {dim}), i -> "
                f"({vec}[i] - {lit}[i]) * ({vec}[i] - {lit}[i]))), "
                f"(a, b) -> a + b)")

    def d2sub(vec: str, j: int, c: int) -> str:
        lit = "[" + ", ".join(repr(v) for v in books[j][c]) + "]"
        return (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
                f"list_transform(generate_series(1, {sub}), i -> "
                f"({vec}[{j * sub} + i] - {lit}[i]) "
                f"* ({vec}[{j * sub} + i] - {lit}[i]))), "
                f"(a, b) -> a + b)")

    cell_djs = "[" + ", ".join(d2full("e", c) for c in cents) + "]"
    cell = f"(list_position({cell_djs}, list_min({cell_djs})) - 1)"
    probe_structs = "[" + ", ".join(
        f"struct_pack(d := {d2full('e', c)}, c := {i})"
        for i, c in enumerate(cents)) + "]"

    def enc(j: int) -> str:
        djs = "[" + ", ".join(d2sub("res", j, c) for c in range(ksub)) + "]"
        return f"(list_position({djs}, list_min({djs})) - 1)"

    code = "[" + ", ".join(enc(j) for j in range(m)) + "]"
    adc = " + ".join(
        f"(CASE code[{j + 1}]"
        + "".join(f" WHEN {c} THEN {d2sub('res', j, c)}"
                  for c in range(ksub))
        + " END)"
        for j in range(m))
    return f"""
        WITH r AS (SELECT vec_id,
                          list_transform(embedding,
                              x -> round(CAST(x AS DOUBLE), 3)) AS e
                   FROM embeddings),
        asg AS (SELECT vec_id AS c_id, e, {cell} AS cell FROM r),
        cres AS (SELECT c_id, cell,
                        list_transform(generate_series(1, {dim}),
                            i -> e[i] - {cs_flat}[cell * {dim} + i]) AS res
                 FROM asg),
        codes AS (SELECT c_id, cell, {code} AS code FROM cres),
        q AS (SELECT vec_id AS q_id, e FROM r WHERE vec_id % 100 = 0),
        pl AS (SELECT q_id, e,
                      list_sort({probe_structs})[1:{n_probes}] AS ps
               FROM q),
        probes AS (SELECT q_id, e, p['c'] AS cell
                   FROM pl, unnest(ps) AS t(p)),
        qres AS (SELECT q_id, cell,
                        list_transform(generate_series(1, {dim}),
                            i -> e[i] - {cs_flat}[cell * {dim} + i]) AS res
                 FROM probes),
        s AS (SELECT q_id, codes.c_id,
                     CAST(0.0 AS DOUBLE) + {adc} AS adc
              FROM codes JOIN qres USING (cell))
        SELECT q_id, c_id, ROUND(adc, 6) AS adc_dist,
               CAST(rank AS INT) AS rank
        FROM (SELECT q_id, c_id, adc,
                     ROW_NUMBER() OVER (PARTITION BY q_id
                                        ORDER BY adc ASC, c_id) AS rank
              FROM s)
        WHERE rank <= {k}
        ORDER BY q_id, rank
    """


def _ivf_fixed_oracle_sql(n_cells=8, dim=64, k=5, n_probes=2) -> str:
    """DuckDB twin of q_ivf_topk (fixed-centroid flavor): same centroid
    literals and struct-sort probe pick as the ivfadc twin, exact cosine
    re-rank with the cosine_topk fold (query-major, left-to-right — the
    identical order Spark's zip_with/aggregate folds)."""
    from wine_label_ocr_spark.operators.ann import pq_fixed_codebooks
    cents = pq_fixed_codebooks(1, n_cells, dim, seed=7)[0]

    def d2full(vec: str, cent: list) -> str:
        lit = "[" + ", ".join(repr(v) for v in cent) + "]"
        return (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
                f"list_transform(generate_series(1, {dim}), i -> "
                f"({vec}[i] - {lit}[i]) * ({vec}[i] - {lit}[i]))), "
                f"(a, b) -> a + b)")

    cell_djs = "[" + ", ".join(d2full("e", c) for c in cents) + "]"
    cell = f"(list_position({cell_djs}, list_min({cell_djs})) - 1)"
    probe_structs = "[" + ", ".join(
        f"struct_pack(d := {d2full('qe', c)}, c := {i})"
        for i, c in enumerate(cents)) + "]"
    cos = """
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, len(qe)), i -> qe[i] * ce[i])),
            (a, b) -> a + b)
        / GREATEST(
            sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(qe, x -> x * x)), (a, b) -> a + b))
            * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(ce, x -> x * x)), (a, b) -> a + b)),
            CAST(1e-12 AS DOUBLE))"""
    return f"""
        WITH r AS (SELECT vec_id,
                          list_transform(embedding,
                              x -> round(CAST(x AS DOUBLE), 3)) AS e
                   FROM embeddings),
        asg AS (SELECT vec_id AS c_id, e AS ce, {cell} AS cell FROM r),
        q AS (SELECT vec_id AS q_id, e AS qe FROM r WHERE vec_id % 100 = 0),
        pl AS (SELECT q_id, qe,
                      list_sort({probe_structs})[1:{n_probes}] AS ps
               FROM q),
        probes AS (SELECT q_id, qe, p['c'] AS cell
                   FROM pl, unnest(ps) AS t(p)),
        s AS (SELECT q_id, asg.c_id, {cos} AS cosine
              FROM asg JOIN probes USING (cell))
        SELECT q_id, c_id, ROUND(cosine, 6) AS cosine,
               CAST(rank AS INT) AS rank
        FROM (SELECT q_id, c_id, cosine,
                     ROW_NUMBER() OVER (PARTITION BY q_id
                                        ORDER BY cosine DESC, c_id) AS rank
              FROM s)
        WHERE rank <= {k}
        ORDER BY q_id, rank
    """


def q_frontier_schedule(spark, sf):  # frontier: politeness fetch slots
    """Crawl-frontier scheduling over planted URLs (10 hosts, zero-
    padded paths so lexicographic order = doc order) with the delay
    table coming from REAL robots.txt bytes: hosts h0–h4 carry
    ``Crawl-delay: 0.5·(k+1)`` seconds (fractional-seconds parsing,
    ms conversion, and the robots→frontier composition all under the
    gate), the rest fall back to the 1000 ms default. Per-host seq,
    host-sticky md5 worker assignment, and delay-spaced fetch offsets
    — all closed-form in doc_id for the oracle."""
    from wine_label_ocr_spark.operators.frontier import schedule_frontier
    from wine_label_ocr_spark.operators.robots import robots_directives
    d = _t(spark, sf, "documents").select("doc_id")
    urls = d.select(
        F.concat(F.lit("https://h"),
                 F.pmod(F.col("doc_id"), F.lit(10)).cast("string"),
                 F.lit(".com/p/"),
                 F.lpad(F.col("doc_id").cast("string"), 9, "0"))
        .alias("url"))
    robots = spark.createDataFrame(
        [(f"h{k}.com",
          f"User-agent: *\nCrawl-delay: {0.5 * (k + 1)}\nDisallow: /tmp/\n"
          "Sitemap: https://h.com/sm.xml\n") for k in range(5)],
        "host string, robots_txt string")
    delays = robots_directives(robots)
    return (schedule_frontier(urls, delays, default_delay_ms=1000,
                              n_workers=16, delay_col="crawl_delay_ms",
                              oracle_safe=True)
            .orderBy("url"))


def _crawl_cycle_inputs(spark, sf):
    """Shared planted fixture for the crawl-cycle gates: pages on six
    source hosts s0–s5, four extracted link shapes per page (absolute
    with cross-doc duplicates, tracking-params, relative-with-dot-
    segments, unquoted bare) plus a dropped fragment link; robots with
    ``Disallow: /x/`` + fractional ``Crawl-delay`` on target hosts
    t0–t4; a seen-URL store covering the doc_id%5==0 absolute
    targets."""
    from wine_label_ocr_spark.plans.crawl import seen_url_fps
    d = _t(spark, sf, "documents").select("doc_id")
    did = F.col("doc_id")
    s = lambda m: F.pmod(did, F.lit(m)).cast("string")  # noqa: E731
    html = F.concat(
        F.lit('<a href="https://t'), s(10), F.lit(".com/p/"), s(250),
        F.lit('">1</a><a href="https://t'), s(10), F.lit(".com/x/"), s(20),
        F.lit('?utm_source=u&gclid=g">2</a><a href="r/../q'), s(8),
        F.lit('.html">3</a><a href="#top">n</a><a href=/bare'), s(7),
        F.lit(">5</a>"))
    pages = d.select(
        F.concat(F.lit("https://s"), s(6), F.lit(".com/d/"),
                 did.cast("string")).alias("url"),
        html.alias("html"))
    robots = spark.createDataFrame(
        [(f"t{k}.com",
          f"User-agent: *\nDisallow: /x/\nCrawl-delay: {0.5 * (k + 1)}\n")
         for k in range(5)],
        "host string, robots_txt string")
    prev = d.filter(F.pmod(did, F.lit(5)) == 0).select(
        F.concat(F.lit("https://t"), s(10), F.lit(".com/p/"), s(250))
        .alias("url"))
    return pages, robots, seen_url_fps(prev, oracle_safe=True)


def q_crawl_cycle(spark, sf):  # plans/crawl: composed crawl-cycle capstone
    """The full crawl cycle under one value oracle: outlink extraction →
    RFC 3986 resolution → URL canonicalization (tracking params drop) →
    seen-store anti-join → robots Allow/Disallow → Crawl-delay-fed
    frontier schedule. Certifies the cross-operator contracts (resolved
    URL shape, host-key normalization, robots→scheduler delay plumbing)
    that the per-operator gates cannot see."""
    from wine_label_ocr_spark.plans.crawl import crawl_cycle
    pages, robots, seen = _crawl_cycle_inputs(spark, sf)
    return (crawl_cycle(pages, robots, seen, oracle_safe=True)
            .orderBy("url"))


def q_crawl_cycle_funnel(spark, sf):  # plans/crawl: per-stage survivors
    """Survivor counts of the same composed cycle (outlinks →
    candidates → unseen → allowed → scheduled), each closed-form in
    doc_id for the oracle; scheduled == allowed pins the scheduler's
    no-drop contract on canonical http(s) URLs."""
    from wine_label_ocr_spark.plans.crawl import run_crawl_funnel_one_pass
    pages, robots, seen = _crawl_cycle_inputs(spark, sf)
    counts = run_crawl_funnel_one_pass(pages, robots, seen, oracle_safe=True)
    return spark.createDataFrame(
        [(i, *kv) for i, kv in enumerate(counts.items())],
        "stage_idx int, stage string, n_urls bigint")


def _crawl_sitemap_inputs(spark, sf):
    """The crawl-cycle fixture extended with robots-declared sitemaps:
    hosts t0–t4 declare ``Sitemap: https://tk.com/sm.xml``; each
    declared file lists 12 zero-padded ``/sm/NNN`` locs, one
    entity-escaped query loc (``&amp;`` — the spec-required escaping
    the XML parse must undo), and one ``/x/sm`` loc the same robots
    bytes disallow; an UNDECLARED ``evil.com`` payload is present and
    must inject nothing (the left-semi declared-only contract)."""
    pages, _, seen = _crawl_cycle_inputs(spark, sf)
    robots = spark.createDataFrame(
        [(f"t{k}.com",
          f"User-agent: *\nDisallow: /x/\nCrawl-delay: {0.5 * (k + 1)}\n"
          f"Sitemap: https://t{k}.com/sm.xml\n") for k in range(5)],
        "host string, robots_txt string")

    def xml(k):
        locs = "".join(f"<url><loc>https://t{k}.com/sm/{j:03d}</loc></url>"
                       for j in range(12))
        locs += (f"<url><loc>https://t{k}.com/sm/e?a=1&amp;b=2</loc></url>"
                 f"<url><loc>https://t{k}.com/x/sm</loc></url>")
        return ('<urlset xmlns="http://www.sitemaps.org/schemas/'
                f'sitemap/0.9">{locs}</urlset>')

    sitemaps = spark.createDataFrame(
        [(f"https://t{k}.com/sm.xml", xml(k)) for k in range(5)]
        + [("https://evil.com/sm.xml",
            "<urlset><url><loc>https://evil.com/p</loc></url></urlset>")],
        "url string, sitemap_xml string")
    return pages, robots, seen, sitemaps


def q_crawl_cycle_sitemap(spark, sf):  # plans/crawl + operators/sitemap
    """The composed crawl cycle with sitemap seeding under the value
    oracle: robots ``Sitemap:`` directives select which fetched
    sitemap payloads feed the frontier, their locs union into the
    candidate set before the seen anti-join, and the seeds then pass
    the SAME robots gate and Crawl-delay scheduling as extracted
    outlinks (``/x/sm`` must not survive; the undeclared payload's
    URLs must not appear at all)."""
    from wine_label_ocr_spark.plans.crawl import crawl_cycle
    pages, robots, seen, sitemaps = _crawl_sitemap_inputs(spark, sf)
    return (crawl_cycle(pages, robots, seen, oracle_safe=True,
                        sitemaps=sitemaps)
            .orderBy("url"))


def q_pagerank(spark, sf):  # graph: exact fixed-point PageRank
    """Host PageRank over a deterministic edge list derived from
    documents (src h(doc_id%20) → dst h((doc_id·7+3)%20), distinct;
    every host has out-edges, so no dangling mass). All-bigint floor
    math makes the ranks engine-exact; the oracle unrolls the 5
    iterations as chained CTEs."""
    from wine_label_ocr_spark.operators.graph import pagerank
    d = _t(spark, sf, "documents").select("doc_id")
    edges = d.select(
        F.concat(F.lit("h"), F.pmod(F.col("doc_id"), F.lit(20))
                 .cast("string")).alias("src_host"),
        F.concat(F.lit("h"), F.pmod(F.col("doc_id") * 7 + 3, F.lit(20))
                 .cast("string")).alias("dst_host")).distinct()
    return pagerank(edges, n_iters=5).orderBy("host")


def q_pagerank_dangling(spark, sf):  # graph: dangling-mass redistribution
    """PageRank with the damped dangling mass added back uniformly each
    iteration (mass-conserving variant): src hosts h(doc_id%15), dst
    hosts h((doc_id*7+3)%20) — h15..h19 receive links but never emit,
    so they are genuinely dangling. Same all-bigint floor math; the
    oracle's unrolled CTEs carry the per-iteration dangling scalar."""
    from wine_label_ocr_spark.operators.graph import pagerank
    d = _t(spark, sf, "documents").select("doc_id")
    edges = d.select(
        F.concat(F.lit("h"), F.pmod(F.col("doc_id"), F.lit(15))
                 .cast("string")).alias("src_host"),
        F.concat(F.lit("h"), F.pmod(F.col("doc_id") * 7 + 3, F.lit(20))
                 .cast("string")).alias("dst_host")).distinct()
    return pagerank(edges, n_iters=5,
                    redistribute_dangling=True).orderBy("host")


def _pagerank_oracle_sql(n_iters=5, damping=85, scale=1_000_000_000_000,
                         src_mod=20, dangling=False) -> str:
    prev, chain = "pr0", []
    for k in range(1, n_iters + 1):
        dang = ""
        if dangling:
            dang = f"""
                      + ({damping} * (SELECT COALESCE(SUM(p.rank_scaled), 0)
                                      FROM {prev} p LEFT JOIN deg d
                                        ON p.host = d.src
                                      WHERE d.src IS NULL))
                        // 100 // (SELECT n FROM nn)"""
        chain.append(f"""
        pr{k} AS (
          SELECT n.host,
                 CAST(({scale} * {100 - damping}) // 100 // (SELECT n FROM nn)
                      + ({damping} * COALESCE(s.inflow, 0)) // 100{dang}
                     AS BIGINT)
                     AS rank_scaled
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS host, SUM(p.rank_scaled // d.deg) AS inflow
            FROM e JOIN {prev} p ON e.src = p.host
                   JOIN deg d ON d.src = e.src
            GROUP BY e.dst) s ON n.host = s.host)""")
        prev = f"pr{k}"
    return f"""
        WITH e AS (
          SELECT DISTINCT 'h' || (doc_id % {src_mod}) AS src,
                          'h' || ((doc_id * 7 + 3) % 20) AS dst
          FROM documents),
        nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
        deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        pr0 AS (SELECT host, CAST({scale} // (SELECT n FROM nn) AS BIGINT)
                    AS rank_scaled FROM nodes),{",".join(chain)}
        SELECT host, rank_scaled FROM {prev} ORDER BY host
    """


def q_robots_gate(spark, sf):  # robots: crawl politeness verdicts
    """robots.txt gating over planted per-host rule files and per-doc
    paths: the engine parses the real robots bytes and runs the
    longest-prefix verdict; the oracle states the expected allow per
    (host shape, path shape) closed-form."""
    from wine_label_ocr_spark.operators.robots import (
        parse_robots_rules, robots_allowed)
    r1 = "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"
    r2 = ("User-agent: badbot\nDisallow: /\n\n"
          "User-agent: *\nDisallow: /tmp/\n")
    r5 = ("User-agent: *\nDisallow: /*.pdf$\nAllow: /docs/keep*\n"
          "Disallow: /docs/\n")  # RFC 9309 wildcard + $ + specificity
    r6 = ("User-agent: *\nDisallow: /a/*/secret\nDisallow: /public/x$\n"
          "Disallow: /priv$\n")  # mid-pattern *; $ hit and $ miss shapes
    robots = spark.createDataFrame(
        [("h0.com", r1), ("h1.com", "User-agent: *\nDisallow: /\n"),
         ("h2.com", ""), ("h3.com:8080", r2),  # ported key still governs
         ("h5.com", r5), ("h6.com", r6)],      # h4 intentionally absent
        "host string, robots_txt string")
    rules = parse_robots_rules(robots)
    d = _t(spark, sf, "documents").select("doc_id")
    h = F.pmod(F.col("doc_id"), F.lit(7)).cast("string")
    p = F.pmod(F.col("doc_id"), F.lit(8))
    path = (F.when(p == 0, F.lit("/public/x"))
            .when(p == 1, F.lit("/private/x"))
            .when(p == 2, F.lit("/private/ok/x"))
            .when(p == 3, F.lit("/tmp/z"))
            .when(p == 4, F.lit("/docs/keep/file.pdf"))
            .when(p == 5, F.lit("/docs/old/file.pdf"))
            .when(p == 6, F.lit("/a/b/secret"))
            .otherwise(F.lit("/public/x/more")))
    port = F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0,
                  F.lit(":443")).otherwise(F.lit(""))
    urls = d.select("doc_id", F.concat(F.lit("https://h"), h, F.lit(".com"),
                                       port, path).alias("url"))
    return (robots_allowed(urls, rules)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "url", "allowed")
            .orderBy("doc_id"))


def q_dedup_decisions(spark, sf):  # J2/J3 fuzzy ingest decisions — value oracle
    """Graduated from rows-only (r5 VERDICT #5): planted maker families
    make every tier's score CLOSED-FORM without restating LCS in SQL —
    token-set permutations score 100, shared-7-prefix near tokens score
    200·7/16 = 87.5 (+5 same-vintage boost → 92.5 ≥ 85), partial token
    overlap 200·4/20 = 40 (+5 → 45 < 85 → not seen), disjoint alphabets
    0 (+5 → 5), and the zero-candidate full-store fallback both hitting
    (identical maker at another vintage → 100, no boost, max-key
    tie-break pinned) and missing (0). Every denominator is 2^a·5^b so
    all doubles are exact. The scorer itself stays pinned to the
    reference's own vectors in tests/test_similarity.py."""
    from wine_label_ocr_spark.operators.similarity import fuzzy_match_decisions
    d = _t(spark, sf, "documents").select("doc_id")
    r = F.pmod(F.col("doc_id"), F.lit(50))
    year = (F.lit(1900) + r).cast("int")
    maker_s = (F.when(r < 20, F.lit("ffff"))
               .when(r == 20, F.lit("tttt"))
               .when(r == 21, F.lit("pp rr"))
               .when(r == 22, F.lit("mmmmmmmb"))
               .when(r == 23, F.lit("aaaa bbbbbbbbbbb"))
               .otherwise(F.lit("dddddddd")))
    maker_n = (F.when(r == 20, F.lit("tttt"))
               .when(r == 21, F.lit("rr pp"))
               .when(r == 22, F.lit("mmmmmmmc"))
               .when(r == 23, F.lit("aaaa ccccccccccc"))
               .when(r == 24, F.lit("eeeeeeee"))
               .when(r == 25, F.lit("ffff"))
               .otherwise(F.lit("zzzz")))
    store = (d.filter(r < 25)
             .select(F.concat(maker_s, F.lit("|"), year.cast("string"))
                     .alias("custom_id"),
                     maker_s.alias("maker_name"), year.alias("vintage")))
    new = (d.filter(r >= 20)
           .select(F.concat(maker_n, F.lit("|"), year.cast("string"))
                   .alias("custom_id"),
                   maker_n.alias("maker_name"), year.alias("vintage")))
    return (fuzzy_match_decisions(new, store)
            .select("custom_id", "decision", "matched_key",
                    F.round("match_score", 2).alias("match_score"))
            .orderBy("custom_id"))


def q_best_variant(spark, sf):  # E2/D7 — explode variant dim, max_by pick
    """The reference OCRs several preprocessed variants and keeps the best
    by score (final_run_ocr.py:144-151; align_vertically hybrid.py:148-170).
    Spark shape: explode a small variant dimension, argmax per document."""
    d = _t(spark, sf, "documents")
    variants = F.array(
        F.struct(F.lit("raw").alias("name"), F.col("text").alias("v")),
        F.struct(F.lit("lower").alias("name"), F.lower("text").alias("v")),
        F.struct(F.lit("nospace").alias("name"),
                 F.regexp_replace("text", " ", "").alias("v")))
    ex = d.select("doc_id", F.explode(variants).alias("var"))
    scored = ex.select(
        "doc_id", F.col("var.name").alias("name"),
        F.length(F.regexp_replace("var.v", "[^a-z]", "")).alias("score"))
    return (scored.groupBy(F.col("doc_id").cast("bigint").alias("doc_id"))
            .agg(F.max_by("name", F.struct("score", "name")).alias("best_variant"),
                 F.max("score").alias("best_score")))


def q_vintage_fallback_grid(spark, sf):  # E5/W3 — priority grid, first hit wins
    """The reference's biggest plan: 5 preprocess × 5 regions × 3 rotations,
    first hit by priority (final_run_ocr.py:187-297). Restated: explode a
    (priority, probe) grid, keep the first in-range hit per doc by rank."""
    d = _t(spark, sf, "documents")
    probes = F.array(
        F.struct(F.lit(1).alias("prio"),
                 F.substring("text", 1, 40).alias("probe")),
        F.struct(F.lit(2).alias("prio"),
                 F.concat(F.lit("alt "), F.substring("text", 20, 40)).alias("probe")),
        F.struct(F.lit(3).alias("prio"),
                 F.concat(F.lit("fallback vintage "),
                          (F.lit(1900) + F.col("doc_id") % 120).cast("string")).alias("probe")))
    ex = d.select("doc_id", F.explode(probes).alias("p"))
    hit = ex.select(
        "doc_id", F.col("p.prio").alias("prio"),
        F.nullif(F.regexp_extract("p.probe", r"((?:19|20)[0-9]{2})", 1), F.lit(""))
        .cast("int").alias("year"))
    hit = hit.filter(F.col("year").isNotNull()
                     & (F.col("year") >= 1900) & (F.col("year") <= 2030))
    w = W.partitionBy("doc_id").orderBy("prio")
    return (hit.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "prio", F.col("year").alias("vintage")))


def q_median_by_type(spark, sf):  # A2 — exact median (BlobSimilarity.py:50,99)
    e = _t(spark, sf, "events")
    return (e.groupBy("event_type")
            .agg(F.round(F.percentile("value", F.lit(0.5)), 6).alias("median_value"),
                 F.count(F.lit(1)).alias("n")))


def q_union_names(spark, sf):  # U1 — union of candidate buckets
    c = _t(spark, sf, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("src"))
    s = _t(spark, sf, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("src"))
    return (c.unionByName(s).groupBy("src")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("name").alias("first_name")))


def q_salted_agg(spark, sf):  # skew: salted two-phase agg ≡ direct groupBy
    from wine_label_ocr_spark.plans.skew import salted_agg
    li = _t(spark, sf, "lineitem").withColumn(
        "salt_src", F.concat_ws(":", F.col("l_orderkey").cast("string"),
                                F.col("l_linenumber").cast("string")))
    out = salted_agg(
        li, "l_returnflag",
        {"n_rows": ("count", F.lit(1)),
         "sum_qty": ("sum", F.col("l_quantity").cast("bigint")),
         "max_price_cents": ("max", F.round(F.col("l_extendedprice") * 100, 0).cast("bigint"))},
        url="salt_src")
    return out.select(F.col("_key").alias("l_returnflag"),
                      "n_rows", "sum_qty", "max_price_cents")


def q_ema_final(spark, sf):  # W4/ST3 — recursive EMA per key (final value)
    # EMA evolution is independent of the peak/phase state, so the final
    # value per key comes from the dedicated all-keys-at-once vectorized
    # fold (state.ema_final_by_key) — bit-identical to folding the full
    # ema_phase_batch trace and taking max_by(ema, (ts, event_id)), at
    # none of the per-group applyInPandas overhead (r10: 2.7 s → sub-1 s
    # at sf1.0). Equivalence pinned by tests/test_streaming.py.
    from wine_label_ocr_spark.streaming.state import ema_final_by_key
    e = _t(spark, sf, "events")
    return (ema_final_by_key(e)
            .select(F.col("user_id").cast("bigint").alias("user_id"),
                    F.round("ema_final", 6).alias("ema_final")))


def q_sessionize(spark, sf):  # ST6 — inactivity-gap sessions (native windows)
    from wine_label_ocr_spark.streaming.state import sessionize
    e = _t(spark, sf, "events")
    return (sessionize(e, gap_sec=600.0)
            .groupBy("user_id", "session_seq")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("user_id").cast("bigint").alias("user_id"),
                    "session_seq", "n_events"))


def q_phase_trace(spark, sf):  # ST4/ST5/ST7 — phase machine (hash-gated)
    """The SCAN→SEEK→LOCKED machine under a FULL value oracle: the
    DuckDB twin folds the identical per-event update (same EMA
    arithmetic as the ema_final gate — 0.25/0.75 are exact binary
    doubles — same peak/phase/dwell/capture rules over exact-double
    thresholds, timestamps as epoch_ns/1e9 on both sides) through a
    struct accumulator that also carries the per-phase counters, so the
    whole recursive trace hash-gates, not just its row count."""
    from wine_label_ocr_spark.streaming.state import ema_phase_batch
    e = _t(spark, sf, "events")
    return (ema_phase_batch(e)
            .groupBy(F.col("user_id").cast("bigint").alias("user_id"),
                     "phase")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("capture").cast("int")).alias("n_captures"))
            .orderBy("user_id", "phase"))


def _phase_trace_oracle_sql() -> str:
    """DuckDB twin of the phase machine, mirroring
    ``streaming/state._run_kernel`` operation-for-operation:

    * per-event EMA and running-peak trajectories as SCALAR prefix
      folds (the ema_final gate already proved the EMA fold
      bit-identical; the peak fold is the same shape) — O(n²) per user,
      fine at gate scale;
    * the SCAN→SEEK→LOCKED/dwell/capture recursion as a row-per-step
      RECURSIVE CTE over those plain (ts, ema, peak) columns, all users
      advancing in lockstep.

    The obvious one-pass formulation — a single ``list_reduce`` with a
    struct accumulator whose lambda compares two nested CASE
    expressions — is deliberately AVOIDED: DuckDB 1.0.0's lambda engine
    mis-evaluates such bodies (comparisons fire on wrong branches,
    monotone counters decrease between prefixes). Plain-column
    comparisons in a recursive CTE are reliable; thresholds 5.0/3.0/1.0
    are exact binary doubles and 0.6 parses to the same nearest double
    in both engines, timestamps are epoch_ns/1e9 on both sides, so the
    trace is bit-identical, not approximately equal."""
    phase = ("(CASE WHEN r.phase = 'SCAN' AND b.ema <= b.peak "
             "- CAST(5.0 AS DOUBLE) THEN 'SEEK' "
             "WHEN r.phase = 'SEEK' AND b.ema >= b.peak "
             "- CAST(3.0 AS DOUBLE) THEN 'LOCKED' "
             "WHEN r.phase = 'LOCKED' AND b.ema < b.peak "
             "- CAST(3.0 AS DOUBLE) AND r.below IS NOT NULL "
             "AND b.ts_sec - r.below >= CAST(0.6 AS DOUBLE) THEN 'SEEK' "
             "ELSE r.phase END)")
    capture = ("(r.phase = 'SEEK' AND b.ema >= b.peak "
               "- CAST(3.0 AS DOUBLE) AND NOT r.captured)")
    below = ("(CASE WHEN r.phase = 'LOCKED' AND b.ema < b.peak "
             "- CAST(3.0 AS DOUBLE) "
             "THEN CASE WHEN r.below IS NULL THEN b.ts_sec "
             "WHEN b.ts_sec - r.below >= CAST(0.6 AS DOUBLE) "
             "THEN CAST(NULL AS DOUBLE) ELSE r.below END "
             "ELSE CAST(NULL AS DOUBLE) END)")
    return f"""
        WITH RECURSIVE ev AS (
          SELECT user_id,
                 list(struct_pack(
                        ts_sec := epoch_ns(ts) / 1000000000.0,
                        value := CAST(value AS DOUBLE))
                      ORDER BY ts, event_id) AS evs
          FROM events GROUP BY user_id),
        idx AS (SELECT user_id, evs,
                       unnest(generate_series(1, len(evs))) AS i FROM ev),
        scal AS (
          SELECT user_id, i, evs[i].ts_sec AS ts_sec,
                 list_reduce(list_transform(evs[1:i], x -> x.value),
                             (a, b) -> CAST(0.25 AS DOUBLE) * b
                                     + CAST(0.75 AS DOUBLE) * a) AS ema
          FROM idx),
        emal AS (SELECT user_id, list(ema ORDER BY i) AS emas,
                        list(ts_sec ORDER BY i) AS tss
                 FROM scal GROUP BY user_id),
        pp AS (SELECT user_id, emas, tss,
                      unnest(generate_series(1, len(emas))) AS i FROM emal),
        base AS (SELECT user_id, i, tss[i] AS ts_sec, emas[i] AS ema,
                        list_reduce(emas[1:i],
                          (p, e) -> CASE WHEN e > p + CAST(1.0 AS DOUBLE)
                                         THEN e ELSE p END) AS peak
                 FROM pp),
        rec AS (
          SELECT user_id, CAST(0 AS BIGINT) AS i, 'SCAN' AS phase,
                 CAST(NULL AS DOUBLE) AS below, FALSE AS captured,
                 CAST(0 AS BIGINT) AS n_scan, CAST(0 AS BIGINT) AS n_seek,
                 CAST(0 AS BIGINT) AS n_locked,
                 CAST(0 AS BIGINT) AS n_captures
          FROM (SELECT DISTINCT user_id FROM base)
          UNION ALL
          SELECT b.user_id, b.i, {phase}, {below},
                 r.captured OR {capture},
                 r.n_scan + CASE WHEN {phase} = 'SCAN' THEN 1 ELSE 0 END,
                 r.n_seek + CASE WHEN {phase} = 'SEEK' THEN 1 ELSE 0 END,
                 r.n_locked + CASE WHEN {phase} = 'LOCKED'
                                   THEN 1 ELSE 0 END,
                 r.n_captures + CASE WHEN {capture} THEN 1 ELSE 0 END
          FROM rec r JOIN base b
            ON b.user_id = r.user_id AND b.i = r.i + 1),
        last AS (SELECT user_id, MAX(i) AS mi FROM rec GROUP BY user_id),
        fin AS (SELECT r.* FROM rec r
                JOIN last l ON r.user_id = l.user_id AND r.i = l.mi),
        phases AS (
          SELECT user_id, p['phase'] AS phase, p['n'] AS n,
                 CASE WHEN p['phase'] = 'LOCKED'
                      THEN n_captures ELSE 0 END AS n_caps
          FROM fin,
               unnest([struct_pack(phase := 'SCAN', n := n_scan),
                       struct_pack(phase := 'SEEK', n := n_seek),
                       struct_pack(phase := 'LOCKED', n := n_locked)])
               AS t(p))
        SELECT CAST(user_id AS BIGINT) AS user_id, phase,
               CAST(n AS BIGINT) AS n, CAST(n_caps AS BIGINT)
                   AS n_captures
        FROM phases WHERE n > 0
        ORDER BY user_id, phase
    """


def _crawl_cycle_oracle_cte(extra_arms: str = "") -> str:
    """Shared CTEs for the crawl-cycle oracles: the planted candidate
    set with per-URL seen/allowed flags stated closed-form (no RFC or
    robots logic in SQL). seen is well-defined per URL because 5 | 250
    makes doc_id%5 constant across the docs sharing a shape-1 URL.
    ``extra_arms`` appends further UNION arms (the sitemap-seeded
    variant)."""
    return f"""
        cands AS (
          SELECT DISTINCT
                 'https://t' || (doc_id % 10) || '.com/p/' || (doc_id % 250)
                     AS url,
                 't' || (doc_id % 10) || '.com' AS host,
                 doc_id % 5 = 0 AS seen, TRUE AS allowed
          FROM documents
          UNION
          SELECT DISTINCT
                 'https://t' || (doc_id % 10) || '.com/x/' || (doc_id % 20),
                 't' || (doc_id % 10) || '.com',
                 FALSE, doc_id % 10 >= 5
          FROM documents
          UNION
          SELECT DISTINCT
                 'https://s' || (doc_id % 6) || '.com/d/q' || (doc_id % 8)
                     || '.html',
                 's' || (doc_id % 6) || '.com', FALSE, TRUE
          FROM documents
          UNION
          SELECT DISTINCT
                 'https://s' || (doc_id % 6) || '.com/bare' || (doc_id % 7),
                 's' || (doc_id % 6) || '.com', FALSE, TRUE
          FROM documents{extra_arms}),
        surv AS (SELECT url, host FROM cands WHERE NOT seen AND allowed)"""


_CRAWL_SITEMAP_ARMS = """
          UNION
          SELECT 'https://t' || k || '.com/sm/'
                     || lpad(CAST(j AS VARCHAR), 3, '0'),
                 't' || k || '.com', FALSE, TRUE
          FROM generate_series(0, 4) AS tk(k),
               generate_series(0, 11) AS tj(j)
          UNION
          SELECT 'https://t' || k || '.com/sm/e?a=1&b=2',
                 't' || k || '.com', FALSE, TRUE
          FROM generate_series(0, 4) AS tk(k)
          UNION
          SELECT 'https://t' || k || '.com/x/sm',
                 't' || k || '.com', FALSE, FALSE
          FROM generate_series(0, 4) AS tk(k)"""


def _crawl_cycle_oracle_sql(extra_arms: str = "") -> str:
    return f"""
        WITH {_crawl_cycle_oracle_cte(extra_arms)}
        SELECT url, host, CAST(seq AS INT) AS seq, worker,
               CAST(delay AS BIGINT) AS delay_ms,
               CAST((seq - 1) * delay AS BIGINT) AS fetch_offset_ms
        FROM (
          SELECT url, host,
                 ROW_NUMBER() OVER (PARTITION BY host ORDER BY url) AS seq,
                 CAST(CAST(CAST(concat('0x', substr(md5(host || '#0'), 1,
                      15)) AS UBIGINT) AS BIGINT) % 16 AS INT) AS worker,
                 CASE host WHEN 't0.com' THEN 500 WHEN 't1.com' THEN 1000
                           WHEN 't2.com' THEN 1500 WHEN 't3.com' THEN 2000
                           WHEN 't4.com' THEN 2500 ELSE 1000 END AS delay
          FROM surv)
        ORDER BY url
    """


def _crawl_cycle_funnel_oracle_sql() -> str:
    return f"""
        WITH {_crawl_cycle_oracle_cte()}
        SELECT * FROM (
          SELECT 0 AS stage_idx, 'outlinks' AS stage,
                 CAST(4 * (SELECT COUNT(*) FROM documents) AS BIGINT)
                     AS n_urls
          UNION ALL
          SELECT 1, 'candidates', CAST(COUNT(*) AS BIGINT) FROM cands
          UNION ALL
          SELECT 2, 'unseen', CAST(COUNT(*) AS BIGINT) FROM cands
          WHERE NOT seen
          UNION ALL
          SELECT 3, 'allowed', (SELECT CAST(COUNT(*) AS BIGINT) FROM surv)
          UNION ALL
          SELECT 4, 'scheduled', (SELECT CAST(COUNT(*) AS BIGINT) FROM surv))
        ORDER BY stage_idx
    """


def q_gopher_rules(spark, sf):  # textops: Gopher A1.1 quality rules
    """Published Gopher (Rae et al. 2021) web-corpus filter set over the
    REAL documents table — both engines compute every feature from the
    same text, so this is a full value twin, not planted shapes. The
    gate compares unrounded doubles built from exact integer counts
    (bit-identical across engines); displayed ratios round to 6."""
    from wine_label_ocr_spark.operators.textops import gopher_rules
    d = _t(spark, sf, "documents")
    out = gopher_rules(d)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_words").cast("int").alias("n_words"),
        "mean_word_len", "symbol_ratio", "alpha_word_frac",
        "bullet_line_frac", "ellipsis_line_frac",
        F.col("n_stop_hits").cast("int").alias("n_stop_hits"),
        "gopher_ok").orderBy("doc_id")


def _gopher_oracle_sql() -> str:
    from wine_label_ocr_spark.operators.textops import GOPHER_STOPWORDS
    stops = " + ".join(
        f"(CASE WHEN list_contains(low, '{w}') THEN 1 ELSE 0 END)"
        for w in GOPHER_STOPWORDS)
    return f"""
        WITH f AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(text, '\\s+'),
                             x -> x != '') AS toks,
                 list_filter(string_split(text, chr(10)),
                             s -> trim(s) != '') AS lines
          FROM documents),
        g AS (
          SELECT doc_id,
                 len(toks) AS n_words,
                 CAST(GREATEST(len(toks), 1) AS DOUBLE) AS sw,
                 CAST(coalesce(list_sum(list_transform(
                      toks, t -> length(t))), 0) AS BIGINT) AS sum_len,
                 length(text) - length(replace(text, '#', '')) AS n_hash,
                 length(text) - length(replace(text, '…', '')) AS n_uell,
                 CAST((length(text) - length(replace(text, '...', '')))
                      / 3 AS BIGINT) AS n_dell,
                 len(list_filter(toks,
                     t -> regexp_matches(t, '[A-Za-z]'))) AS alpha_w,
                 CAST(GREATEST(len(lines), 1) AS DOUBLE) AS sl,
                 len(list_filter(lines,
                     s -> starts_with(ltrim(s), '•')
                       OR starts_with(ltrim(s), '- ')
                       OR starts_with(ltrim(s), '* '))) AS bullet,
                 len(list_filter(lines,
                     s -> ends_with(rtrim(s), '...')
                       OR ends_with(rtrim(s), '…'))) AS ell,
                 list_transform(toks, t -> lower(t)) AS low
          FROM f)
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(n_words AS INT) AS n_words,
               ROUND(sum_len / sw, 6) AS mean_word_len,
               ROUND((n_hash + n_uell + n_dell) / sw, 6) AS symbol_ratio,
               ROUND(alpha_w / sw, 6) AS alpha_word_frac,
               ROUND(bullet / sl, 6) AS bullet_line_frac,
               ROUND(ell / sl, 6) AS ellipsis_line_frac,
               CAST({stops} AS INT) AS n_stop_hits,
               (n_words >= 50 AND n_words <= 100000
                AND sum_len / sw >= 3.0 AND sum_len / sw <= 10.0
                AND (n_hash + n_uell + n_dell) / sw < 0.1
                AND bullet / sl < 0.9 AND ell / sl < 0.3
                AND alpha_w / sw >= 0.8
                AND ({stops}) >= 2) AS gopher_ok
        FROM g ORDER BY doc_id
    """


def q_c4_clean(spark, sf):  # textops: C4 line/page cleaning
    """Published C4 (Raffel et al. 2020 §2.2) cleaning over the REAL
    documents table — full value twin including the reconstructed
    cleaned text, so a hash match proves line predicate AND join-back
    byte-identically."""
    from wine_label_ocr_spark.operators.textops import c4_clean
    d = _t(spark, sf, "documents")
    return (c4_clean(d)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "clean_text",
                    F.col("n_kept_lines").cast("int").alias("n_kept_lines"),
                    F.col("n_lines").cast("int").alias("n_lines"),
                    "c4_ok")
            .orderBy("doc_id"))


_C4_ORACLE_SQL = """
    WITH f AS (
      SELECT doc_id, text,
             list_filter(
               list_transform(string_split(text, chr(10)), s -> trim(s)),
               s -> s != ''
                 AND (ends_with(s, '.') OR ends_with(s, '!')
                      OR ends_with(s, '?') OR ends_with(s, '"'))
                 AND len(list_filter(string_split_regex(s, '\\s+'),
                                     x -> x != '')) >= 5
                 AND NOT contains(lower(s), 'javascript')) AS kept,
             len(list_filter(string_split(text, chr(10)),
                             s -> trim(s) != '')) AS n_lines
      FROM documents)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           -- DuckDB joins an EMPTY list to NULL; Spark's array_join
           -- gives '' — coalesce to the Spark semantics
           COALESCE(array_to_string(kept, chr(10)), '') AS clean_text,
           CAST(len(kept) AS INT) AS n_kept_lines,
           CAST(n_lines AS INT) AS n_lines,
           (NOT contains(text, '{') AND NOT contains(lower(text),
            'lorem ipsum') AND len(kept) >= 3) AS c4_ok
    FROM f ORDER BY doc_id
"""


def q_warc_revisit(spark, sf):  # cdx: WARC revisit-record dedup
    """WARC 1.1 identical-payload-digest revisit classification over
    planted captures (25 URL keys x 2 content versions x distinct
    timestamps): first capture per (surt, digest) stays a response,
    later ones become revisits pointing at the original. The digest is
    the REAL Base32(SHA-1) column-algebra path (the CDX(J) convention);
    the oracle states each planted payload's digest as a pinned
    constant computed by hashlib at SQL-build time (DuckDB has no sha1
    - the compression_ratio pattern)."""
    from wine_label_ocr_spark.operators.cdx import revisit_records
    d = _t(spark, sf, "documents").select("doc_id")
    k = F.pmod(F.col("doc_id"), F.lit(25))
    v = F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0, F.lit(1)) \
         .otherwise(F.lit(0))
    pages = d.select(
        F.concat(F.lit("https://h.com/p/"), k.cast("string")).alias("url"),
        F.expr("timestamp'2025-01-01' + make_interval(0,0,0,0,0,0,doc_id)")
         .alias("warc_ts"),
        F.encode(F.concat(F.lit("body-"), k.cast("string"), F.lit("-"),
                          v.cast("string")), "utf-8").alias("html"))
    return revisit_records(pages).orderBy("url", "ts")


def _warc_revisit_oracle_sql() -> str:
    import base64
    import hashlib as _h
    vals = []
    for k in range(25):
        for v in range(2):
            body = f"body-{k}-{v}".encode()
            dig = base64.b32encode(_h.sha1(body).digest()).decode()
            vals.append(f"({k}, {v}, '{dig}', {len(body)})")
    values = ",\n           ".join(vals)
    return f"""
        WITH digs(k, v, digest, length) AS (VALUES
           {values}),
        caps AS (
          SELECT doc_id % 25 AS k,
                 CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS v,
                 'https://h.com/p/' || (doc_id % 25) AS url,
                 TIMESTAMP '2025-01-01' + doc_id * INTERVAL 1 SECOND AS ts
          FROM documents),
        rows AS (
          SELECT 'com,h)/p/' || k AS surt, url, ts, digest,
                 CAST(length AS BIGINT) AS length,
                 ROW_NUMBER() OVER w AS rn,
                 FIRST_VALUE(url) OVER w AS fu,
                 FIRST_VALUE(ts) OVER w AS ft
          FROM caps JOIN digs USING (k, v)
          WINDOW w AS (PARTITION BY k, v ORDER BY ts, url
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT surt, url, ts, digest, length,
               CASE WHEN rn = 1 THEN 'response' ELSE 'revisit' END
                   AS record_type,
               CASE WHEN rn > 1 THEN fu END AS refers_to_url,
               CASE WHEN rn > 1 THEN ft END AS refers_to_ts
        FROM rows ORDER BY url, ts
    """


def q_surt_keys(spark, sf):  # textops: SURT canonicalization
    """SURT keys over planted URL shapes cycling scheme case, default
    and explicit ports, userinfo, www-strip, host reversal, query sort,
    trailing-slash and non-http rejection. The oracle STATES the
    expected key per shape closed-form (independent derivation, not a
    regex twin)."""
    from wine_label_ocr_spark.operators.textops import surt_key
    d = _t(spark, sf, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    m = F.pmod(F.col("doc_id"), F.lit(8))
    url = (F.when(m == 0, F.lit("http://www.Example.COM:80/A/B/"))
           .when(m == 1, F.concat(F.lit("https://sub.host.org:443/p"), did,
                                  F.lit("?b=2&a=1#frag")))
           .when(m == 2, F.lit("http://h8.net:8080/x"))
           .when(m == 3, F.lit("ftp://files.example.com/y"))
           .when(m == 4, F.lit("http://User:pw@WWW.a.b/"))
           .when(m == 5, F.lit("http://q.com?z=1&a=2"))
           .when(m == 6, F.lit("HTTPS://T.io/P/"))
           .otherwise(F.concat(F.lit("https://e.co/a/b?x="), did)))
    return (d.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                     surt_key(url).alias("surt"))
            .orderBy("doc_id"))


_SURT_ORACLE_SQL = """
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CASE doc_id % 8
             WHEN 0 THEN 'com,example)/a/b'
             WHEN 1 THEN 'org,host,sub)/p' || CAST(doc_id AS VARCHAR)
                         || '?a=1&b=2'
             WHEN 2 THEN 'net,h8:8080)/x'
             WHEN 3 THEN NULL
             WHEN 4 THEN 'b,a)/'
             WHEN 5 THEN 'com,q)/?a=2&z=1'
             WHEN 6 THEN 'io,t)/p'
             ELSE 'co,e)/a/b?x=' || CAST(doc_id AS VARCHAR)
           END AS surt
    FROM documents ORDER BY doc_id
"""


def q_wet_roundtrip(spark, sf):  # warc: WET conversion export, end-to-end
    """WET under the correctness gate: planted pages cycling the
    html_to_text behaviors (script/style/comment drop, tag strip,
    entity unescape incl. the &amp;-last rule, whitespace collapse) →
    build_wet_records → DISTRIBUTED gzip conversion shards → read back
    with read_warc → project the text. The oracle states the expected
    plain text per shape closed-form from doc_id — the whole
    write-parse-read loop must be byte-faithful for the hash to
    match. Completes the WARC/WAT/WET Common-Crawl triad gate set."""
    import os

    from wine_label_ocr_spark.sources import warc as _warc_mod
    from wine_label_ocr_spark.sources.warc import read_warc, write_wet_shards

    def pages_df():
        d = _t(spark, sf, "documents").select("doc_id")
        did = F.col("doc_id").cast("string")
        m = F.pmod(F.col("doc_id"), F.lit(4))
        html = (F.when(m == 0, F.concat(
                    F.lit("<html><head><title>T"), did,
                    F.lit("</title><script>var x=1;</script></head>"
                          "<body>Hello "), did,
                    F.lit(" &amp; more</body></html>")))
                .when(m == 1, F.lit(
                    "<body>A&lt;B &gt;C &quot;q&quot; &#39;s&#39; "
                    "&amp;lt;</body>"))
                .when(m == 2, F.lit(
                    "<style>p{color:red}</style><p>Para   one</p>\n"
                    "<p>two</p><!-- hidden -->"))
                .otherwise(F.concat(F.lit("plain text "), did,
                                    F.lit(" no tags"))))
        return d.select(
            F.concat(F.lit("https://w"), F.pmod(F.col("doc_id"), F.lit(9))
                     .cast("string"), F.lit(".com/p/"), did).alias("url"),
            F.expr("timestamp'2025-01-01 00:00:00'"
                   " + make_interval(0, 0, 0, 0, 0, 0, doc_id)")
             .alias("warc_ts"),
            html.cast("binary").alias("html"))

    shard_dir = _cached_shards(
        sf, "wet", (_warc_mod, q_wet_roundtrip), pages_df,
        lambda p, d: write_wet_shards(p, d, compress=True))
    wet = read_warc(spark, os.path.join(shard_dir, "*.warc.gz"),
                    record_types=("conversion",))
    return wet.select(
        F.regexp_extract("url", r"/p/(\d+)$", 1).cast("bigint")
         .alias("doc_id"),
        "url",
        F.col("html").cast("string").alias("text"),
        F.length(F.col("html").cast("string")).cast("int")
         .alias("n_chars"),
    ).orderBy("doc_id")


_WET_ORACLE_SQL = """
    WITH e AS (
      SELECT doc_id,
             'https://w' || CAST(doc_id % 9 AS VARCHAR) || '.com/p/'
                 || CAST(doc_id AS VARCHAR) AS url,
             CASE doc_id % 4
               WHEN 0 THEN 'T' || CAST(doc_id AS VARCHAR) || ' Hello '
                           || CAST(doc_id AS VARCHAR) || ' & more'
               WHEN 1 THEN 'A<B >C "q" ''s'' &lt;'
               WHEN 2 THEN 'Para one two'
               ELSE 'plain text ' || CAST(doc_id AS VARCHAR) || ' no tags'
             END AS text
      FROM documents)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, url, text,
           CAST(length(text) AS INT) AS n_chars
    FROM e ORDER BY doc_id
"""


def q_gopher_repetition(spark, sf):  # textops: full Gopher A1.1 repetition set
    """The paper's full twelve repetition signals over planted shapes:
    duplicate lines (m=0), duplicate paragraphs (m=1), a hot trigram
    (m=2), and a twice-repeated 12-gram (m=3 — makes every
    dup_{5..10}gram column fire), each prefixed to the real document
    text so both engines also chew identical organic n-gram mass. The
    oracle recomputes all twelve fractions independently in DuckDB
    list/window algebra."""
    from wine_label_ocr_spark.operators.textops import gopher_repetition
    d = _t(spark, sf, "documents")
    base = F.substring("text", 1, 200)
    m = F.pmod(F.col("doc_id"), F.lit(5))
    planted = (
        F.when(m == 0, F.concat(
            F.lit("alpha beta gamma delta\nalpha beta gamma delta\n"
                  "epsilon zeta\n"), base))
        .when(m == 1, F.concat(
            F.lit("first paragraph of words\n\nfirst paragraph of words"
                  "\n\nsecond block entirely\n\n"), base))
        .when(m == 2, F.concat(
            F.lit("buy cheap pills buy cheap pills buy cheap pills "),
            base))
        .when(m == 3, F.concat(
            F.lit("quick brown fox jumps over the lazy dog near rivers "
                  "and hills quick brown fox jumps over the lazy dog "
                  "near rivers and hills "), base))
        .otherwise(base))
    out = gopher_repetition(d.withColumn("text", planted))
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "dup_line_frac", "dup_line_char_frac",
        "dup_para_frac", "dup_para_char_frac",
        "top_2gram_char_frac", "top_3gram_char_frac",
        "top_4gram_char_frac",
        "dup_5gram_char_frac", "dup_6gram_char_frac",
        "dup_7gram_char_frac", "dup_8gram_char_frac",
        "dup_9gram_char_frac", "dup_10gram_char_frac",
    ).orderBy("doc_id")


def _gopher_repetition_oracle_sql() -> str:
    plant = """
      CASE doc_id % 5
        WHEN 0 THEN concat('alpha beta gamma delta', chr(10),
                           'alpha beta gamma delta', chr(10),
                           'epsilon zeta', chr(10), substr(text, 1, 200))
        WHEN 1 THEN concat('first paragraph of words', chr(10), chr(10),
                           'first paragraph of words', chr(10), chr(10),
                           'second block entirely', chr(10), chr(10),
                           substr(text, 1, 200))
        WHEN 2 THEN concat('buy cheap pills buy cheap pills '
                           'buy cheap pills ', substr(text, 1, 200))
        WHEN 3 THEN concat('quick brown fox jumps over the lazy dog '
                           'near rivers and hills quick brown fox jumps '
                           'over the lazy dog near rivers and hills ',
                           substr(text, 1, 200))
        ELSE substr(text, 1, 200)
      END"""
    # per-unit duplicate fractions (lines / paragraphs) as inline list
    # algebra; one lambda var name per nesting level (DuckDB shadows)
    def unit(col):
        frac = (f"CASE WHEN len({col}) > 0 THEN "
                f"ROUND((len({col}) - len(list_distinct({col})))"
                f" / CAST(len({col}) AS DOUBLE), 6) ELSE 0.0 END")
        dupc = (f"CAST(COALESCE(list_sum(list_transform(list_distinct({col}),"
                f" v -> (len(list_filter({col}, w -> w = v)) - 1)"
                f" * length(v))), 0) AS BIGINT)")
        totc = (f"CAST(COALESCE(list_sum(list_transform({col},"
                f" u -> length(u))), 0) AS BIGINT)")
        return frac, dupc, totc
    lf, ldc, ltc = unit("ls")
    pf, pdc, ptc = unit("ps")
    return f"""
        WITH p AS (
          SELECT doc_id, {plant} AS t FROM documents),
        u AS (
          SELECT doc_id, t,
                 CAST(GREATEST(length(t), 1) AS DOUBLE) AS total,
                 list_filter(list_transform(string_split(t, chr(10)),
                             s -> trim(s)), s -> s != '') AS ls,
                 list_filter(list_transform(
                             string_split_regex(t, '\\n{{2,}}'),
                             s -> trim(s)), s -> s != '') AS ps,
                 list_filter(string_split_regex(t, '\\s+'),
                             x -> x != '') AS toks
          FROM p),
        unitstats AS (
          SELECT doc_id,
                 {lf} AS dup_line_frac,
                 CASE WHEN {ltc} > 0
                      THEN ROUND({ldc} / CAST({ltc} AS DOUBLE), 6)
                      ELSE 0.0 END AS dup_line_char_frac,
                 {pf} AS dup_para_frac,
                 CASE WHEN {ptc} > 0
                      THEN ROUND({pdc} / CAST({ptc} AS DOUBLE), 6)
                      ELSE 0.0 END AS dup_para_char_frac
          FROM u),
        gr AS (
          SELECT u.doc_id, u.total, nn.n AS n,
                 unnest(generate_series(1, len(u.toks) - nn.n + 1)) AS i,
                 u.toks AS toks
          FROM u, (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n) nn
          WHERE len(u.toks) >= nn.n),
        g2 AS (
          SELECT doc_id, total, n, i - 1 AS pos,
                 array_to_string(toks[i:i+n-1], ' ') AS g
          FROM gr),
        cnt AS (
          SELECT doc_id, n, g, COUNT(*) AS c, MAX(total) AS total
          FROM g2 GROUP BY doc_id, n, g),
        topv AS (
          SELECT doc_id, n,
                 ROUND(c * length(g) / CAST(total AS DOUBLE), 6) AS v
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, n
                          ORDER BY c DESC, g DESC) AS rk
                FROM cnt WHERE n IN (2, 3, 4))
          WHERE rk = 1),
        top_piv AS (
          SELECT doc_id,
                 MAX(CASE WHEN n = 2 THEN v END) AS t2,
                 MAX(CASE WHEN n = 3 THEN v END) AS t3,
                 MAX(CASE WHEN n = 4 THEN v END) AS t4
          FROM topv GROUP BY doc_id),
        dpos AS (
          SELECT DISTINCT doc_id, n, idx FROM (
            SELECT g2.doc_id, g2.n,
                   unnest(generate_series(g2.pos, g2.pos + g2.n - 1)) AS idx
            FROM g2 JOIN cnt ON g2.doc_id = cnt.doc_id
                 AND g2.n = cnt.n AND g2.g = cnt.g
            WHERE g2.n IN (5, 6, 7, 8, 9, 10) AND cnt.c >= 2)),
        tl AS (
          SELECT doc_id, total, j - 1 AS idx, length(toks[j]) AS tlen
          FROM (SELECT doc_id, total, toks,
                       unnest(generate_series(1, len(toks))) AS j
                FROM u)),
        dupv AS (
          SELECT d.doc_id, d.n,
                 ROUND(CAST(SUM(t.tlen) AS BIGINT)
                       / CAST(MAX(t.total) AS DOUBLE), 6) AS v
          FROM dpos d JOIN tl t ON d.doc_id = t.doc_id AND d.idx = t.idx
          GROUP BY d.doc_id, d.n),
        dup_piv AS (
          SELECT doc_id,
                 MAX(CASE WHEN n = 5 THEN v END) AS d5,
                 MAX(CASE WHEN n = 6 THEN v END) AS d6,
                 MAX(CASE WHEN n = 7 THEN v END) AS d7,
                 MAX(CASE WHEN n = 8 THEN v END) AS d8,
                 MAX(CASE WHEN n = 9 THEN v END) AS d9,
                 MAX(CASE WHEN n = 10 THEN v END) AS d10
          FROM dupv GROUP BY doc_id)
        SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
               s.dup_line_frac, s.dup_line_char_frac,
               s.dup_para_frac, s.dup_para_char_frac,
               COALESCE(tp.t2, 0.0) AS top_2gram_char_frac,
               COALESCE(tp.t3, 0.0) AS top_3gram_char_frac,
               COALESCE(tp.t4, 0.0) AS top_4gram_char_frac,
               COALESCE(dp.d5, 0.0) AS dup_5gram_char_frac,
               COALESCE(dp.d6, 0.0) AS dup_6gram_char_frac,
               COALESCE(dp.d7, 0.0) AS dup_7gram_char_frac,
               COALESCE(dp.d8, 0.0) AS dup_8gram_char_frac,
               COALESCE(dp.d9, 0.0) AS dup_9gram_char_frac,
               COALESCE(dp.d10, 0.0) AS dup_10gram_char_frac
        FROM unitstats s
        LEFT JOIN top_piv tp ON s.doc_id = tp.doc_id
        LEFT JOIN dup_piv dp ON s.doc_id = dp.doc_id
        ORDER BY doc_id
    """


def q_corpus_datacard(spark, sf):  # textops: per-language corpus data card
    """The release-summary aggregation over the REAL documents table —
    language id, token mass, mean quality (integer-scaled before the
    sum for cross-engine determinism), Gopher and C4 pass rates, one
    row per detected language. Full value twin: the oracle recomputes
    every per-row feature (lang argmax, quality score, both published
    gate conjunctions) independently in DuckDB."""
    from wine_label_ocr_spark.operators.textops import corpus_datacard
    d = _t(spark, sf, "documents")
    return corpus_datacard(d).orderBy("lang")


def _datacard_oracle_sql() -> str:
    from wine_label_ocr_spark.operators.textops import (
        GOPHER_STOPWORDS, LANG_MARKERS, QUALITY_STOPWORDS)
    qstops = ",".join(f"'{s}'" for s in QUALITY_STOPWORDS)
    score_cols = ", ".join(
        "len(list_filter(ltoks, t -> list_contains([{}], t))) AS s_{}"
        .format(", ".join(f"'{m}'" for m in markers), lang)
        for lang, markers in LANG_MARKERS.items())
    structs = ", ".join(
        f"{{'score': s_{lang}, 'lang': '{lang}'}}" for lang in LANG_MARKERS)
    gstops = " + ".join(
        f"(CASE WHEN list_contains(ltoks, '{w}') THEN 1 ELSE 0 END)"
        for w in GOPHER_STOPWORDS)
    return f"""
        WITH f AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(text, '\\s+'),
                             tk -> tk != '') AS toks,
                 list_filter(string_split(text, chr(10)),
                             s -> trim(s) != '') AS lines,
                 list_filter(list_transform(string_split(text, chr(10)),
                               s -> trim(s)),
                   s -> s != ''
                     AND (ends_with(s, '.') OR ends_with(s, '!')
                          OR ends_with(s, '?') OR ends_with(s, '"'))
                     AND len(list_filter(string_split_regex(s, '\\s+'),
                                         w -> w != '')) >= 5
                     AND NOT contains(lower(s), 'javascript')) AS kept
          FROM documents),
        g AS (
          SELECT doc_id, text, toks, kept,
                 list_transform(toks, t -> lower(t)) AS ltoks,
                 len(toks) AS n_words,
                 CAST(GREATEST(len(toks), 1) AS DOUBLE) AS sw,
                 CAST(COALESCE(list_sum(list_transform(
                      toks, t -> length(t))), 0) AS BIGINT) AS sum_len,
                 length(text) - length(replace(text, '#', '')) AS n_hash,
                 length(text) - length(replace(text, '…', '')) AS n_uell,
                 CAST((length(text) - length(replace(text, '...', '')))
                      / 3 AS BIGINT) AS n_dell,
                 len(list_filter(toks,
                     t -> regexp_matches(t, '[A-Za-z]'))) AS alpha_w,
                 CAST(GREATEST(len(lines), 1) AS DOUBLE) AS sl,
                 len(list_filter(lines,
                     s -> starts_with(ltrim(s), '•')
                       OR starts_with(ltrim(s), '- ')
                       OR starts_with(ltrim(s), '* '))) AS bullet,
                 len(list_filter(lines,
                     s -> ends_with(rtrim(s), '...')
                       OR ends_with(rtrim(s), '…'))) AS ell,
                 length(text) AS n,
                 length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                 len(list_intersect(list_transform(toks, t -> lower(t)),
                                    [{qstops}])) AS qstop
          FROM f),
        s AS (SELECT *, {score_cols} FROM g),
        r AS (
          SELECT doc_id,
                 CASE WHEN best['score'] > 0 THEN best['lang']
                      ELSE 'und' END AS lang,
                 CAST(n_words AS BIGINT) AS nt,
                 CAST(ROUND((CAST(0.4 AS DOUBLE)
                         * LEAST(n / CAST(500.0 AS DOUBLE),
                                 CAST(1.0 AS DOUBLE))
                       + CAST(0.3 AS DOUBLE) * (alpha / GREATEST(n, 1))
                       + CAST(0.3 AS DOUBLE)
                         * LEAST((qstop / GREATEST(n_words, 1))
                                 * CAST(3.0 AS DOUBLE),
                                 CAST(1.0 AS DOUBLE))) * 1e6)
                      AS BIGINT) AS q,
                 CASE WHEN n_words >= 50 AND n_words <= 100000
                       AND sum_len / sw >= 3.0 AND sum_len / sw <= 10.0
                       AND (n_hash + n_uell + n_dell) / sw < 0.1
                       AND bullet / sl < 0.9 AND ell / sl < 0.3
                       AND alpha_w / sw >= 0.8
                       AND ({gstops}) >= 2
                      THEN 1 ELSE 0 END AS gok,
                 CASE WHEN NOT contains(text, '{{')
                       AND NOT contains(lower(text), 'lorem ipsum')
                       AND len(kept) >= 3
                      THEN 1 ELSE 0 END AS c4ok
          FROM (SELECT *, list_max([{structs}]) AS best FROM s))
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(nt) AS BIGINT) AS total_tokens,
               ROUND((CAST(SUM(q) AS BIGINT) / CAST(COUNT(*) AS DOUBLE))
                     / 1e6, 6) AS mean_quality,
               ROUND(CAST(SUM(gok) AS BIGINT)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS gopher_pass_rate,
               ROUND(CAST(SUM(c4ok) AS BIGINT)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS c4_pass_rate
        FROM r GROUP BY lang ORDER BY lang
    """


def q_anchor_text(spark, sf):  # graph: top-k anchor texts per link target
    """Anchor-text index over planted html cycling: a shared hub target
    (1/10 of pages each, same anchor), a second anchor on the same hub
    for every 3rd page (uppercase tag, single quotes), a RELATIVE href
    resolved against the page URL, an unquoted href, an exact-count TIE
    (breaks anchor-asc), a nested-markup anchor (must NOT match), an
    empty-after-trim anchor (must drop), and whitespace normalization
    inside the anchor. The oracle STATES each (dst, anchor) row
    closed-form from doc_id and recomputes count + top-k independently."""
    from wine_label_ocr_spark.operators.graph import anchor_text_index
    d = _t(spark, sf, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    a = F.pmod(F.col("doc_id"), F.lit(10)).cast("string")
    b = F.pmod(F.col("doc_id"), F.lit(4)).cast("string")
    h = F.pmod(F.col("doc_id"), F.lit(7)).cast("string")
    alt = F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0,
                 F.concat(F.lit("<A HREF='https://hub.example/t"), a,
                          F.lit("'>alt "), a, F.lit("</A>"))) \
           .otherwise(F.lit(""))
    html = F.concat(
        F.lit('<a href="https://hub.example/t'), a, F.lit('">Topic '), a,
        F.lit("</a>"), alt,
        F.lit('<a href="/rel/'), b, F.lit('">  local\n  page '), b,
        F.lit(" </a>"),
        F.lit("<a href=https://bare.example/u"), a, F.lit(">bare "), a,
        F.lit("</a>"),
        F.lit('<a href="https://tie.example/z">zz b</a>'
              '<a href="https://tie.example/z">zz a</a>'
              '<a href="https://skip.example/n"><b>bold</b></a>'
              '<a href="https://img.example/i">   </a>'))
    pages = d.select(
        F.concat(F.lit("https://s"), h, F.lit(".org/p/"), did).alias("url"),
        html.alias("html"))
    return anchor_text_index(pages, k=3).orderBy("dst", "rank")


_ANCHOR_ORACLE_SQL = """
    WITH d AS (
      SELECT CAST(doc_id % 10 AS VARCHAR) AS a,
             CAST(doc_id % 4 AS VARCHAR) AS b,
             CAST(doc_id % 7 AS VARCHAR) AS h,
             doc_id % 3 AS m3
      FROM documents),
    pairs AS (
      SELECT 'https://hub.example/t' || a AS dst, 'Topic ' || a AS anchor
      FROM d
      UNION ALL
      SELECT 'https://hub.example/t' || a, 'alt ' || a FROM d WHERE m3 = 0
      UNION ALL
      SELECT 'https://s' || h || '.org/rel/' || b, 'local page ' || b
      FROM d
      UNION ALL
      SELECT 'https://bare.example/u' || a, 'bare ' || a FROM d
      UNION ALL
      SELECT 'https://tie.example/z', 'zz b' FROM d
      UNION ALL
      SELECT 'https://tie.example/z', 'zz a' FROM d),
    c AS (
      SELECT dst, anchor, COUNT(*) AS n_refs
      FROM pairs GROUP BY dst, anchor),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY dst
                 ORDER BY n_refs DESC, anchor) AS rk
      FROM c)
    SELECT dst, CAST(rk AS INT) AS rank, anchor,
           CAST(n_refs AS BIGINT) AS n_refs
    FROM r WHERE rk <= 3 ORDER BY dst, rank
"""


def q_script_profile(spark, sf):  # textops: Unicode-script histogram
    """Script detection over planted multilingual snippets cycling
    eleven shapes: one per covered script, a latin/cyrillic exact-count
    TIE (breaks to the max script name), a CJK-dominant mixed line, and
    a digits/punctuation-only 'none'. The oracle STATES every count and
    the dominant script closed-form per shape — no regex in SQL."""
    from wine_label_ocr_spark.operators.textops import script_profile
    d = _t(spark, sf, "documents").select("doc_id")
    m = F.pmod(F.col("doc_id"), F.lit(11))
    text = (F.when(m == 0, F.lit("Hello, world! 123"))
            .when(m == 1, F.lit("привет мир 77"))
            .when(m == 2, F.lit("γειά σου κόσμε"))
            .when(m == 3, F.lit("مرحبا بالعالم"))
            .when(m == 4, F.lit("你好世界你好 ok"))
            .when(m == 5, F.lit("שלום עולם"))
            .when(m == 6, F.lit("да ok"))
            .when(m == 7, F.lit("नमस्ते"))
            .when(m == 8, F.lit("こんにちは"))
            .when(m == 9, F.lit("안녕하세요"))
            .otherwise(F.lit("1234 !?")))
    out = script_profile(d.withColumn("text", text))
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                      *[c for c in out.columns if c != "doc_id"]) \
              .orderBy("doc_id")


_SCRIPT_ORACLE_SQL = """
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(CASE doc_id % 11 WHEN 3 THEN 12 ELSE 0 END AS INT)
               AS n_arabic,
           CAST(CASE doc_id % 11 WHEN 4 THEN 6 ELSE 0 END AS INT)
               AS n_cjk,
           CAST(CASE doc_id % 11 WHEN 1 THEN 9 WHEN 6 THEN 2 ELSE 0 END
               AS INT) AS n_cyrillic,
           CAST(CASE doc_id % 11 WHEN 7 THEN 6 ELSE 0 END AS INT)
               AS n_devanagari,
           CAST(CASE doc_id % 11 WHEN 2 THEN 12 ELSE 0 END AS INT)
               AS n_greek,
           CAST(CASE doc_id % 11 WHEN 9 THEN 5 ELSE 0 END AS INT)
               AS n_hangul,
           CAST(CASE doc_id % 11 WHEN 5 THEN 8 ELSE 0 END AS INT)
               AS n_hebrew,
           CAST(CASE doc_id % 11 WHEN 8 THEN 5 ELSE 0 END AS INT)
               AS n_kana,
           CAST(CASE doc_id % 11 WHEN 0 THEN 10 WHEN 4 THEN 2
                WHEN 6 THEN 2 ELSE 0 END AS INT) AS n_latin,
           CASE doc_id % 11
             WHEN 0 THEN 'latin'     WHEN 1 THEN 'cyrillic'
             WHEN 2 THEN 'greek'     WHEN 3 THEN 'arabic'
             WHEN 4 THEN 'cjk'       WHEN 5 THEN 'hebrew'
             WHEN 6 THEN 'latin'     WHEN 7 THEN 'devanagari'
             WHEN 8 THEN 'kana'      WHEN 9 THEN 'hangul'
             ELSE 'none'
           END AS dominant_script
    FROM documents ORDER BY doc_id
"""


def q_lm_buckets(spark, sf):  # textops: corpus bigram LM + CCNet buckets
    """CCNet-style perplexity bucketing over the REAL documents table —
    full value twin: the DuckDB oracle trains the identical add-one
    bigram LM from the same text and recomputes every integer-scaled
    score and the ntile split."""
    from wine_label_ocr_spark.operators.textops import bigram_lm_scores
    d = _t(spark, sf, "documents")
    return bigram_lm_scores(d).orderBy("doc_id")


def q_lm_buckets_pruned(spark, sf):  # textops: pruned-broadcast LM flavor
    """The 10^12-doc LM shape under the gate (r7 VERDICT #8): the bigram
    LM pruned to c12 >= 2 and BROADCAST, so the instance explosion
    never shuffles in the scoring join (plan pytest-pinned). The oracle
    replays the identical pruning: OOV bigrams leave both the score and
    n_bigrams, bigram-less docs drop before the ntile."""
    from wine_label_ocr_spark.operators.textops import bigram_lm_scores
    d = _t(spark, sf, "documents")
    return bigram_lm_scores(d, min_count=2).orderBy("doc_id")


def _lm_oracle_sql(min_count: int | None = None) -> str:
    """DuckDB twin of bigram_lm_scores: identical add-one LM, integer-
    scaled terms, ntile split. ``min_count`` replays the pruned-
    broadcast flavor (bigrams with c12 < min_count excluded from score
    AND n_bigrams; docs with no surviving bigram drop out before the
    ntile — exactly the operator's OOV contract)."""
    prune = f" WHERE big.c12 >= {min_count}" if min_count else ""
    return f"""
    WITH base AS (
      SELECT doc_id,
             list_transform(list_filter(string_split_regex(text, '\\s+'),
                            x -> x != ''), t -> lower(t)) AS toks
      FROM documents),
    bi AS (
      SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM base WHERE len(toks) >= 2)),
    uni AS (
      SELECT w, COUNT(*) AS c1
      FROM (SELECT unnest(toks) AS w FROM base) GROUP BY w),
    v AS (SELECT COUNT(*) AS v FROM uni),
    big AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2),
    term AS (
      SELECT bi.doc_id,
             CAST(ROUND(ln((big.c12 + 1)
                  / CAST(uni.c1 + v.v AS DOUBLE)) * 1e6) AS BIGINT) AS t
      FROM bi JOIN big ON bi.w1 = big.w1 AND bi.w2 = big.w2
              JOIN uni ON bi.w1 = uni.w, v{prune}),
    scored AS (
      SELECT doc_id, CAST(SUM(t) AS BIGINT) AS logprob_scaled,
             COUNT(*) AS n_bigrams
      FROM term GROUP BY doc_id)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           logprob_scaled,
           ROUND((logprob_scaled / CAST(n_bigrams AS DOUBLE)) / 1e6, 6)
               AS mean_logprob,
           CAST(NTILE(3) OVER (
                ORDER BY logprob_scaled / CAST(n_bigrams AS DOUBLE) DESC,
                         doc_id) AS INT) AS ppl_bucket
    FROM scored ORDER BY doc_id
    """


_LM_ORACLE_SQL = _lm_oracle_sql()


def q_head_meta(spark, sf):  # html_meta: <head> metadata + robots meta
    """Head-metadata extraction over planted html cycling eight shapes:
    a full head (title/description/og:title/canonical/charset), robots
    noindex with follow, uppercase NOFOLLOW, attribute order flipped +
    single quotes, duplicate metas (FIRST wins), a bare page with
    nothing, a token-boundary negative ('nofollowme' must NOT set the
    flag) + http-equiv charset, and unquoted attribute values. The
    oracle STATES every field closed-form per shape."""
    from wine_label_ocr_spark.operators.html_meta import head_meta
    d = _t(spark, sf, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    m = F.pmod(F.col("doc_id"), F.lit(8))
    html = (
        F.when(m == 0, F.concat(
            F.lit("<title>Page "), did,
            F.lit('</title><meta name="description" content="Desc '), did,
            F.lit('"><meta property="og:title" content="OG '), did,
            F.lit('"><link rel="canonical" href="https://c.com/'), did,
            F.lit('"><meta charset="UTF-8">')))
        .when(m == 1, F.lit(
            '<meta name=robots content="noindex, follow"><title>T1</title>'))
        .when(m == 2, F.lit('<meta name="ROBOTS" content="NOFOLLOW">'))
        .when(m == 3, F.concat(
            F.lit("<meta content='Rev "), did, F.lit("' name='description'>")))
        .when(m == 4, F.lit(
            '<meta name="description" content="first">'
            '<meta name="description" content="second">'))
        .when(m == 5, F.lit("<p>hi</p>"))
        .when(m == 6, F.lit(
            '<meta name="robots" content="nofollowme">'
            '<meta http-equiv="Content-Type"'
            ' content="text/html; charset=iso-8859-1">'))
        .otherwise(F.concat(
            F.lit("<meta name=description content=bare"), did,
            F.lit("><link rel=canonical href=https://u.co/"), did,
            F.lit(">"))))
    pages = d.select(F.concat(F.lit("https://p.io/"), did).alias("url"),
                     html.alias("html"))
    return (head_meta(pages)
            .select(F.regexp_extract("url", r"/(\d+)$", 1).cast("bigint")
                     .alias("doc_id"),
                    "title", "description", "og_title", "canonical",
                    "charset", "robots_noindex", "robots_nofollow")
            .orderBy("doc_id"))


_HEAD_META_ORACLE_SQL = """
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CASE doc_id % 8
             WHEN 0 THEN 'Page ' || CAST(doc_id AS VARCHAR)
             WHEN 1 THEN 'T1'
           END AS title,
           CASE doc_id % 8
             WHEN 0 THEN 'Desc ' || CAST(doc_id AS VARCHAR)
             WHEN 3 THEN 'Rev ' || CAST(doc_id AS VARCHAR)
             WHEN 4 THEN 'first'
             WHEN 7 THEN 'bare' || CAST(doc_id AS VARCHAR)
           END AS description,
           CASE doc_id % 8
             WHEN 0 THEN 'OG ' || CAST(doc_id AS VARCHAR)
           END AS og_title,
           CASE doc_id % 8
             WHEN 0 THEN 'https://c.com/' || CAST(doc_id AS VARCHAR)
             WHEN 7 THEN 'https://u.co/' || CAST(doc_id AS VARCHAR)
           END AS canonical,
           CASE doc_id % 8
             WHEN 0 THEN 'utf-8'
             WHEN 6 THEN 'iso-8859-1'
           END AS charset,
           (doc_id % 8 = 1) AS robots_noindex,
           (doc_id % 8 = 2) AS robots_nofollow
    FROM documents ORDER BY doc_id
"""


def q_frontier_priority(spark, sf):  # frontier: budgeted priority crawl
    """Budget-bound priority scheduling: hosts h0–h4 carry descending
    pagerank-style ranks, h5–h9 are unknown (priority 0); the top-120
    cut crosses a host boundary mid-host at sf0.01, so the gate pins
    the (rank desc, url asc) selection order, the unknown-host
    fallback, AND the per-host seq/worker/offset schedule over exactly
    the selected set. The oracle recomputes the whole selection
    independently (ORDER BY + LIMIT in SQL, not a closed-form
    special-case)."""
    from wine_label_ocr_spark.operators.frontier import prioritized_frontier
    d = _t(spark, sf, "documents").select("doc_id")
    urls = d.select(
        F.concat(F.lit("https://h"),
                 F.pmod(F.col("doc_id"), F.lit(10)).cast("string"),
                 F.lit(".com/p/"),
                 F.lpad(F.col("doc_id").cast("string"), 9, "0"))
        .alias("url"))
    ranks = spark.createDataFrame(
        [(f"h{k}.com", (10 - k) * 1000) for k in range(5)],
        "host string, rank_scaled long")
    return (prioritized_frontier(urls, ranks, budget=120,
                                 n_workers=16, oracle_safe=True)
            .orderBy("url"))


_FRONTIER_PRIORITY_ORACLE_SQL = """
    WITH c AS (
      SELECT 'https://h' || (doc_id % 10) || '.com/p/'
                 || printf('%09d', doc_id) AS url,
             'h' || (doc_id % 10) || '.com' AS host,
             CASE WHEN doc_id % 10 < 5
                  THEN (10 - doc_id % 10) * 1000 ELSE 0 END AS priority
      FROM documents),
    top AS (SELECT * FROM c ORDER BY priority DESC, url LIMIT 120),
    s AS (SELECT url, host, priority,
                 ROW_NUMBER() OVER (PARTITION BY host ORDER BY url) AS seq
          FROM top)
    SELECT url, host, CAST(seq AS INT) AS seq,
           CAST(CAST(CAST(concat('0x', substr(md5(host || '#0'), 1, 15))
                AS UBIGINT) AS BIGINT) % 16 AS INT) AS worker,
           CAST(1000 AS BIGINT) AS delay_ms,
           CAST((seq - 1) * 1000 AS BIGINT) AS fetch_offset_ms,
           CAST(priority AS BIGINT) AS priority
    FROM s ORDER BY url
"""


def _certified(row) -> bool:
    """A driver CORRECTNESS row counts as certification when rows and
    schema matched, nothing errored, and the value hash (when the gate
    had one — rows-only gates record null) did not mismatch."""
    return (isinstance(row, dict) and bool(row.get("rows_match"))
            and bool(row.get("schema_match"))
            and row.get("err") in (None, "")
            and row.get("hash_match") is not False)


def _gate_backing_files(fn) -> list[str]:
    """Package modules a gate query imports (by source scan of its
    absolute ``wine_label_ocr_spark.…`` imports) — the files whose churn
    must re-promote the gate into the certification cap."""
    import inspect
    import os
    import re as _re
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        return []
    here = os.path.dirname(os.path.abspath(__file__))
    mods = set(_re.findall(
        r"wine_label_ocr_spark(?:\.[A-Za-z_][\w]*)*", src))
    # `from pkg.sub import name[, name2] [as alias]`: each name may be a
    # submodule (e.g. `from wine_label_ocr_spark.sources import warc`)
    for pkg, names in _re.findall(
            r"from\s+(wine_label_ocr_spark(?:\.[\w]+)*)\s+import\s+"
            r"\(?([\w,\s]+)\)?", src):
        for name in names.replace(",", " ").split():
            if name != "as":
                mods.add(pkg + "." + name)
    out = []
    for mod in sorted(mods):
        rel = mod.replace(".", os.sep)
        for cand in (rel + ".py", os.path.join(rel, "__init__.py")):
            p = os.path.join(here, cand)
            if os.path.isfile(p):
                out.append(p)
                break
    return sorted(set(out))


def _rotation_order(gates: dict, art_dir: str | None = None) -> list[str]:
    """Derived certification priority under the driver's ~50-entry
    artifact cap (r8 VERDICT #7: the rule lives in CODE, not a
    hand-maintained list). Inputs: the committed ``CORRECTNESS_r*.json``
    driver artifacts (last certified round + its file mtime per gate)
    and each gate's backing-module mtimes. Buckets, in priority order:

    0. certification DEBT — last driver row ≥2 rounds ago (the "nothing
       goes two rounds uncertified" invariant is already broken for
       these; they must lead);
    1. never driver-certified (new gates — no history at all);
    2. backing module changed since the gate's last certification
       (module mtime newer than that round's artifact mtime);
    3. everything else, stalest-first, so the cap is absorbed by the
       gates with the freshest driver rows.

    Within a bucket: stalest first, then declaration order. Degrades
    gracefully: in a fresh checkout (all mtimes equal) bucket 2 folds
    into bucket 3 and the order is pure staleness; with no artifacts at
    all it is declaration order. Any error → declaration order.

    With |registry| > cap, bucket-3 overflow past the cap is
    unavoidable; the builder re-verifies the overflow locally each
    round with ``tools/check_oracle.py`` and records it in BENCH.md."""
    import glob
    import json as _json
    import os
    import re as _re
    decl = list(gates)
    try:
        here = art_dir or os.path.dirname(os.path.abspath(__file__))
        last_cert, cert_mtime, rounds = {}, {}, [0]
        for p in sorted(glob.glob(os.path.join(here,
                                               "CORRECTNESS_r*.json"))):
            m = _re.search(r"CORRECTNESS_r(\d+)\.json$", p)
            if not m:
                continue
            rnd = int(m.group(1))
            rounds.append(rnd)
            try:
                with open(p) as fh:
                    data = _json.load(fh)
            except (OSError, ValueError):
                continue
            mt = os.path.getmtime(p)
            for g, row in data.items():
                if _certified(row) and rnd >= last_cert.get(g, -1):
                    last_cert[g] = rnd
                    cert_mtime[g] = mt
        cur = max(rounds) + 1

        def key(pair):
            i, name = pair
            lc = last_cert.get(name)
            if lc is None:
                return (1, 0, i)
            stale = cur - lc
            if stale >= 3:
                return (0, -stale, i)
            touched = any(os.path.getmtime(f) > cert_mtime[name]
                          for f in _gate_backing_files(gates[name]))
            return (2 if touched else 3, -stale, i)

        return [n for _, n in sorted(enumerate(decl), key=key)]
    except Exception:
        return decl


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry, in driver certification priority order — DERIVED by
    ``_rotation_order`` from the committed CORRECTNESS artifacts and
    backing-module mtimes (never/debt/touched/stalest-first; see its
    docstring). The dict below is DECLARATION order only — grouped by
    operator family — and is the deterministic tie-break + the fallback
    when no artifacts are readable."""
    declared = {
        "head_meta": q_head_meta,
        "frontier_priority": q_frontier_priority,
        "ivf_topk": q_ivf_topk,
        "compression_ratio": q_compression_ratio,
        "lm_buckets_pruned": q_lm_buckets_pruned,
        "media_webp_lossy": q_media_webp_lossy,
        "warc_revisit": q_warc_revisit,
        "crawl_cycle": q_crawl_cycle,
        "crawl_cycle_funnel": q_crawl_cycle_funnel,
        "crawl_cycle_sitemap": q_crawl_cycle_sitemap,
        "anchor_text": q_anchor_text,
        "media_pixels_webp": q_media_pixels_webp,
        "lm_buckets": q_lm_buckets,
        "tfidf_pruned": q_tfidf_pruned,
        "customers_without_orders": q_customers_without_orders,
        "quality_classifier": q_quality_classifier,
        "blocklist_filter": q_blocklist_filter,
        "exact_substring": q_exact_substring,
        "text_fix": q_text_fix,
        "audio_features": q_audio_features,
        "audio_resample": q_audio_resample,
        "audio_spectrogram": q_audio_spectrogram,
        "audio_dedup": q_audio_dedup,
        "interval_join": q_interval_join,
        "unigram_logprob": q_unigram_logprob,
        "minhash_lsh": q_minhash_lsh,
        "lineitem_agg": q_lineitem_agg,
        "top_customer_per_nation": q_top_customer_per_nation,
        "orders_by_segment": q_orders_by_segment,
        "year_extract": q_year_extract,
        "normalize_maker": q_normalize_maker,
        "custom_id": q_custom_id,
        "alnum_stats": q_alnum_stats,
        "token_counts": q_token_counts,
        "exact_dup_groups": q_exact_dup_groups,
        "window_spread_5s": q_window_spread_5s,
        "running_peak": q_running_peak,
        "stopword_strip": q_stopword_strip,
        "fuzzy_blocked_join": q_fuzzy_blocked_join,
        "extract_fields_pipeline": q_extract_fields_pipeline,
        "extract_pdf_pipeline": q_extract_pdf_pipeline,
        "bpe_token_counts": q_bpe_token_counts,
        "quality_scores": q_quality_scores,
        "lang_id": q_lang_id,
        "lang_id_model": q_lang_id_model,
        "content_fingerprint": q_content_fingerprint,
        "tfidf_top_terms": q_tfidf_top_terms,
        "chunk_documents": q_chunk_documents,
        "pack_sequences": q_pack_sequences,
        "pack_sequences_ffd": q_pack_sequences_ffd,
        "outlinks": q_outlinks,
        "outlinks_resolved": q_outlinks_resolved,
        "robots_gate": q_robots_gate,
        "frontier_schedule": q_frontier_schedule,
        "wat_sidecar": q_wat_sidecar,
        "dedup_decisions": q_dedup_decisions,
        "media_frames": q_media_frames,
        "cosine_topk": q_cosine_topk,
        "customers_with_orders": q_customers_with_orders,
        "decontamination": q_decontamination,
        "duplicate_passages": q_duplicate_passages,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_quantized": q_embedding_quantized,
        "exact_dedup": q_exact_dedup,
        "best_variant": q_best_variant,
        "bpe_real_tokens": q_bpe_real_tokens,
        "bpe_train": q_bpe_train,
        "curation_funnel": q_curation_funnel,
        "ema_final": q_ema_final,
        "host_stats": q_host_stats,
        "image_dhash": q_image_dhash,
        "incremental_dedup": q_incremental_dedup,
        "ivfadc_topk": q_ivfadc_topk,
        "latest_capture": q_latest_capture,
        "lexical_diversity": q_lexical_diversity,
        "media_features": q_media_features,
        "media_pixels": q_media_pixels,
        "media_pixels_gif": q_media_pixels_gif,
        "media_pixels_jpeg": q_media_pixels_jpeg,
        "median_by_type": q_median_by_type,
        "near_dup_components": q_near_dup_components,
        "pagerank": q_pagerank,
        "pagerank_dangling": q_pagerank_dangling,
        "paragraph_dedup": q_paragraph_dedup,
        "phase_trace": q_phase_trace,
        "pii_redaction": q_pii_redaction,
        "pq_topk": q_pq_topk,
        "repetition_stats": q_repetition_stats,
        "rp_lsh_topk": q_rp_lsh_topk,
        "salted_agg": q_salted_agg,
        "sessionize": q_sessionize,
        "simhash_fingerprints": q_simhash_fingerprints,
        "simhash_pairs": q_simhash_pairs,
        "stratified_sample": q_stratified_sample,
        "training_funnel": q_training_funnel,
        "union_names": q_union_names,
        "url_canon": q_url_canon,
        "vintage_fallback_grid": q_vintage_fallback_grid,
        "warc_extract": q_warc_extract,
        "media_mp4_meta": q_media_mp4_meta,
        "media_pixels_jpeg_prog": q_media_pixels_jpeg_prog,
        "media_frames_webp": q_media_frames_webp,
        "gopher_rules": q_gopher_rules,
        "c4_clean": q_c4_clean,
        "surt_keys": q_surt_keys,
        "wet_roundtrip": q_wet_roundtrip,
        "gopher_repetition": q_gopher_repetition,
        "corpus_datacard": q_corpus_datacard,
        "script_profile": q_script_profile,
    }
    return {name: declared[name] for name in _rotation_order(declared)}


def _minhash_oracle_sql(n_perm=16, n_bands=4, k=3, min_j=0.4, max_bucket=200,
                        src="documents") -> str:
    rpb = n_perm // n_bands
    hashv = lambda p: (f"list_min(list_transform(sh, s -> CAST(CAST(concat('0x', "
                       f"substr(md5(concat(s, '#{p}')), 1, 15)) AS UBIGINT) AS BIGINT)))")  # noqa: E731
    sig = ", ".join(hashv(p) for p in range(n_perm))
    band_structs = ", ".join(
        f"{{'band': {b}, 'h': md5(array_to_string("
        f"list_transform(sig[{b*rpb+1}:{(b+1)*rpb}], v -> CAST(v AS VARCHAR)), ','))}}"
        for b in range(n_bands))
    return f"""
        WITH base AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
          FROM {src}),
        shing AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= {k}
                      THEN list_distinct(list_transform(
                           generate_series(1, len(toks) - {k-1}),
                           i -> array_to_string(toks[i:i+{k-1}], ' ')))
                      ELSE [array_to_string(toks, ' ')] END AS sh
          FROM base),
        sig AS (SELECT doc_id, sh, [{sig}] AS sig FROM shing),
        bands AS (SELECT doc_id, sh, unnest([{band_structs}]) AS bh FROM sig),
        buck AS (
          SELECT doc_id, sh, bh['band'] AS band, bh['h'] AS band_hash,
                 COUNT(*) OVER (PARTITION BY bh['band'], bh['h']) AS bn
          FROM bands),
        ok AS (SELECT * FROM buck WHERE bn <= {max_bucket}),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
          FROM ok a JOIN ok b
            ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)
        SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
               ROUND(len(list_intersect(sh_a, sh_b)) /
                     GREATEST(len(list_distinct(list_concat(sh_a, sh_b))), 1), 6) AS jaccard
        FROM pairs
        WHERE len(list_intersect(sh_a, sh_b)) /
              GREATEST(len(list_distinct(list_concat(sh_a, sh_b))), 1) >= {min_j}
    """


def _incremental_oracle_sql(n_perm=16, n_bands=4, k=3) -> str:
    """DuckDB twin of q_incremental_dedup: even doc_ids = prior snapshot,
    odd = new crawl; a new doc survives iff its content key matches no
    prior doc AND none of its MinHash band hashes (md5 flavor, same
    construction as _minhash_oracle_sql) appears in the prior store."""
    rpb = n_perm // n_bands
    hashv = lambda p: (f"list_min(list_transform(sh, s -> CAST(CAST(concat('0x', "
                       f"substr(md5(concat(s, '#{p}')), 1, 15)) AS UBIGINT) AS BIGINT)))")  # noqa: E731
    sig = ", ".join(hashv(p) for p in range(n_perm))
    band_structs = ", ".join(
        f"{{'band': {b}, 'h': md5(array_to_string("
        f"list_transform(sig[{b*rpb+1}:{(b+1)*rpb}], v -> CAST(v AS VARCHAR)), ','))}}"
        for b in range(n_bands))

    def bands_of(src: str) -> str:
        return f"""(
          WITH b0 AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
            FROM {src}),
          s0 AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= {k}
                        THEN list_distinct(list_transform(
                             generate_series(1, len(toks) - {k-1}),
                             i -> array_to_string(toks[i:i+{k-1}], ' ')))
                        ELSE [array_to_string(toks, ' ')] END AS sh
            FROM b0),
          g0 AS (SELECT doc_id, [{sig}] AS sig FROM s0)
          SELECT doc_id, bh['band'] AS band, bh['h'] AS h
          FROM (SELECT doc_id, unnest([{band_structs}]) AS bh FROM g0)
        )"""

    return f"""
        WITH prior AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        newd AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
        pck AS (SELECT DISTINCT md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS ck
                FROM prior),
        fresh AS (
          SELECT doc_id, text FROM newd
          WHERE md5(trim(regexp_replace(text, '\\s+', ' ', 'g')))
                NOT IN (SELECT ck FROM pck)),
        pbands AS (SELECT DISTINCT band, h FROM {bands_of("prior")} t),
        nbands AS (SELECT * FROM {bands_of("fresh")} t),
        dup AS (SELECT DISTINCT n.doc_id
                FROM nbands n JOIN pbands p ON n.band = p.band AND n.h = p.h)
        SELECT CAST(doc_id AS BIGINT) AS doc_id FROM fresh
        WHERE doc_id NOT IN (SELECT doc_id FROM dup)
        ORDER BY doc_id
    """


def _simhash_oracle_sql() -> str:
    """Bit-exact DuckDB twin of simhash64(oracle_safe=True): md5-derived
    60-bit token hashes (15 hex chars), per-bit ±1 vote, sign → bit."""
    return """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS tk
          FROM documents),
        h AS (
          SELECT doc_id,
                 CAST(CAST(concat('0x', substr(md5(concat(unnest(tk), '#0')), 1, 15))
                      AS UBIGINT) AS BIGINT) AS hv
          FROM toks),
        bits AS (
          SELECT doc_id, CAST(g.j AS INT) AS j,
                 SUM(CASE WHEN (hv >> CAST(g.j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
          FROM h, generate_series(0, 59) AS g(j)
          GROUP BY doc_id, g.j),
        sh AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN cnt > 0 THEN (CAST(1 AS BIGINT) << j)
                          ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id)
        SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
               COALESCE(s.simhash, CAST(0 AS BIGINT)) AS simhash
        FROM documents d LEFT JOIN sh s ON d.doc_id = s.doc_id
    """


def _simhash_pairs_oracle_sql(max_hamming=4, max_bucket=2000) -> str:
    """DuckDB twin of simhash_pairs(oracle_safe=True): same md5 60-bit
    token hashes, same band widths (divmod band layout inlined as VALUES),
    same bucket guard, exact hamming via bit_count(xor). simhash values
    are < 2^60 so plain arithmetic >> equals shiftrightunsigned."""
    n_bands = max_hamming + 1
    base, rem = divmod(64, n_bands)
    bands, start = [], 0
    for j in range(n_bands):
        w = base + (1 if j < rem else 0)
        bands.append(f"({j}, {start}, {(1 << w) - 1})")
        start += w
    band_rows = ", ".join(bands)
    return f"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id,
                 text || ' near duplicate tail' AS text
          FROM documents WHERE doc_id % 50 = 0),
        toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS tk
          FROM corpus),
        h AS (
          SELECT doc_id,
                 CAST(CAST(concat('0x', substr(md5(concat(unnest(tk), '#0')), 1, 15))
                      AS UBIGINT) AS BIGINT) AS hv
          FROM toks),
        bitsum AS (
          SELECT doc_id, CAST(g.j AS INT) AS j,
                 SUM(CASE WHEN (hv >> CAST(g.j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
          FROM h, generate_series(0, 59) AS g(j)
          GROUP BY doc_id, g.j),
        sh0 AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN cnt > 0 THEN (CAST(1 AS BIGINT) << j)
                          ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
          FROM bitsum GROUP BY doc_id),
        sh AS (
          SELECT c.doc_id, COALESCE(s.simhash, CAST(0 AS BIGINT)) AS simhash
          FROM corpus c LEFT JOIN sh0 s ON c.doc_id = s.doc_id),
        bands(band, start, mask) AS (VALUES {band_rows}),
        bb AS (
          SELECT doc_id, simhash, band,
                 (simhash >> CAST(start AS INT)) & mask AS bits
          FROM sh, bands),
        guarded AS (
          SELECT doc_id, simhash, band, bits FROM (
            SELECT *, COUNT(*) OVER (PARTITION BY band, bits) AS bn FROM bb)
          WHERE bn <= {max_bucket}),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                          a.simhash AS sa, b.simhash AS sb
          FROM guarded a JOIN guarded b
            ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id)
        SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
               CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        FROM pairs WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    """


def _winnow_oracle_sql(k=5, window=4, min_shared=1, max_bucket=200) -> str:
    """DuckDB twin of duplicate_passages(oracle_safe=True): same md5
    60-bit gram hashes, same window minima (the selected fp VALUE is the
    window min — the rightmost tie-break only affects positions, which
    the pair count never sees), same hot-fp guard."""
    km1, wm1 = k - 1, window - 1
    h = ("CAST(CAST(concat('0x', substr(md5(concat(array_to_string("
         f"tk[CAST(i AS INT):CAST(i AS INT)+{km1}], ' '), '#0')), 1, 15)) "
         "AS UBIGINT) AS BIGINT)")
    return f"""
        WITH corpus AS (
          SELECT doc_id, text ||
                 CASE WHEN doc_id % 40 = 0
                      THEN ' syndicated boilerplate passage tokens appear verbatim across many documents tonight'
                      ELSE '' END AS text
          FROM documents),
        toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS tk
          FROM corpus),
        grams AS (
          SELECT doc_id,
                 CASE WHEN len(tk) >= {k}
                      THEN list_transform(generate_series(1, len(tk) - {km1}),
                                          i -> {h})
                      WHEN len(tk) >= 1
                      THEN [CAST(CAST(concat('0x', substr(md5(concat(
                            array_to_string(tk, ' '), '#0')), 1, 15))
                            AS UBIGINT) AS BIGINT)]
                      ELSE CAST([] AS BIGINT[]) END AS gs
          FROM toks),
        sel AS (
          SELECT DISTINCT doc_id, fp FROM (
            SELECT doc_id,
                   list_min(gs[CAST(j AS INT):CAST(j AS INT)+{wm1}]) AS fp
            FROM (SELECT doc_id, gs,
                         unnest(generate_series(1, len(gs) - {wm1})) AS j
                  FROM grams WHERE len(gs) >= {window}))
          UNION
          SELECT doc_id, list_min(gs) AS fp
          FROM grams WHERE len(gs) BETWEEN 1 AND {wm1}),
        guarded AS (
          SELECT doc_id, fp FROM (
            SELECT *, COUNT(*) OVER (PARTITION BY fp) AS bn FROM sel)
          WHERE bn <= {max_bucket})
        SELECT CAST(a.doc_id AS BIGINT) AS id_a,
               CAST(b.doc_id AS BIGINT) AS id_b,
               CAST(COUNT(*) AS BIGINT) AS shared_fps
        FROM guarded a JOIN guarded b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING COUNT(*) >= {min_shared}
    """


def _near_dup_oracle_sql(n_planes=8, dim=64, min_cosine=0.95,
                         max_bucket=200) -> str:
    """DuckDB twin of embedding_near_dup over 3dp-rounded doubles: the
    deterministic md5 hyperplanes are inlined as literals, bucket = OR of
    sign bits (disjoint → SUM), pairwise cosine within buckets. Mirrors
    the operator's max_bucket hot-bucket guard (drop buckets above the
    cap before pairing) so both sides compute the identical pair set."""
    from wine_label_ocr_spark.operators.ann import _hyperplanes
    planes = _hyperplanes(n_planes, dim)
    rows = ", ".join(
        f"({p}, [{', '.join(('1.0' if w > 0 else '-1.0') for w in pl)}])"
        for p, pl in enumerate(planes))
    dotv = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            "list_transform(generate_series(1, {d}), i -> e[i] * pl[i])), "
            "(a, b) -> a + b)").format(d=dim)
    sq = ("sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
          "list_transform({v}, x -> x * x)), (a, b) -> a + b))")
    return f"""
        WITH base AS (
          SELECT vec_id,
                 list_transform(embedding, x -> round(CAST(x AS DOUBLE), 3)) AS e
          FROM embeddings),
        corpus AS (
          SELECT * FROM base
          UNION ALL
          SELECT vec_id + 1000000 AS vec_id, e FROM base WHERE vec_id % 97 = 0),
        planes(p, pl) AS (VALUES {rows}),
        sig AS (
          SELECT vec_id, e,
                 CAST(SUM(CASE WHEN {dotv} > 0
                          THEN (CAST(1 AS BIGINT) << CAST(p AS INT))
                          ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
          FROM corpus, planes GROUP BY vec_id, e),
        guarded AS (
          SELECT vec_id, e, bucket FROM (
            SELECT *, COUNT(*) OVER (PARTITION BY bucket) AS bn FROM sig)
          WHERE bn <= {max_bucket}),
        pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.e AS ea, b.e AS eb
          FROM guarded a JOIN guarded b
            ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
        scored AS (
          SELECT id_a, id_b, ROUND(
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list_transform(generate_series(1, {dim}),
                                    i -> ea[i] * eb[i])), (x, y) -> x + y)
                 / GREATEST({sq.format(v='ea')} * {sq.format(v='eb')},
                            CAST(1e-12 AS DOUBLE)), 6) AS cosine
          FROM pairs)
        SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, cosine
        FROM scored WHERE cosine >= {min_cosine}
    """


def _rp_lsh_oracle_sql(n_planes=6, dim=64, k=5, n_probes=3) -> str:
    """DuckDB twin of rp_lsh_topk over 3dp-rounded doubles: same inlined
    hyperplanes/bucketing as _near_dup_oracle_sql, the same margin-ordered
    multi-probe expansion of the query side (flip the smallest-|dot|
    planes first, ties by plane index — identical to the Spark
    array_sort(struct(abs, j)) ordering), then per-query exact cosine
    re-rank within the probed buckets."""
    from wine_label_ocr_spark.operators.ann import _hyperplanes
    planes = _hyperplanes(n_planes, dim)
    rows = ", ".join(
        f"({p}, [{', '.join(('1.0' if w > 0 else '-1.0') for w in pl)}])"
        for p, pl in enumerate(planes))
    dotv = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            "list_transform(generate_series(1, {d}), i -> e[i] * pl[i])), "
            "(a, b) -> a + b)").format(d=dim)
    sq = ("sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
          "list_transform({v}, x -> x * x)), (a, b) -> a + b))")
    return f"""
        WITH base AS (
          SELECT vec_id,
                 list_transform(embedding, x -> round(CAST(x AS DOUBLE), 3)) AS e
          FROM embeddings),
        planes(p, pl) AS (VALUES {rows}),
        dots AS (
          SELECT vec_id, e, CAST(p AS INT) AS p, {dotv} AS d
          FROM base, planes),
        sig AS (
          SELECT vec_id, e,
                 CAST(SUM(CASE WHEN d > 0
                          THEN (CAST(1 AS BIGINT) << p)
                          ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
          FROM dots GROUP BY vec_id, e),
        q AS (SELECT vec_id AS q_id, e AS qe, bucket FROM sig
              WHERE vec_id % 100 = 0),
        qflip AS (
          SELECT vec_id AS q_id, p,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY ABS(d), p) AS rnk
          FROM dots WHERE vec_id % 100 = 0),
        qprobes AS (
          SELECT q_id, qe, bucket FROM q
          UNION ALL
          SELECT q.q_id, q.qe,
                 xor(q.bucket, CAST(1 AS BIGINT) << f.p) AS bucket
          FROM q JOIN qflip f ON q.q_id = f.q_id
          WHERE f.rnk <= {n_probes - 1}),
        scored AS (
          SELECT q.q_id, c.vec_id AS c_id,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list_transform(generate_series(1, {dim}),
                                    i -> qe[i] * c.e[i])), (x, y) -> x + y)
                 / GREATEST({sq.format(v='qe')} * {sq.format(v='c.e')},
                            CAST(1e-12 AS DOUBLE)) AS cosine
          FROM qprobes q JOIN sig c ON q.bucket = c.bucket)
        -- rank on the UNROUNDED cosine (matches the Spark window), round
        -- only in the projection
        SELECT q_id, c_id, ROUND(cosine, 6) AS cosine, CAST(rank AS INT) AS rank
        FROM (SELECT q_id, c_id, cosine,
                     ROW_NUMBER() OVER (PARTITION BY q_id
                                        ORDER BY cosine DESC, c_id) AS rank
              FROM scored)
        WHERE rank <= {k}
    """


def _pii_oracle_sql() -> str:
    from wine_label_ocr_spark.operators.textops import PII_PATTERNS
    red = ("concat('contact user', CAST(doc_id AS VARCHAR), "
           "'@mail.example.com or 10.0.', CAST(doc_id % 255 AS VARCHAR), "
           "'.7 tel +1 (555) 010-', "
           "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' :: ', "
           "substr(text, 1, 60))")
    for pat, repl in PII_PATTERNS:  # same ordered chain, global flag
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               md5(r) AS redacted_fp,
               regexp_matches(r, '@|\\d{{3}}[-.]\\d{{4}}') AS pii_leaked
        FROM (SELECT doc_id, {red} AS r FROM documents)
    """


def oracle_sql() -> dict[str, str]:
    from wine_label_ocr_spark.operators.textops import (
        BPE_ISH_PATTERN, LANG_MARKERS, QUALITY_STOPWORDS)

    stop_sql = ",".join(f"'{s}'" for s in STOPWORDS)
    qstop_sql = ",".join(f"'{s}'" for s in QUALITY_STOPWORDS)
    lang_score_cols = ", ".join(
        f"len(list_filter(toks, t -> list_contains([{', '.join(chr(39)+m+chr(39) for m in markers)}], t))) AS s_{lang}"
        for lang, markers in LANG_MARKERS.items())
    lang_structs = ", ".join(
        f"{{'score': s_{lang}, 'lang': '{lang}'}}" for lang in LANG_MARKERS)
    return {
        # NOTE (all SUMs below): DuckDB SUM(BIGINT) yields HUGEINT, which the
        # driver's pandas fetch degrades to float64 -> "3.000000" != "3" in
        # the value hash. CAST the SUM itself back to BIGINT everywhere.
        "lineitem_agg": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents,
                   COUNT(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_customer_per_nation": """
            SELECT CAST(c_nationkey AS INT) AS nationkey,
                   CAST(c_custkey AS BIGINT) AS custkey,
                   ROUND(c_acctbal, 2) AS acctbal
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
                         ORDER BY c_acctbal DESC, c_custkey) AS rn
                  FROM customer) WHERE rn = 1
        """,
        "orders_by_segment": """
            SELECT c_mktsegment,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "customers_with_orders": """
            SELECT CAST(c_custkey AS BIGINT) AS custkey FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "customers_without_orders": """
            SELECT CAST(c_custkey AS BIGINT) AS custkey FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "year_extract": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(CASE WHEN y BETWEEN 1900 AND 2030 THEN y END AS INT) AS vintage
            FROM (SELECT doc_id,
                         CAST(NULLIF(regexp_extract(
                             concat('rev vintage ', CAST(1900 + doc_id % 140 AS VARCHAR),
                                    ' tail ', substr(text, 1, 20)),
                             'vintage ((?:19|20)[0-9]{2})', 1), '') AS INT) AS y
                  FROM documents)
        """,
        "normalize_maker": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   NULLIF(TRIM(regexp_replace(regexp_replace(
                       UPPER(substr(text, 1, 50)),
                       '[^A-Z0-9 &''-]', '', 'g'), ' +', ' ', 'g')), '') AS maker_name
            FROM documents
        """,
        "custom_id": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   cid AS custom_id,
                   substr(md5(cid), 1, 12) AS rec_id
            FROM (SELECT doc_id,
                         concat(TRIM(UPPER(substr(text, 1, 24))), '|',
                                CAST(1900 + doc_id % 131 AS VARCHAR)) AS cid
                  FROM documents)
        """,
        "alnum_stats": """
            SELECT lang,
                   CAST(SUM(CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS BIGINT)) AS BIGINT) AS sum_alnum,
                   COUNT(*) AS n_docs
            FROM documents GROUP BY lang
        """,
        "token_counts": """
            SELECT lang,
                   CAST(SUM(CAST(length(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS sum_tokens
            FROM documents GROUP BY lang
        """,
        "exact_dup_groups": """
            SELECT md5(substr(text, 1, 32)) AS prefix_hash, COUNT(*) AS n
            FROM documents GROUP BY 1 HAVING COUNT(*) > 1
        """,
        "window_spread_5s": """
            SELECT CAST(event_id AS BIGINT) AS event_id,
                   ROUND(MAX(value) OVER w - MIN(value) OVER w, 6) AS spread
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                         RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW)
        """,
        "running_peak": """
            SELECT CAST(event_id AS BIGINT) AS event_id,
                   ROUND(MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS peak
            FROM events
        """,
        "stopword_strip": f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   array_to_string(list_sort(list_filter(
                       list_distinct(string_split(text, ' ')),
                       x -> NOT list_contains([{stop_sql}], x))), ' ') AS kept_tokens
            FROM documents WHERE lang = 'en'
        """,
        "fuzzy_blocked_join": f"""
            WITH d AS (
              SELECT doc_id, lang, source, substr(text, 1, 40) AS pfx,
                     COUNT(*) OVER (PARTITION BY lang, source) AS bn
              FROM documents),
            ok AS (SELECT * FROM d WHERE bn <= {FUZZY_MAX_BLOCK})
            SELECT CAST(a.doc_id AS BIGINT) AS doc_a,
                   CAST(b.doc_id AS BIGINT) AS doc_b,
                   ROUND(1.0 - levenshtein(a.pfx, b.pfx)
                         / GREATEST(length(a.pfx), length(b.pfx)), 6) AS sim
            FROM ok a JOIN ok b
              ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
            WHERE 1.0 - levenshtein(a.pfx, b.pfx)
                  / GREATEST(length(a.pfx), length(b.pfx)) >= 0.5
        """,
        "extract_fields_pipeline": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   concat(UPPER(source), ' DOC ', CAST(doc_id AS VARCHAR)) AS maker_name,
                   CAST(1900 + doc_id % 131 AS INT) AS vintage,
                   concat(UPPER(source), ' DOC ', CAST(doc_id AS VARCHAR), '|',
                          CAST(1900 + doc_id % 131 AS VARCHAR)) AS custom_id,
                   text
            FROM documents
        """,
        "extract_pdf_pipeline": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   'pdf' AS method,
                   concat('PDF DOC ', CAST(doc_id AS VARCHAR)) AS maker_name,
                   text
            FROM documents
        """,
        "warc_extract": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   concat(UPPER(source), ' DOC ', CAST(doc_id AS VARCHAR)) AS maker_name,
                   CAST(1900 + doc_id % 131 AS INT) AS vintage,
                   text
            FROM documents
        """,
        "bpe_token_counts": f"""
            SELECT lang,
                   CAST(SUM(CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS BIGINT)) AS BIGINT) AS sum_bpe_tokens
            FROM documents GROUP BY lang
        """,
        "interval_join": """
            -- the truth is the naive theta join; the Spark side must
            -- compute the identical pair set via the equi-ized plan
            SELECT CAST(a.user_id AS BIGINT) AS user_id,
                   CAST(a.event_id AS BIGINT) AS id_a,
                   CAST(b.event_id AS BIGINT) AS id_b,
                   CAST(ABS(epoch_ms(a.ts) - epoch_ms(b.ts)) AS BIGINT) AS dt_ms
            FROM events a JOIN events b
              ON a.user_id = b.user_id AND a.event_id < b.event_id
             AND ABS(epoch_ms(a.ts) - epoch_ms(b.ts)) <= 300000
        """,
        "host_stats": f"""
            -- host skew profile twin: same url rule, same quality
            -- expression as quality_scores (bit-identical double fold),
            -- folded to integer micro-units BEFORE the sum
            WITH f AS (
              SELECT doc_id, length(text) AS n,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                     list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
              FROM documents),
            g AS (
              SELECT doc_id, n, alpha, len(toks) AS ntok,
                     len(list_intersect(list_transform(toks, t -> lower(t)),
                                        [{qstop_sql}])) AS stop
              FROM f),
            q AS (
              SELECT doc_id, ntok,
                     CAST(ROUND((CAST(0.4 AS DOUBLE) * LEAST(n / CAST(500.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
                          + CAST(0.3 AS DOUBLE) * (alpha / GREATEST(n, 1))
                          + CAST(0.3 AS DOUBLE) * LEAST((stop / GREATEST(ntok, 1)) * CAST(3.0 AS DOUBLE), CAST(1.0 AS DOUBLE)))
                          * 1000000) AS BIGINT) AS q_e6
              FROM g),
            h AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 < 4 THEN 'bighost.example'
                          ELSE concat('host', CAST(doc_id % 41 AS VARCHAR),
                                      '.example') END AS host
              FROM documents)
            SELECT h.host, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(q.ntok) AS BIGINT) AS n_tokens,
                   CAST(SUM(q.q_e6) AS BIGINT) AS sum_quality_e6
            FROM h JOIN q USING (doc_id) GROUP BY h.host
        """,
        "quality_scores": f"""
            WITH f AS (
              SELECT doc_id, length(text) AS n,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                     length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS punct,
                     list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
              FROM documents),
            g AS (
              SELECT doc_id, n, alpha, punct, len(toks) AS ntok,
                     len(list_intersect(list_transform(toks, t -> lower(t)),
                                        [{qstop_sql}])) AS stop
              FROM f)
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   ROUND(CAST(0.4 AS DOUBLE) * LEAST(n / CAST(500.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
                         + CAST(0.3 AS DOUBLE) * (alpha / GREATEST(n, 1))
                         + CAST(0.3 AS DOUBLE) * LEAST((stop / GREATEST(ntok, 1)) * CAST(3.0 AS DOUBLE), CAST(1.0 AS DOUBLE)), 6) AS quality,
                   (n >= 25 AND (alpha / GREATEST(n, 1)) >= CAST(0.5 AS DOUBLE)
                    AND (punct / GREATEST(n, 1)) <= CAST(0.2 AS DOUBLE)) AS quality_ok
            FROM g
        """,
        "lang_id": f"""
            WITH t AS (
              SELECT doc_id,
                     list_transform(list_filter(string_split_regex(text, '\\s+'),
                                                x -> x != ''), x -> lower(x)) AS toks
              FROM documents),
            s AS (SELECT doc_id, {lang_score_cols} FROM t)
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CASE WHEN best['score'] > 0 THEN best['lang'] ELSE 'und' END AS lang_pred
            FROM (SELECT doc_id, list_max([{lang_structs}]) AS best FROM s)
        """,
        "content_fingerprint": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(toks[1:64],
                         t -> CAST(CAST(concat('0x', substr(md5(t), 1, 7)) AS UBIGINT) AS BIGINT))),
                     (a, b) -> (a * 31 + b) % 2147483647) AS content_fp
            FROM (SELECT doc_id,
                         list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
                  FROM documents)
        """,
        "unigram_logprob": """
            WITH toks AS (
              SELECT doc_id, lower(unnest(list_filter(
                         string_split_regex(text, '\\s+'), x -> x != ''))) AS tok
              FROM documents),
            vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
            tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab)
            SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
                   CAST(SUM(CAST(ROUND(ln(CAST(v.cnt AS DOUBLE)
                                          / CAST(tot.total AS DOUBLE)) * 1e6)
                            AS BIGINT)) AS BIGINT) AS logprob_scaled,
                   COUNT(*) AS n_toks
            FROM toks t JOIN vocab v USING (tok), tot
            GROUP BY t.doc_id
        """,
        "tfidf_top_terms": """
            WITH toks AS (
              SELECT doc_id, lower(unnest(list_filter(
                         string_split_regex(text, '\\s+'), x -> x != ''))) AS tok
              FROM documents),
            tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
            dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
            nd AS (SELECT COUNT(*) AS n_docs FROM documents),
            scored AS (
              SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
                     CAST(ROUND(tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
                                * 1e6) AS BIGINT) AS tfidf_scaled
              FROM tf JOIN dfreq USING (tok), nd)
            SELECT CAST(doc_id AS BIGINT) AS doc_id, tok, tf, df, tfidf_scaled,
                   CAST(rank AS INT) AS rank
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY tfidf_scaled DESC, tok) AS rank
                  FROM scored)
            WHERE rank <= 3
        """,
        "tfidf_pruned": """
            WITH toks AS (
              SELECT doc_id, lower(unnest(list_filter(
                         string_split_regex(text, '\\s+'), x -> x != ''))) AS tok
              FROM documents),
            tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
            dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
                      HAVING COUNT(*) >= 2),
            nd AS (SELECT COUNT(*) AS n_docs FROM documents),
            scored AS (
              SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
                     CAST(ROUND(tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
                                * 1e6) AS BIGINT) AS tfidf_scaled
              FROM tf JOIN dfreq USING (tok), nd)
            SELECT CAST(doc_id AS BIGINT) AS doc_id, tok, tf, df, tfidf_scaled,
                   CAST(rank AS INT) AS rank
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY tfidf_scaled DESC, tok) AS rank
                  FROM scored)
            WHERE rank <= 3
        """,
        "url_canon": """
            -- inputs are planted (same concat on both sides); the expected
            -- canonical is stated in closed form per shape
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
              CASE doc_id % 6
                WHEN 0 THEN 'HTTPS://WWW.Site' || (doc_id % 20) || '.COM:443/page/'
                            || doc_id || '/?utm_source=feed&id=' || doc_id || '&fbclid=xyz#top'
                WHEN 1 THEN 'http://site' || (doc_id % 20) || '.com:80/'
                WHEN 2 THEN 'http://site' || (doc_id % 20) || '.com:8080/a/' || doc_id || '/'
                WHEN 3 THEN 'https://site' || (doc_id % 20) || '.com'
                WHEN 4 THEN 'https://Site' || (doc_id % 20) || '.com/A/b?b=2&a=1&utm_campaign=' || doc_id
                ELSE 'notaurl:' || doc_id
              END AS url,
              CASE doc_id % 6
                WHEN 0 THEN 'https://www.site' || (doc_id % 20) || '.com/page/'
                            || doc_id || '?id=' || doc_id
                WHEN 1 THEN 'http://site' || (doc_id % 20) || '.com/'
                WHEN 2 THEN 'http://site' || (doc_id % 20) || '.com:8080/a/' || doc_id
                WHEN 3 THEN 'https://site' || (doc_id % 20) || '.com/'
                WHEN 4 THEN 'https://site' || (doc_id % 20) || '.com/A/b?b=2&a=1'
                ELSE NULL
              END AS canonical_url
            FROM documents
        """,
        "incremental_dedup": _incremental_oracle_sql(16, 4, 3),
        "image_dhash": _dhash_oracle_sql(),
        "pagerank": _pagerank_oracle_sql(),
        "pagerank_dangling": _pagerank_oracle_sql(src_mod=15, dangling=True),
        "phase_trace": _phase_trace_oracle_sql(),
        "pq_topk": _pq_oracle_sql(),
        "ivfadc_topk": _ivfadc_oracle_sql(),
        "ivf_topk": _ivf_fixed_oracle_sql(),
        "compression_ratio": _compression_ratio_oracle_sql(),
        "gopher_rules": _gopher_oracle_sql(),
        "c4_clean": _C4_ORACLE_SQL,
        "surt_keys": _SURT_ORACLE_SQL,
        "wet_roundtrip": _WET_ORACLE_SQL,
        "gopher_repetition": _gopher_repetition_oracle_sql(),
        "corpus_datacard": _datacard_oracle_sql(),
        "anchor_text": _ANCHOR_ORACLE_SQL,
        "script_profile": _SCRIPT_ORACLE_SQL,
        "lm_buckets": _LM_ORACLE_SQL,
        "lm_buckets_pruned": _lm_oracle_sql(min_count=2),
        "head_meta": _HEAD_META_ORACLE_SQL,
        "frontier_priority": _FRONTIER_PRIORITY_ORACLE_SQL,
        "media_frames_webp": """
            -- the media_frames closed form over the WebP container
            -- (same palette/geometry; dispose-to-background uses the
            -- ANIM background color (200,210,220) -- numerically the
            -- same constants as the GIF fixture's bg palette slot):
            -- frame 0 = 256*pal[c0]; k>=1 = 192*pal[c0] + 64*pal[ck]
            -- (keep / opaque blend) or 192*bg + 64*pal[ck] (dispose,
            -- every 5th doc); c0 = doc_id%3, ck = (doc_id+k)%3
            WITH ks AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(k)),
            f AS (SELECT doc_id, k, 2 + doc_id % 3 AS n,
                         CAST(doc_id % 3 AS INT) AS c0,
                         CAST((doc_id + k) % 3 AS INT) AS ck,
                         doc_id % 5 = 0 AS d2
                  FROM documents CROSS JOIN ks
                  WHERE k < 2 + doc_id % 3)
            SELECT 'mediawebpfr:' || printf('%09d', doc_id) AS url,
                   CAST(k AS INT) AS frame_idx, CAST(n AS INT) AS n_frames,
                   16 AS height, 16 AS width,
                   CAST(CASE WHEN k = 0 THEN 256 * [10,40,70][c0 + 1]
                        WHEN d2 THEN 192 * 200 + 64 * [10,40,70][ck + 1]
                        ELSE 192 * [10,40,70][c0 + 1]
                             + 64 * [10,40,70][ck + 1] END AS BIGINT)
                       AS sum_r,
                   CAST(CASE WHEN k = 0 THEN 256 * [20,50,80][c0 + 1]
                        WHEN d2 THEN 192 * 210 + 64 * [20,50,80][ck + 1]
                        ELSE 192 * [20,50,80][c0 + 1]
                             + 64 * [20,50,80][ck + 1] END AS BIGINT)
                       AS sum_g,
                   CAST(CASE WHEN k = 0 THEN 256 * [30,60,90][c0 + 1]
                        WHEN d2 THEN 192 * 220 + 64 * [30,60,90][ck + 1]
                        ELSE 192 * [30,60,90][c0 + 1]
                             + 64 * [30,60,90][ck + 1] END AS BIGINT)
                       AS sum_b,
                   TRUE AS decode_ok
            FROM f
            ORDER BY url, frame_idx
        """,
        "media_frames": """
            -- closed-form per-frame channel sums (see q_media_frames):
            -- pal = [[10,20,30],[40,50,60],[70,80,90],[200,210,220]],
            -- frame 0 = 256*pal[c0]; k>=1 = 192*pal[c0] + 64*pal[ck]
            -- (disposal 1) or 192*pal[3] + 64*pal[ck] (disposal 2,
            -- every 5th doc); c0 = doc_id%3, ck = (doc_id+k)%3
            WITH ks AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(k)),
            f AS (SELECT doc_id, k, 2 + doc_id % 3 AS n,
                         CAST(doc_id % 3 AS INT) AS c0,
                         CAST((doc_id + k) % 3 AS INT) AS ck,
                         doc_id % 5 = 0 AS d2
                  FROM documents CROSS JOIN ks
                  WHERE k < 2 + doc_id % 3)
            SELECT 'mediaframes:' || printf('%09d', doc_id) AS url,
                   CAST(k AS INT) AS frame_idx, CAST(n AS INT) AS n_frames,
                   16 AS height, 16 AS width,
                   CAST(CASE WHEN k = 0 THEN 256 * [10,40,70][c0 + 1]
                        WHEN d2 THEN 192 * 200 + 64 * [10,40,70][ck + 1]
                        ELSE 192 * [10,40,70][c0 + 1]
                             + 64 * [10,40,70][ck + 1] END AS BIGINT)
                       AS sum_r,
                   CAST(CASE WHEN k = 0 THEN 256 * [20,50,80][c0 + 1]
                        WHEN d2 THEN 192 * 210 + 64 * [20,50,80][ck + 1]
                        ELSE 192 * [20,50,80][c0 + 1]
                             + 64 * [20,50,80][ck + 1] END AS BIGINT)
                       AS sum_g,
                   CAST(CASE WHEN k = 0 THEN 256 * [30,60,90][c0 + 1]
                        WHEN d2 THEN 192 * 220 + 64 * [30,60,90][ck + 1]
                        ELSE 192 * [30,60,90][c0 + 1]
                             + 64 * [30,60,90][ck + 1] END AS BIGINT)
                       AS sum_b,
                   TRUE AS decode_ok
            FROM f
            ORDER BY url, frame_idx
        """,
        "dedup_decisions": """
            -- planted maker families -> every score closed-form (see
            -- q_dedup_decisions): r=20 exact key; 21 token-set perm
            -- (100); 22 near token (92.5 boosted); 23 partial (45,
            -- below 85); 24 disjoint (5); 25 fallback hit at another
            -- vintage (100, max-key tie-break 'ffff|1919'); >=26
            -- fallback miss (0)
            WITH v AS (SELECT doc_id % 50 AS r FROM documents
                       WHERE doc_id % 50 >= 20)
            SELECT CASE WHEN r = 20 THEN 'tttt|1920'
                        WHEN r = 21 THEN 'rr pp|1921'
                        WHEN r = 22 THEN 'mmmmmmmc|1922'
                        WHEN r = 23 THEN 'aaaa ccccccccccc|1923'
                        WHEN r = 24 THEN 'eeeeeeee|1924'
                        WHEN r = 25 THEN 'ffff|1925'
                        ELSE 'zzzz|' || (1900 + r) END AS custom_id,
                   CASE WHEN r = 20 THEN 'seen-exact'
                        WHEN r IN (21, 22, 25) THEN 'seen-fuzzy'
                        ELSE 'not seen' END AS decision,
                   CASE WHEN r = 20 THEN 'tttt|1920'
                        WHEN r = 21 THEN 'pp rr|1921'
                        WHEN r = 22 THEN 'mmmmmmmb|1922'
                        WHEN r = 25 THEN 'ffff|1919'
                        ELSE NULL END AS matched_key,
                   CAST(CASE WHEN r IN (20, 21, 25) THEN 100.0
                             WHEN r = 22 THEN 92.5
                             WHEN r = 23 THEN 45.0
                             WHEN r = 24 THEN 5.0
                             ELSE 0.0 END AS DOUBLE) AS match_score
            FROM v ORDER BY custom_id
        """,
        "crawl_cycle": _crawl_cycle_oracle_sql(),
        "crawl_cycle_funnel": _crawl_cycle_funnel_oracle_sql(),
        "crawl_cycle_sitemap": _crawl_cycle_oracle_sql(_CRAWL_SITEMAP_ARMS),
        "frontier_schedule": """
            -- closed-form schedule: host = doc_id%10, per-host seq =
            -- doc_id//10 + 1 (zero-padded paths make url order = doc
            -- order), delay 500*(k+1) for hosts h0-h4 else 1000,
            -- worker = md5-hash flavor of the host mod 16
            SELECT 'https://h' || (doc_id % 10) || '.com/p/'
                       || printf('%09d', doc_id) AS url,
                   'h' || (doc_id % 10) || '.com' AS host,
                   CAST(doc_id // 10 + 1 AS INT) AS seq,
                   CAST(CAST(CAST(concat('0x', substr(md5(
                         'h' || (doc_id % 10) || '.com' || '#0'), 1, 15))
                         AS UBIGINT) AS BIGINT) % 16 AS INT) AS worker,
                   CAST(CASE WHEN doc_id % 10 < 5
                             THEN 500 * (doc_id % 10 + 1)
                             ELSE 1000 END AS BIGINT) AS delay_ms,
                   CAST((doc_id // 10) *
                        CASE WHEN doc_id % 10 < 5
                             THEN 500 * (doc_id % 10 + 1)
                             ELSE 1000 END AS BIGINT) AS fetch_offset_ms
            FROM documents
            ORDER BY url
        """,
        "outlinks_resolved": """
            -- planted (base, href) shapes; resolved URLs stated
            -- closed-form (no RFC 3986 logic in SQL). Pages doc_id%4=0
            -- carry <base href="/b/">, which redirects the relative and
            -- query-only hrefs but not absolute/protocol-relative ones.
            WITH b AS (
              SELECT doc_id,
                     'https://ex' || (doc_id % 5) || '.com' AS root,
                     'https://ex' || (doc_id % 5) || '.com/dir/sub/page'
                       || doc_id || '.html' AS url,
                     doc_id % 4 = 0 AS hasbase
              FROM documents)
            SELECT * FROM (
              SELECT url AS src, 'x/../y' || doc_id || '.html' AS href,
                     root || CASE WHEN hasbase THEN '/b/'
                                  ELSE '/dir/sub/' END
                          || 'y' || doc_id || '.html' AS resolved
              FROM b
              UNION ALL
              SELECT url, '/abs/' || doc_id, root || '/abs/' || doc_id
              FROM b
              UNION ALL
              SELECT url, '//cdn' || (doc_id % 3) || '.com/lib.js',
                     'https://cdn' || (doc_id % 3) || '.com/lib.js'
              FROM b
              UNION ALL
              SELECT url, '?q=' || doc_id,
                     CASE WHEN hasbase THEN root || '/b/?q=' || doc_id
                          ELSE url || '?q=' || doc_id END
              FROM b
              UNION ALL
              SELECT url, 'bare' || (doc_id % 3) || '.html',
                     root || CASE WHEN hasbase THEN '/b/'
                                  ELSE '/dir/sub/' END
                          || 'bare' || (doc_id % 3) || '.html'
              FROM b)
            ORDER BY src, href
        """,
        "robots_gate": """
            -- planted robots per host class; expected verdict closed-form:
            -- h0: /private/ disallowed except /private/ok...; h1: all
            -- disallowed; h2: empty robots; h3 (keyed h3.com:8080 in the
            -- rules table - normalization certified): /tmp/ disallowed;
            -- h4: no robots row; h5: Disallow /*.pdf$ + Allow /docs/keep*
            -- (specificity 11 beats 7) + Disallow /docs/; h6: mid-pattern
            -- Disallow /a/*/secret, anchored /public/x$ (so /public/x/more
            -- stays allowed) and /priv$ (never matches /private/x).
            -- URLs carry :443 ports on doc_id%3=0 (host normalization).
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   'https://h' || (doc_id % 7) || '.com' ||
                   CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END ||
                   CASE doc_id % 8
                     WHEN 0 THEN '/public/x'
                     WHEN 1 THEN '/private/x'
                     WHEN 2 THEN '/private/ok/x'
                     WHEN 3 THEN '/tmp/z'
                     WHEN 4 THEN '/docs/keep/file.pdf'
                     WHEN 5 THEN '/docs/old/file.pdf'
                     WHEN 6 THEN '/a/b/secret'
                     ELSE '/public/x/more'
                   END AS url,
                   CASE
                     WHEN doc_id % 7 = 1 THEN FALSE
                     WHEN doc_id % 7 = 0 AND doc_id % 8 = 1 THEN FALSE
                     WHEN doc_id % 7 = 3 AND doc_id % 8 = 3 THEN FALSE
                     WHEN doc_id % 7 = 5 AND doc_id % 8 = 5 THEN FALSE
                     WHEN doc_id % 7 = 6 AND doc_id % 8 IN (0, 6)
                       THEN FALSE
                     ELSE TRUE
                   END AS allowed
            FROM documents
            ORDER BY doc_id
        """,
        "outlinks": """
            WITH base AS (
              SELECT doc_id,
                     'doc:' || doc_id AS url,
                     '<p>t</p><a href="https://site' || (doc_id % 20)
                     || '.com/x/' || doc_id || '">1</a><A HREF=''https://site'
                     || ((doc_id * 3) % 20) || '.com/y''>2</A>'
                     || '<a href="#s">n</a><a href="/rel/' || doc_id
                     || '">r</a><a href=/bare/' || doc_id || '>u</a>'
                     || '<area shape="rect" href="/map/'
                     || ((doc_id * 3) % 20) || '">'
                     || '<abbr href="no">z</abbr><basefont href="/bf/">'
                        AS html
              FROM documents)
            SELECT url AS src,
                   unnest(list_transform(regexp_extract_all(html,
                     '<(?i:a|area)\\s(?:[^>]*\\s)?(?i:href)\\s*=\\s*("[^"#][^"]*"|''[^''#][^'']*''|[^\\s"''>#][^\\s>]*)',
                     1),
                     v -> CASE WHEN v[1] = '"' OR v[1] = ''''
                               THEN v[2:-2] ELSE v END)) AS href
            FROM base
            ORDER BY src, href
        """,
        "audio_features": """
            SELECT 'audio:' || printf('%09d', doc_id) AS url,
                   8192 AS sample_rate,
                   2048 AS n_samples,
                   CAST(32 + doc_id % 64 AS INT) AS dominant_bin,
                   CAST((32 + doc_id % 64) * 8000 AS BIGINT) AS dominant_freq_mhz,
                   TRUE AS decode_ok
            FROM documents
            ORDER BY url
        """,
        "audio_resample": """
            -- windowed-sinc 8192→4096: tone bin doubles, physical Hz
            -- unchanged, 2048 samples → exactly 1024
            SELECT 'audio:' || printf('%09d', doc_id) AS url,
                   4096 AS sample_rate,
                   1024 AS n_samples,
                   CAST(2 * (32 + doc_id % 64) AS INT) AS dominant_bin,
                   CAST((32 + doc_id % 64) * 8000 AS BIGINT) AS dominant_freq_mhz,
                   TRUE AS decode_ok
            FROM documents
            ORDER BY url
        """,
        "audio_spectrogram": """
            -- Hann STFT frames: 2048 samples, n_fft 1024, hop 512 → 3
            -- frames, each dominated by the planted tone bin
            SELECT 'audio:' || printf('%09d', doc_id) AS url,
                   8192 AS sample_rate,
                   3 AS n_frames,
                   [CAST(32 + doc_id % 64 AS INT),
                    CAST(32 + doc_id % 64 AS INT),
                    CAST(32 + doc_id % 64 AS INT)] AS dominant_bins,
                   TRUE AS decode_ok
            FROM documents
            ORDER BY url
        """,
        "audio_dedup": """
            -- 64 tone bins shared across 500 docs → 64 content-dup
            -- groups with closed-form membership
            SELECT [CAST(32 + doc_id % 64 AS INT),
                    CAST(32 + doc_id % 64 AS INT),
                    CAST(32 + doc_id % 64 AS INT)] AS dominant_bins,
                   CAST(COUNT(*) AS BIGINT) AS n_dups,
                   MIN('audio:' || printf('%09d', doc_id)) AS canonical_id,
                   list('audio:' || printf('%09d', doc_id)
                        ORDER BY 'audio:' || printf('%09d', doc_id)) AS members
            FROM documents
            GROUP BY 1
            ORDER BY canonical_id
        """,
        "quality_classifier": """
            -- md5-flavor hashed uni+bi-gram buckets; weight(b) = b%2001-1000
            WITH t AS (
              SELECT doc_id, list_transform(list_filter(
                         string_split_regex(text, '\\s+'), x -> x != ''),
                     s -> lower(s)) AS t
              FROM documents),
            grams AS (
              SELECT doc_id, unnest(list_concat(t,
                       CASE WHEN len(t) >= 2
                            THEN list_transform(generate_series(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i+1])
                            ELSE [] END)) AS g
              FROM t),
            b AS (
              SELECT doc_id,
                     CAST(CAST(concat('0x', substr(md5(concat(g, '#0')), 1, 15))
                          AS UBIGINT) AS BIGINT) % 65536 AS bucket
              FROM grams),
            agg AS (SELECT doc_id, bucket, COUNT(*) AS cnt
                    FROM b GROUP BY doc_id, bucket),
            sc AS (SELECT doc_id,
                          CAST(SUM(cnt * ((bucket % 2001) - 1000)) AS BIGINT)
                              AS logit_scaled,
                          CAST(COUNT(*) AS BIGINT) AS n_features
                   FROM agg GROUP BY doc_id)
            SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                   COALESCE(n_features, 0) AS n_features,
                   COALESCE(logit_scaled, 0) AS logit_scaled,
                   COALESCE(logit_scaled, 0) > 0 AS keep
            FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
            ORDER BY doc_id
        """,
        "exact_substring": """
            -- duplicated 8-token windows (grouped by the gram itself —
            -- the Spark side verifies by full gram, so flavors agree),
            -- merged per doc via gaps-and-islands
            WITH t AS (
              SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                         x -> x != '') AS toks
              FROM documents),
            pos AS (
              SELECT doc_id, unnest(generate_series(1, len(toks) - 7)) AS pos,
                     toks
              FROM t WHERE len(toks) >= 8),
            g AS (SELECT doc_id, pos,
                         array_to_string(toks[pos:pos+7], ' ') AS gram
                  FROM pos),
            dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
            seeds AS (SELECT doc_id, pos FROM g
                      WHERE gram IN (SELECT gram FROM dup)),
            brk AS (
              SELECT doc_id, pos,
                     CASE WHEN pos <= MAX(pos + 8) OVER (
                              PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                          THEN 0 ELSE 1 END AS is_new
              FROM seeds),
            isl AS (SELECT doc_id, pos,
                           SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos)
                               AS grp
                    FROM brk)
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(MIN(pos) AS INT) AS start,
                   CAST(MAX(pos) + 8 AS INT) AS "end"
            FROM isl GROUP BY doc_id, grp
            ORDER BY doc_id, start
        """,
        "text_fix": """
            -- planted broken inputs; expected clean text in closed form
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
              CASE doc_id % 4
                WHEN 0 THEN 'caf\u00e9 d\u00e9j\u00e0 vu'
                WHEN 1 THEN '\u201cquote\u201d \u2019s \u2013 \u2014 \u2026'
                WHEN 2 THEN 'abc de f'
                ELSE 'plain text'
              END AS fixed
            FROM documents
            ORDER BY doc_id
        """,
        "blocklist_filter": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
              CASE doc_id % 6
                WHEN 0 THEN 'HTTPS://WWW.Site' || (doc_id % 20)
                            || '.COM:443/page/' || doc_id
                WHEN 5 THEN 'notaurl:' || doc_id
                ELSE 'https://site' || (doc_id % 20) || '.com/p/' || doc_id
              END AS url
            FROM documents
            WHERE doc_id % 6 = 5 OR doc_id % 20 NOT IN (3, 6, 11)
            ORDER BY doc_id
        """,
        "chunk_documents": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
              FROM documents),
            c AS (
              SELECT doc_id, len(toks) AS n, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 64, 0) + 56, 56)) AS s
              FROM t)
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST((s - 1) / 56 AS INT) AS chunk_idx,
                   md5(array_to_string(toks[s:s+63], ' ')) AS chunk_fp,
                   CAST(LEAST(n - s + 1, 64) AS INT) AS n_tokens
            FROM c
        """,
        "pack_sequences": """
            WITH t AS (
              SELECT doc_id,
                     len(list_filter(string_split_regex(text, '\\s+'),
                                     x -> x != '')) AS n_tok
              FROM documents)
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(n_tok AS BIGINT) AS n_tokens,
                   CAST(FLOOR((SUM(n_tok) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                               - n_tok) / 512.0) AS BIGINT) AS bin_id
            FROM t
        """,
        "pii_redaction": _pii_oracle_sql(),
        "training_funnel": f"""
            WITH f AS (
              SELECT doc_id, text, lang, length(text) AS n,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                     length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS punct
              FROM documents),
            s1 AS (SELECT * FROM f
                   WHERE n >= 25 AND (alpha / GREATEST(n, 1)) >= CAST(0.5 AS DOUBLE)
                     AND (punct / GREATEST(n, 1)) <= CAST(0.2 AS DOUBLE)),
            s2 AS (SELECT * FROM s1 WHERE lang = 'en'),
            s3 AS (SELECT MIN(doc_id) AS doc_id FROM s2
                   GROUP BY md5(trim(regexp_replace(text, '\\s+', ' ', 'g')))),
            s3d AS (SELECT s2.doc_id, s2.text FROM s2 JOIN s3 USING (doc_id)),
            s4 AS (
              SELECT doc_id,
                     unnest(generate_series(1, GREATEST(len(list_filter(
                         string_split_regex(text, '\\s+'), x -> x != '')) - 64, 0)
                         + 56, 56)) AS s
              FROM s3d)
            SELECT '0_corpus' AS stage, COUNT(*) AS n FROM documents
            UNION ALL SELECT '1_quality', COUNT(*) FROM s1
            UNION ALL SELECT '2_lang_en', COUNT(*) FROM s2
            UNION ALL SELECT '3_deduped', COUNT(*) FROM s3d
            UNION ALL SELECT '4_chunks', COUNT(*) FROM s4
        """,
        "repetition_stats": """
            WITH p AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0
                          THEN concat('spam line', chr(10), 'spam line', chr(10),
                                      'buy now buy now buy now', chr(10), text)
                          ELSE text END AS t
              FROM documents),
            lines AS (
              SELECT doc_id,
                     list_filter(string_split(t, chr(10)), x -> trim(x) != '') AS ls,
                     list_filter(string_split_regex(t, '\\s+'), x -> x != '') AS toks
              FROM p),
            base AS (
              SELECT doc_id,
                     CASE WHEN len(ls) > 0
                          THEN ROUND((len(ls) - len(list_distinct(ls)))
                                     / CAST(len(ls) AS DOUBLE), 6)
                          ELSE 0.0 END AS dup_line_frac,
                     CASE WHEN len(toks) >= 2
                          THEN list_transform(generate_series(1, len(toks) - 1),
                                              i -> array_to_string(toks[i:i+1], ' '))
                          ELSE [] END AS bg
              FROM lines),
            cnt AS (
              SELECT doc_id, bgx, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(bg) AS bgx FROM base)
              GROUP BY doc_id, bgx),
            agg AS (
              SELECT doc_id, MAX(c) AS top_c, CAST(SUM(c) AS BIGINT) AS total_c
              FROM cnt GROUP BY doc_id)
            SELECT CAST(b.doc_id AS BIGINT) AS doc_id, b.dup_line_frac,
                   CASE WHEN COALESCE(a.total_c, 0) > 0
                        THEN ROUND(a.top_c / CAST(a.total_c AS DOUBLE), 6)
                        ELSE 0.0 END AS top_bigram_frac
            FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
        """,
        "latest_capture": """
            WITH d AS (
              SELECT concat('https://x.example/doc/', CAST(doc_id AS VARCHAR)) AS url,
                     CAST(doc_id AS BIGINT) AS doc_id,
                     doc_id AS capture_seq,
                     substr(text, 1, 30) AS body
              FROM documents),
            allc AS (
              SELECT * FROM d
              UNION ALL
              SELECT url, doc_id, capture_seq + 1000000 AS capture_seq,
                     concat('RECRAWL ', body) AS body
              FROM d WHERE doc_id % 10 = 0)
            SELECT url,
                   max_by(body, capture_seq) AS body,
                   CAST(MAX(capture_seq) AS BIGINT) AS latest_seq,
                   COUNT(*) AS n_captures
            FROM allc GROUP BY url
        """,
        "exact_dedup": """
            SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id
            FROM documents
            GROUP BY md5(trim(regexp_replace(text, '\\s+', ' ', 'g')))
        """,
        "minhash_lsh": _minhash_oracle_sql(),
        "near_dup_components": f"""
            WITH RECURSIVE
            mh AS (SELECT id_a, id_b FROM ({_minhash_oracle_sql()}) t),
            edges AS (SELECT id_a AS src, id_b AS dst FROM mh
                      UNION SELECT id_b, id_a FROM mh),
            reach(id, label) AS (
              SELECT DISTINCT src AS id, src AS label FROM edges
              UNION
              SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id)
            SELECT CAST(id AS BIGINT) AS doc_id,
                   CAST(MIN(label) AS BIGINT) AS component
            FROM reach GROUP BY id
        """,
        "curation_funnel": f"""
            -- the capstone's per-stage survivor counts re-derived from
            -- documents.text (extraction is byte-faithful, so the rendered
            -- pages' extracted text IS documents.text). Counts are
            -- representative-independent: duplicates share one token
            -- sequence (whitespace-normalized equality), so WHICH member
            -- survives exact dedup cannot change the MinHash pair set or
            -- the component count.
            WITH RECURSIVE
            cf_feat AS (
              SELECT doc_id, text, length(text) AS n,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                     list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
              FROM documents),
            cf_q AS (
              SELECT doc_id, text, len(toks) AS ntok,
                     CAST(0.4 AS DOUBLE) * LEAST(n / CAST(500.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
                     + CAST(0.3 AS DOUBLE) * (alpha / GREATEST(n, 1))
                     + CAST(0.3 AS DOUBLE) * LEAST(
                         (len(list_intersect(list_transform(toks, t -> lower(t)),
                                             [{qstop_sql}])) / GREATEST(len(toks), 1))
                         * CAST(3.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) AS quality
              FROM cf_feat),
            cf_cand AS (
              SELECT doc_id, text FROM cf_q
              WHERE quality >= CAST(0.3 AS DOUBLE) AND ntok >= 10),
            cf_uniq AS (
              SELECT MIN(doc_id) AS doc_id, MIN(text) AS text
              FROM cf_cand
              GROUP BY md5(trim(regexp_replace(text, '\\s+', ' ', 'g')))),
            cf_mh AS (
              SELECT id_a, id_b
              FROM ({_minhash_oracle_sql(32, 8, 3, 0.85, src="cf_uniq")}) t),
            cf_edges AS (SELECT id_a AS src, id_b AS dst FROM cf_mh
                         UNION SELECT id_b, id_a FROM cf_mh),
            cf_reach(id, label) AS (
              SELECT DISTINCT src AS id, src AS label FROM cf_edges
              UNION
              SELECT e.src, r.label FROM cf_edges e JOIN cf_reach r ON e.dst = r.id),
            cf_losers AS (SELECT id FROM cf_reach GROUP BY id HAVING MIN(label) != id)
            SELECT CAST(stage_idx AS INT) AS stage_idx, stage,
                   CAST(n_docs AS BIGINT) AS n_docs
            FROM (
              SELECT 0 AS stage_idx, 'pages' AS stage,
                     (SELECT COUNT(*) FROM documents) AS n_docs
              UNION ALL SELECT 1, 'candidates', (SELECT COUNT(*) FROM cf_cand)
              UNION ALL SELECT 2, 'unique', (SELECT COUNT(*) FROM cf_uniq)
              UNION ALL SELECT 3, 'canonical',
                     (SELECT COUNT(*) FROM cf_uniq) - (SELECT COUNT(*) FROM cf_losers)
            )
        """,
        "rp_lsh_topk": _rp_lsh_oracle_sql(),
        "simhash_fingerprints": _simhash_oracle_sql(),
        "simhash_pairs": _simhash_pairs_oracle_sql(),
        "duplicate_passages": _winnow_oracle_sql(),
        "lexical_diversity": """
            -- grouped-count twin of the sorted-array boundary walk; ratios
            -- as exact integer ppm (floor division, no float seams)
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS tk
              FROM documents),
            grp AS (
              SELECT doc_id, tok, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
              GROUP BY doc_id, tok),
            agg AS (
              SELECT doc_id, SUM(c) AS n, COUNT(*) AS d,
                     SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS h
              FROM grp GROUP BY doc_id)
            SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
                   CAST(COALESCE(a.n, 0) AS BIGINT) AS n_tokens,
                   CAST(COALESCE(a.d, 0) AS BIGINT) AS n_distinct,
                   CASE WHEN COALESCE(a.n, 0) > 0
                        THEN CAST((a.d * 1000000) // a.n AS BIGINT) END AS ttr_ppm,
                   CASE WHEN COALESCE(a.d, 0) > 0
                        THEN CAST((a.h * 1000000) // a.d AS BIGINT) END AS hapax_ppm
            FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
        """,
        "stratified_sample": """
            -- md5-bucket twin of stratified_sample(oracle_safe=True):
            -- keep iff uint32(md5(lang:id)[0:8]) < frac * 2^32
            SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
            FROM documents
            WHERE CAST(CAST(concat('0x', substr(md5(concat(lang, ':',
                       CAST(doc_id AS VARCHAR))), 1, 8)) AS UBIGINT) AS BIGINT)
                  < CASE lang  -- int(frac * 2^32), truncated like Python
                      WHEN 'en' THEN 1503238553
                      WHEN 'de' THEN 4294967296
                      WHEN 'fr' THEN 2147483648
                      WHEN 'zh' THEN 1073741824
                      ELSE 0 END
        """,
        "paragraph_dedup": """
            -- CCNet paragraph dedup twin: same planted boilerplate, same
            -- md5 paragraph keys, >=2-distinct-doc boilerplate rule, docs
            -- rebuilt in paragraph order (string_agg ORDER BY pos)
            WITH corpus AS (
              SELECT doc_id,
                     text ||
                     CASE WHEN doc_id % 7 = 0 THEN chr(10) ||
                          'subscribe to our newsletter for daily updates'
                          ELSE '' END ||
                     CASE WHEN doc_id % 11 = 0 THEN chr(10) ||
                          'copyright example corp all rights reserved'
                          ELSE '' END AS text
              FROM documents),
            sp AS (SELECT doc_id, string_split(text, chr(10)) AS ps FROM corpus),
            paras AS (
              SELECT doc_id, CAST(pos AS INT) AS pos,
                     trim(ps[CAST(pos AS INT)]) AS para
              FROM (SELECT doc_id, ps,
                           unnest(generate_series(1, len(ps))) AS pos
                    FROM sp)),
            keyed AS (
              SELECT doc_id, pos, para, md5(para) AS k
              FROM paras WHERE para != ''),
            boiler AS (
              SELECT k FROM keyed GROUP BY k
              HAVING COUNT(DISTINCT doc_id) >= 2),
            kept AS (
              SELECT * FROM keyed WHERE k NOT IN (SELECT k FROM boiler)),
            reb AS (
              SELECT doc_id,
                     string_agg(para, chr(10) ORDER BY pos) AS clean_text,
                     COUNT(*) AS n
              FROM kept GROUP BY doc_id)
            SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                   md5(COALESCE(r.clean_text, '')) AS clean_fp,
                   CAST(COALESCE(r.n, 0) AS BIGINT) AS n_paragraphs_kept
            FROM documents d LEFT JOIN reb r ON d.doc_id = r.doc_id
        """,
        "decontamination": """
            -- benchmark-overlap twin: distinct word 8-grams per doc (docs
            -- under 8 tokens contribute their whole text as one gram,
            -- mirroring shingles()), benchmark = every 97th doc
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS tk
              FROM documents),
            dg AS (
              SELECT DISTINCT doc_id, g FROM (
                SELECT doc_id,
                       CASE WHEN len(tk) >= 8
                            THEN array_to_string(
                                 tk[CAST(i AS INT):CAST(i AS INT) + 7], ' ')
                            ELSE array_to_string(tk, ' ') END AS g
                FROM (SELECT doc_id, tk,
                             unnest(generate_series(1, GREATEST(len(tk) - 7, 1))) AS i
                      FROM toks))),
            bg AS (SELECT DISTINCT g FROM dg WHERE doc_id % 97 = 0),
            hits AS (
              SELECT dg.doc_id, COUNT(*) AS nh
              FROM dg JOIN bg USING (g) GROUP BY dg.doc_id)
            SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                   CAST(COALESCE(h.nh, 0) AS BIGINT) AS contaminated_ngrams,
                   COALESCE(h.nh, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        """,
        "embedding_near_dup": _near_dup_oracle_sql(),
        "embedding_quantized": """
            WITH base AS (
              SELECT vec_id,
                     list_transform(embedding, x -> round(CAST(x AS DOUBLE), 3)) AS e
              FROM embeddings),
            m AS (SELECT vec_id, e,
                         list_max(list_transform(e, x -> abs(x))) AS mx
                  FROM base)
            SELECT CAST(vec_id AS BIGINT) AS vec_id,
                   md5(array_to_string(
                       CASE WHEN mx > 0
                            THEN list_transform(e, x -> CAST(round(x * 127.0 / mx) AS INT))
                            ELSE list_transform(e, x -> 0) END, ',')) AS q_fp,
                   CAST(round(mx * 1000) AS BIGINT) AS scale_mill
            FROM m
        """,
        "media_features": """
            -- recomputes the expected decode of the synthetic
            -- PNG/JPEG/animated-WebP payloads straight from doc_id (the
            -- fixture makes dims a pure function of it); feature_fp
            -- mirrors header_features' int basis; every 9th doc is an
            -- animated WebP whose ANMF walk must report 1+doc_id%4
            SELECT concat('media:', CAST(doc_id AS VARCHAR)) AS url,
                   CASE WHEN doc_id % 9 = 0 THEN 'webp'
                        WHEN doc_id % 2 = 0 THEN 'png'
                        ELSE 'jpeg' END AS media_type,
                   CAST(16 + doc_id % 240 AS INT) AS width,
                   CAST(16 + (doc_id * 7) % 240 AS INT) AS height,
                   CAST(3 AS INT) AS channels,
                   CAST(CASE WHEN doc_id % 9 = 0 THEN 1 + doc_id % 4
                             ELSE 1 END AS INT) AS n_frames,
                   TRUE AS decode_ok,
                   CAST(NULL AS VARCHAR) AS error,
                   md5(array_to_string(list_transform(generate_series(0, 15),
                       i -> CAST(((16 + doc_id % 240) * (i + 3)
                                  + (16 + (doc_id * 7) % 240) * (i + 7)
                                  + 3 * (i + 1)) % 255 AS VARCHAR)), ',')) AS feature_fp
            FROM documents
        """,
        "media_pixels": """
            -- closed-form expected pixel stats of the solid-color raster
            -- fixture: means are exactly the planted channel values, stds
            -- and gradients exactly zero (any unfilter bug breaks this)
            SELECT concat('mediapx:', CAST(doc_id AS VARCHAR)) AS url,
                   CAST(8 + doc_id % 24 AS INT) AS width,
                   CAST(8 + (doc_id * 7) % 24 AS INT) AS height,
                   CAST(3 AS INT) AS channels,
                   TRUE AS decode_ok,
                   CAST(doc_id % 256 AS INT) AS mean_r,
                   CAST((doc_id * 3) % 256 AS INT) AS mean_g,
                   CAST((doc_id * 7) % 256 AS INT) AS mean_b,
                   CAST(0 AS INT) AS std_r_e5,
                   CAST(0 AS INT) AS grad_row_e5
            FROM documents
        """,
        "bpe_real_tokens": """
            -- closed-form BPE counts: every sentence repetition is 12
            -- tokens / 3 'low's (low-er, low, low-est) / 8 distinct
            -- values; the appended
            -- doc_id digits are one token each (no digit merges) and
            -- add their distinct-digit count
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(12 * (doc_id % 5 + 1)
                        + length(CAST(doc_id AS VARCHAR)) AS INT)
                       AS n_tokens,
                   CAST(3 * (doc_id % 5 + 1) AS INT) AS n_low,
                   CAST(8 + len(list_distinct(string_split(
                        CAST(doc_id AS VARCHAR), ''))) AS INT)
                       AS n_distinct
            FROM documents
            ORDER BY doc_id
        """,
        "bpe_train": _bpe_train_oracle_sql(),
        "lang_id_model": _lang_id_model_oracle_sql(),
        "pack_sequences_ffd": _pack_ffd_oracle_sql(),
        "wat_sidecar": """
            -- closed-form expected WAT envelope fields: header echo of
            -- url + ISO date, title absent on every 7th doc, doc_id%3
            -- outlinks
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   'https://w' || (doc_id % 9) || '.com/p/' || doc_id AS url,
                   'https://w' || (doc_id % 9) || '.com/p/' || doc_id
                       AS hdr_uri,
                   strftime(TIMESTAMP '2025-01-01 00:00:00'
                            + doc_id * INTERVAL 1 SECOND,
                            '%Y-%m-%dT%H:%M:%SZ') AS wdate,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE 'Doc ' || doc_id END AS title,
                   CAST(doc_id % 3 AS INT) AS n_links
            FROM documents
            ORDER BY doc_id
        """,
        "media_webp_lossy": _WEBP_LOSSY_ORACLE_SQL,
        "warc_revisit": _warc_revisit_oracle_sql(),
        "media_mp4_meta": """
            -- closed-form mvhd/tkhd metadata from doc_id; every 9th
            -- doc is truncated -> parse_ok=false with NULL fields
            SELECT 'mediamp4:' || printf('%09d', doc_id) AS url,
                   CASE WHEN doc_id % 9 != 0
                        THEN CAST(16 * (2 + doc_id % 9) AS INT) END
                       AS width,
                   CASE WHEN doc_id % 9 != 0
                        THEN CAST(16 * (1 + doc_id % 7) AS INT) END
                       AS height,
                   CASE WHEN doc_id % 9 != 0
                        THEN CAST(1000 + (doc_id * 37) % 9000 AS BIGINT)
                       END AS duration_ms,
                   CASE WHEN doc_id % 9 != 0 THEN CAST(1 AS INT) END
                       AS n_video_tracks,
                   doc_id % 9 != 0 AS parse_ok
            FROM documents
            ORDER BY url
        """,
        "media_pixels_webp": """
            -- closed-form expected pixel stats of the solid-color
            -- VP8L fixture: means are exactly the planted color, stds
            -- and gradients exactly zero (any bitreader/prefix-code/
            -- container-walk bug breaks this)
            SELECT concat('mediawebp:', printf('%09d', doc_id)) AS url,
                   CAST(8 + doc_id % 24 AS INT) AS width,
                   CAST(8 + (doc_id * 7) % 24 AS INT) AS height,
                   CAST(3 AS INT) AS channels,
                   TRUE AS decode_ok,
                   CAST(doc_id % 256 AS INT) AS mean_r,
                   CAST((doc_id * 3) % 256 AS INT) AS mean_g,
                   CAST((doc_id * 7) % 256 AS INT) AS mean_b,
                   CAST(0 AS INT) AS std_r_e5,
                   CAST(0 AS INT) AS grad_row_e5
            FROM documents
            ORDER BY url
        """,
        "media_pixels_gif": """
            -- closed-form expected pixel stats of the solid-color GIF
            -- fixture: means are exactly the planted palette color,
            -- stds and gradients exactly zero (any LZW/palette/
            -- extension-walk bug breaks this)
            SELECT concat('mediagif:', CAST(doc_id AS VARCHAR)) AS url,
                   CAST(8 + doc_id % 24 AS INT) AS width,
                   CAST(8 + (doc_id * 7) % 24 AS INT) AS height,
                   CAST(3 AS INT) AS channels,
                   TRUE AS decode_ok,
                   CAST(doc_id % 256 AS INT) AS mean_r,
                   CAST((doc_id * 3) % 256 AS INT) AS mean_g,
                   CAST((doc_id * 7) % 256 AS INT) AS mean_b,
                   CAST(0 AS INT) AS std_r_e5,
                   CAST(0 AS INT) AS grad_row_e5
            FROM documents
        """,
        "media_pixels_jpeg": """
            -- closed-form expected pixel stats of the solid-gray JPEG
            -- fixture at quality 100 (all quantizers 1, so uniform
            -- rasters decode exactly): means are the planted gray value
            -- (0 for the channels a grayscale image lacks), stds and
            -- gradients exactly zero
            SELECT concat('mediajpg:', CAST(doc_id AS VARCHAR)) AS url,
                   CAST(8 + doc_id % 24 AS INT) AS width,
                   CAST(8 + (doc_id * 7) % 24 AS INT) AS height,
                   CAST(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 3 END AS INT)
                       AS channels,
                   TRUE AS decode_ok,
                   CAST(doc_id % 256 AS INT) AS mean_c0,
                   CAST(CASE WHEN doc_id % 3 = 2 THEN 0
                             ELSE doc_id % 256 END AS INT) AS mean_c1,
                   CAST(CASE WHEN doc_id % 3 = 2 THEN 0
                             ELSE doc_id % 256 END AS INT) AS mean_c2,
                   CAST(0 AS INT) AS std_c0_e5,
                   CAST(0 AS INT) AS grad_row_e5
            FROM documents
        """,
        "media_pixels_jpeg_prog": """
            -- identical closed-form regime to media_pixels_jpeg (solid
            -- gray at quality 100 decodes exactly) — only the payload's
            -- scan structure differs, which is exactly what the gate
            -- certifies
            SELECT concat('mediajpgp:', CAST(doc_id AS VARCHAR)) AS url,
                   CAST(8 + doc_id % 24 AS INT) AS width,
                   CAST(8 + (doc_id * 7) % 24 AS INT) AS height,
                   CAST(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 3 END AS INT)
                       AS channels,
                   TRUE AS decode_ok,
                   CAST(doc_id % 256 AS INT) AS mean_c0,
                   CAST(CASE WHEN doc_id % 3 = 2 THEN 0
                             ELSE doc_id % 256 END AS INT) AS mean_c1,
                   CAST(CASE WHEN doc_id % 3 = 2 THEN 0
                             ELSE doc_id % 256 END AS INT) AS mean_c2,
                   CAST(0 AS INT) AS std_c0_e5,
                   CAST(0 AS INT) AS grad_row_e5
            FROM documents
        """,
        "cosine_topk": """
            WITH r AS (SELECT vec_id,
                              list_transform(embedding, x -> round(CAST(x AS DOUBLE), 3)) AS e
                       FROM embeddings),
            q AS (SELECT vec_id AS q_id, e AS qe FROM r WHERE vec_id % 100 = 0),
            s AS (SELECT q_id, r.vec_id AS c_id,
                    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(generate_series(1, len(qe)), i -> qe[i] * e[i])),
                        (a, b) -> a + b)
                    / GREATEST(
                        sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                             list_transform(qe, x -> x * x)), (a, b) -> a + b))
                        * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                             list_transform(e, x -> x * x)), (a, b) -> a + b)),
                        CAST(1e-12 AS DOUBLE)) AS cosine
                  FROM r CROSS JOIN q)
            SELECT q_id, c_id, ROUND(cosine, 6) AS cosine, CAST(rank AS INT) AS rank
            FROM (SELECT q_id, c_id, cosine,
                         ROW_NUMBER() OVER (PARTITION BY q_id
                                            ORDER BY cosine DESC, c_id) AS rank
                  FROM s)
            WHERE rank <= 5
        """,
        "ema_final": """
            -- identical left fold: first value seeds, then 0.25*x + 0.75*ema;
            -- 0.25/0.75 are exact binary doubles, so this is bit-identical
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   ROUND(list_reduce(list(value ORDER BY ts, event_id),
                                     (a, b) -> CAST(0.25 AS DOUBLE) * b
                                             + CAST(0.75 AS DOUBLE) * a), 6) AS ema_final
            FROM events GROUP BY user_id
        """,
        "sessionize": """
            WITH g AS (
              SELECT user_id, event_id, ts,
                     epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w AS gap
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (
              SELECT user_id,
                     CAST(SUM(CASE WHEN gap IS NULL OR gap > 600000 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_seq
              FROM g)
            SELECT CAST(user_id AS BIGINT) AS user_id, session_seq,
                   COUNT(*) AS n_events
            FROM s GROUP BY user_id, session_seq
        """,
        "salted_agg": """
            -- the oracle is the DIRECT group-by: proves the salted
            -- two-phase plan is semantically identical
            SELECT l_returnflag,
                   COUNT(*) AS n_rows,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   MAX(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS max_price_cents
            FROM lineitem GROUP BY l_returnflag
        """,
        "best_variant": """
            WITH ex AS (
              SELECT doc_id, v.name AS name,
                     length(regexp_replace(v.v, '[^a-z]', '', 'g')) AS score
              FROM documents,
                   unnest([{'name': 'raw', 'v': text},
                           {'name': 'lower', 'v': lower(text)},
                           {'name': 'nospace', 'v': replace(text, ' ', '')}]) AS t(v))
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   name AS best_variant,
                   max_score AS best_score
            FROM (SELECT doc_id, name, MAX(score) OVER (PARTITION BY doc_id) AS max_score,
                         ROW_NUMBER() OVER (PARTITION BY doc_id
                                            ORDER BY score DESC, name DESC) AS rn
                  FROM ex)
            WHERE rn = 1
        """,
        "vintage_fallback_grid": """
            WITH ex AS (
              SELECT doc_id, p.prio AS prio,
                     CAST(NULLIF(regexp_extract(p.probe, '((?:19|20)[0-9]{2})', 1), '') AS INT) AS year
              FROM documents,
                   unnest([{'prio': 1, 'probe': substr(text, 1, 40)},
                           {'prio': 2, 'probe': concat('alt ', substr(text, 20, 40))},
                           {'prio': 3, 'probe': concat('fallback vintage ',
                                CAST(1900 + doc_id % 120 AS VARCHAR))}]) AS t(p)),
            hit AS (SELECT * FROM ex
                    WHERE year IS NOT NULL AND year BETWEEN 1900 AND 2030)
            SELECT CAST(doc_id AS BIGINT) AS doc_id, prio, year AS vintage
            FROM (SELECT doc_id, prio, year,
                         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY prio) AS rn
                  FROM hit)
            WHERE rn = 1
        """,
        "median_by_type": """
            SELECT event_type,
                   ROUND(quantile_cont(value, 0.5), 6) AS median_value,
                   COUNT(*) AS n
            FROM events GROUP BY event_type
        """,
        "union_names": """
            SELECT src, COUNT(*) AS n, MIN(name) AS first_name
            FROM (SELECT c_name AS name, 'customer' AS src FROM customer
                  UNION ALL
                  SELECT s_name AS name, 'supplier' AS src FROM supplier)
            GROUP BY src
        """,
    }
