"""Stage 2 — field extraction ("read") in native pyspark.sql.functions.

Everything here is JVM-side, whole-stage-codegen'd column arithmetic — no
Python. Reference analogs (SURVEY.md §2.4): maker normalization E7
(``final_run_ocr.py:353-359``), year cast E10, CustomID concat E11
(``final_run_ocr.py:436``), content-hash id E12
(``scan_and_store.py:49-52``).

The year extract E4 with its E5 fallback cascade
(``final_run_ocr.py:153-297``) and the metadata sidecar extract E15
(``QRCodeScanner.py:60-108`` analog) read inputs that only exist before
segmentation (the whole visible page, the head markup), so
``oracle.extract`` resolves them in stage 1 and they arrive here as the
``vintage`` and ``barcode`` columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..oracle import YEAR_MAX, YEAR_MIN, YEAR_PATTERNS


def normalize_maker_col(col: Column) -> Column:
    """E7 — upper, whitelist ``A-Z0-9 &'-``, collapse ws, NULL if empty."""
    s = F.upper(col)
    s = F.regexp_replace(s, r"[^A-Z0-9 &'-]", "")
    s = F.trim(F.regexp_replace(s, r"\s+", " "))
    return F.nullif(s, F.lit(""))


def custom_id_col(maker: Column, vintage: Column) -> Column:
    """E11 — ``maker|vintage`` only when both present (final_run_ocr.py:436)."""
    return F.when(
        maker.isNotNull() & vintage.isNotNull(),
        F.concat_ws("|", maker, vintage.cast("string")),
    )


def rec_id_col(key: Column) -> Column:
    """E12 — ``sha1(key)[:12]`` (scan_and_store.py:49-52)."""
    return F.when(key.isNotNull(), F.substring(F.sha1(key), 1, 12))


# buckets the reference's candidate pool skips (final_run_ocr.py:364-366)
RESERVED_RAW_BUCKETS = ("maker_name_candidates", "vintage_candidates",
                        "vintage_from_maker_region", "vintage_from_fallback")


def best_maker_from_raw(raw: Column) -> Column:
    """E9 — ``_extract_best_maker_from_raw`` (final_run_ocr.py:361-373) as
    one native column fold: pool the maker_name_candidates bucket first
    (truthiness-gated ONLY — the reference keeps any non-empty text here,
    final_run_ocr.py:362), then every non-reserved bucket in map order
    gated with ``len(strip) >= 3`` and ``!= '.'``
    (final_run_ocr.py:366-370); normalize (E7 charset); pick the longest
    with FIRST-wins tie-break (Python ``max(key=len)`` keeps the first
    maximum, so the fold only replaces on strictly-greater length)."""
    named = F.transform(F.coalesce(raw["maker_name_candidates"],
                                   F.array().cast("array<struct<text:string,conf:double>>")),
                        lambda s: s["text"])
    named = F.filter(named, lambda t: t.isNotNull() & (t != ""))
    others = F.filter(F.map_entries(raw),
                      lambda e: ~e["key"].isin(*RESERVED_RAW_BUCKETS))
    pooled = F.flatten(F.transform(
        others, lambda e: F.transform(e["value"], lambda s: s["text"])))
    gated = F.filter(pooled, lambda t: t.isNotNull()
                     & (F.length(F.trim(t)) >= 3) & (F.trim(t) != "."))
    cands = F.concat(named, gated)
    normed = F.filter(F.transform(cands, normalize_maker_col),
                      lambda t: t.isNotNull())
    return F.aggregate(
        normed, F.lit(None).cast("string"),
        lambda best, t: F.when(best.isNull()
                               | (F.length(t) > F.length(best)), t)
                         .otherwise(best))


def extract_fields(seg: DataFrame) -> DataFrame:
    """Segmented pages → typed record columns (E6 dispatch analog).

    ``vintage`` (E4/E5 cascade over main + whole-page text) and
    ``barcode`` (E15 canonical link) arrive resolved by
    ``oracle.extract`` in stage 1; their raw inputs never cross the Arrow
    boundary (see the segmentation module docstring).
    """
    out = seg.withColumn("maker_name", normalize_maker_col(F.col("title_raw")))
    out = out.withColumn("custom_id",
                         custom_id_col(F.col("maker_name"), F.col("vintage")))
    out = out.withColumn("rec_id", rec_id_col(F.col("custom_id")))
    # BlobData-analog struct (FIXTURES.md §3) assembled natively.
    out = out.withColumn(
        "blob_data",
        F.struct(
            F.when(
                F.size("spans") > 0,
                F.array(F.get("spans", 0)["start"],
                        F.get("spans", F.size("spans") - 1)["end"]),
            ).otherwise(F.array(F.lit(0), F.lit(0))).alias("roi_bbox"),
            F.array(F.col("n_blocks"), F.length("text")).alias("roi_shape"),
            F.struct(
                F.col("method").alias("method"),
                (F.length("text") /
                 F.greatest(F.col("raw_chars"), F.lit(1))).alias("foreground_ratio"),
                F.col("charset").alias("note"),
            ).alias("mask_info"),
            F.col("kept_blocks").alias("blob_count"),
            F.col("fingerprint").alias("fingerprint"),
            F.col("spans").alias("spans"),
        ),
    )
    # `raw` candidate buckets — the ocr_raw analog (final_run_ocr.py:325-340,
    # persisted in cellar.jsonl): MAP<bucket, ARRAY<STRUCT<text, conf>>>.
    # Buckets: the raw title candidate, every in-range year candidate (conf =
    # pattern priority, 1.0 primary / 0.5 fallback), and the top block texts
    # scored by the block scorer.
    year_cands = F.filter(
        F.transform(
            F.regexp_extract_all("text", F.lit(YEAR_PATTERNS[1]), 1),
            lambda x: F.struct(x.alias("text"), F.lit(1.0).alias("conf"))),
        lambda s: (s["text"].cast("int") >= YEAR_MIN)
        & (s["text"].cast("int") <= YEAR_MAX))
    block_cands = F.transform(
        F.slice(F.col("spans"), 1, 3),
        lambda s: F.struct(
            F.substring("text", s["start"] + 1, F.lit(40)).alias("text"),
            s["score"].alias("conf")))
    out = out.withColumn(
        "raw",
        F.create_map(
            F.lit("title"),
            F.array(F.struct(F.coalesce(F.col("title_raw"), F.lit(""))
                             .alias("text"), F.lit(1.0).alias("conf"))),
            F.lit("year_candidates"), year_cands,
            F.lit("blocks"), block_cands,
        ))
    return out


RECORD_COLUMNS = ["url", "warc_ts", "custom_id", "maker_name", "vintage",
                  "barcode", "fingerprint", "rec_id", "text", "lang",
                  "blob_data", "raw"]


def to_records(extracted: DataFrame) -> DataFrame:
    """Final record projection (FIXTURES.md §2 / WineTracker.py:22-29 analog)."""
    return extracted.select(*RECORD_COLUMNS)
