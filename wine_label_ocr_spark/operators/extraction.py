"""Stage 2 — field extraction ("read"): a reshape with no field logic.

Every record value is computed once, by ``oracle.extract`` in stage 1
(SURVEY.md §7.3 risk 1): maker normalization E7
(``final_run_ocr.py:353-359``), the year extract E4 with its E5 fallback
cascade (``final_run_ocr.py:153-297``) and its candidate list, CustomID
E11 (``final_run_ocr.py:436``), content-hash id E12
(``scan_and_store.py:49-52``) and the metadata sidecar E15
(``QRCodeScanner.py:60-108`` analog). They arrive here as columns; stage
2 only packs them into the ``blob_data`` and ``raw`` structs, JVM-side.

Stage 2 is SQL text (``_FIELDS_SQL``) because one ``selectExpr`` is one
py4j round trip and one analysis, where every ``pyspark.sql.functions``
Column builder is a round trip and every ``withColumn`` an analysis
(~1,000 round trips, ~0.2 s of driver wall per build on a 4-CPU host).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..oracle import MAKER_STRIP

_WS = r"\s+"


def normalize_maker_col(col: Column) -> Column:
    """E7 — upper, whitelist ``A-Z0-9 &'-``, collapse ws, NULL if empty."""
    s = F.upper(col)
    s = F.regexp_replace(s, MAKER_STRIP, "")
    s = F.trim(F.regexp_replace(s, _WS, " "))
    return F.nullif(s, F.lit(""))


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


# Stage-2 columns in output order.
_FIELDS_SQL = (
    # BlobData-analog struct (FIXTURES.md §3)
    "named_struct("
    "'roi_bbox', CASE WHEN size(spans) > 0 THEN array(get(spans, 0).start, "
    "get(spans, size(spans) - 1).`end`) ELSE array(0, 0) END, "
    "'roi_shape', array(n_blocks, length(text)), "
    "'mask_info', named_struct('method', method, 'foreground_ratio', "
    "length(text) / greatest(raw_chars, 1), 'note', charset), "
    "'blob_count', kept_blocks, 'fingerprint', fingerprint, 'spans', spans"
    ") AS blob_data",
    # `raw` candidate buckets, the ocr_raw analog (final_run_ocr.py:325-340):
    # the raw title, every in-range year candidate and the top 3 blocks
    "map('title', array(named_struct('text', coalesce(title_raw, ''), "
    "'conf', 1.0D)), "
    "'year_candidates', "
    "transform(year_candidates, x -> named_struct('text', x, 'conf', 1.0D)), "
    "'blocks', transform(slice(spans, 1, 3), s -> named_struct("
    "'text', substring(text, s.start + 1, 40), 'conf', s.score))"
    ") AS raw",
)


def extract_fields(seg: DataFrame) -> DataFrame:
    """Segmented pages → record columns plus the ``blob_data`` and ``raw``
    structs (E6 dispatch analog).

    One ``selectExpr`` of ``_FIELDS_SQL``: one py4j round trip and one
    analysis, not one per ``withColumn`` and Column builder. Every field
    value (``maker_name``, ``vintage``, ``year_candidates``, ``custom_id``,
    ``rec_id``, ``barcode``) arrives resolved by ``oracle.extract`` in
    stage 1 and passes through unchanged.
    """
    return seg.selectExpr("*", *_FIELDS_SQL)


RECORD_COLUMNS = ["url", "warc_ts", "custom_id", "maker_name", "vintage",
                  "barcode", "fingerprint", "rec_id", "text", "lang",
                  "blob_data", "raw"]


def to_records(extracted: DataFrame) -> DataFrame:
    """Final record projection (FIXTURES.md §2 / WineTracker.py:22-29 analog)."""
    return extracted.selectExpr(*RECORD_COLUMNS)
