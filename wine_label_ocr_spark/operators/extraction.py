"""Stage 2 — field extraction ("read") as native Spark SQL expressions.

Everything here is JVM-side, whole-stage-codegen'd column arithmetic — no
Python. Reference analogs (SURVEY.md §2.4): maker normalization E7
(``final_run_ocr.py:353-359``), year cast E10, CustomID concat E11
(``final_run_ocr.py:436``), content-hash id E12
(``scan_and_store.py:49-52``).

Stage 2 is SQL text (``_FIELDS_SQL``) because one ``selectExpr`` is one
py4j round trip and one analysis, where every ``pyspark.sql.functions``
Column builder is a round trip and every ``withColumn`` an analysis
(~1,000 round trips, ~0.2 s of driver wall per build on a 4-CPU host).
``_sql_str`` quotes its string literals from the oracle's constants.

The year extract E4 with its E5 fallback cascade
(``final_run_ocr.py:153-297``) and the metadata sidecar extract E15
(``QRCodeScanner.py:60-108`` analog) read inputs that only exist before
segmentation (the whole visible page, the head markup), so
``oracle.extract`` resolves them in stage 1 and they arrive here as the
``vintage`` and ``barcode`` columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..oracle import MAKER_STRIP, YEAR_MAX, YEAR_MIN, YEAR_PATTERNS

_WS = r"\s+"


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal under the default parser
    (``spark.sql.parser.escapedStringLiterals=false``: backslash escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


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


# Stage-2 columns in output order; ``custom_id`` and ``rec_id`` read the
# ``maker_name`` and ``custom_id`` of the same list (lateral column aliases).
_FIELDS_SQL = (
    # E7 — upper, whitelist ``A-Z0-9 &'-``, collapse ws, NULL if empty
    f"nullif(trim(regexp_replace(regexp_replace(upper(title_raw), "
    f"{_sql_str(MAKER_STRIP)}, ''), {_sql_str(_WS)}, ' ')), '') AS maker_name",
    # E11 — ``maker|vintage`` only when both present (final_run_ocr.py:436)
    "CASE WHEN maker_name IS NOT NULL AND vintage IS NOT NULL "
    "THEN concat_ws('|', maker_name, CAST(vintage AS STRING)) END AS custom_id",
    # E12 — ``sha1(key)[:12]`` (scan_and_store.py:49-52)
    "CASE WHEN custom_id IS NOT NULL "
    "THEN substring(sha1(custom_id), 1, 12) END AS rec_id",
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
    # the raw title, every in-range year candidate and the top 3 blocks.
    # The year pattern needs a literal "19" or "20", so the oracle's own
    # substring probe gates the regex (NULL text still gives NULL).
    "map('title', array(named_struct('text', coalesce(title_raw, ''), "
    "'conf', 1.0D)), "
    "'year_candidates', IF(text IS NULL OR contains(text, '19') "
    "OR contains(text, '20'), filter(transform("
    f"regexp_extract_all(text, {_sql_str(YEAR_PATTERNS[1])}, 1), "
    "x -> named_struct('text', x, 'conf', 1.0D)), "
    f"s -> CAST(s.text AS INT) >= {YEAR_MIN} "
    f"AND CAST(s.text AS INT) <= {YEAR_MAX}), array()), "
    "'blocks', transform(slice(spans, 1, 3), s -> named_struct("
    "'text', substring(text, s.start + 1, 40), 'conf', s.score))"
    ") AS raw",
)


def extract_fields(seg: DataFrame) -> DataFrame:
    """Segmented pages → typed record columns (E6 dispatch analog).

    One ``selectExpr`` of ``_FIELDS_SQL``: one py4j round trip and one
    analysis, not one per ``withColumn`` and Column builder.

    ``vintage`` (E4/E5 cascade over main + whole-page text) and
    ``barcode`` (E15 canonical link) arrive resolved by
    ``oracle.extract`` in stage 1; their raw inputs never cross the Arrow
    boundary (see the segmentation module docstring).
    """
    return seg.selectExpr("*", *_FIELDS_SQL)


RECORD_COLUMNS = ["url", "warc_ts", "custom_id", "maker_name", "vintage",
                  "barcode", "fingerprint", "rec_id", "text", "lang",
                  "blob_data", "raw"]


def to_records(extracted: DataFrame) -> DataFrame:
    """Final record projection (FIXTURES.md §2 / WineTracker.py:22-29 analog)."""
    return extracted.selectExpr(*RECORD_COLUMNS)
