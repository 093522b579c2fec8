"""Stage 1 — document segmentation (the "detect" of detect-then-read).

One ``mapInArrow`` over Arrow batches turns each page ``(url, warc_ts,
html BINARY, lang)`` into its segmented form: extracted main ``text``,
candidate span structs with geometry features, and the fields whose
inputs only exist pre-segmentation (year cascade over the whole visible
page, canonical-link metadata from the head markup).

Reference analogs (SURVEY.md §2.3): heuristic region detect D2
(``hybrid.py:102-146``), connected-component labeling D4
(``hybrid.py:189-227``), binarization D5 (``hybrid.py:172-187``),
charset/rotation search D7 (``hybrid.py:148-170``), the E5 fallback
cascade (``final_run_ocr.py:187-297``: main text first, whole page on
miss), and the PDF/layout branch (SURVEY.md §2.11). The UDF *shares the
oracle's code path* — one implementation of the lexer/gate/cascade/
fingerprint exists in the repo (SURVEY.md §7.3.1), so Spark output is
byte-identical by construction, verified by golden tests.

Scale notes:

* the UDF is a pure map — no shuffle is introduced; Catalyst pipelines it
  with downstream native projections into one stage;
* the Arrow output is deliberately SLIM: the full visible text
  (``raw_text``) and raw head markup are consumed inside the kernel and
  never serialized — only their resolved products (``vintage``,
  ``barcode``, ``raw_chars``) cross the boundary. Measured: dropping
  those two ~2 KB columns cut pipeline wall 1.8× at local[32]. The
  native-expression forms of the same extractions
  (``extraction.year_from``, ``extraction.barcode_col``) remain in the
  library and are oracle-checked by the ``year_extract`` /
  ``vintage_fallback_grid`` gate queries;
* per-executor cost is O(bytes); partitioning is inherited from the scan
  (or an explicit ``repartition(n, xxhash64(url))`` for layout).
"""

from __future__ import annotations

import re
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame

from ..oracle import extract

SPAN_DDL = ("array<struct<start:int,`end`:int,tag:string,cx:double,cy:double,"
            "area:double,aspect_ratio:double,solidity:double,extent:double,"
            "score:double>>")

SEGMENT_DDL = (
    "url string, warc_ts timestamp, lang string, "
    "text string, title_raw string, vintage int, barcode string, "
    "method string, charset string, n_blocks int, kept_blocks int, "
    f"raw_chars int, fingerprint string, spans {SPAN_DDL}"
)

# E15 — same pattern as extraction.barcode_col (kept in sync by
# tests/test_pipeline.py::test_fields_match_oracle)
_CANONICAL_RE = re.compile(r'<link\s+rel="canonical"\s+href="([^"]+)"')


def _segment_batches_arrow(batches: Iterable) -> Iterator:
    """Arrow-native segmentation kernel (guide §4.1/§4.2).

    The ``mapInPandas`` form it replaced paid ~160 µs/doc of pure boundary
    overhead on a ~260 µs/doc kernel (measured at r10 on the bench
    corpus): one Python tuple per row, a ``pd.DataFrame`` transpose per
    batch, and Spark's pandas→Arrow coercion of the nested ``spans``
    column on the way back. This form builds the output
    ``pyarrow.RecordBatch`` directly — flat per-column Python lists, one
    ``pa.array`` C-level conversion each. Every column equals
    ``oracle.extract`` run per row outside Spark (pinned by
    tests/test_r10_optimizations.py::test_segment_matches_oracle_extract).
    """
    import pyarrow as pa

    span_type = pa.list_(pa.struct([
        ("start", pa.int32()), ("end", pa.int32()),
        ("tag", pa.string()), ("cx", pa.float64()),
        ("cy", pa.float64()), ("area", pa.float64()),
        ("aspect_ratio", pa.float64()), ("solidity", pa.float64()),
        ("extent", pa.float64()), ("score", pa.float64())]))
    for batch in batches:
        names = batch.schema.names
        urls = batch.column(names.index("url")).to_pylist()
        htmls = batch.column(names.index("html")).to_pylist()
        hcss = (batch.column(names.index("http_charset")).to_pylist()
                if "http_charset" in names else [None] * len(urls))
        n = len(urls)
        texts = [None] * n
        titles = [None] * n
        vintages = [None] * n
        barcodes = [None] * n
        methods = [None] * n
        charsets = [None] * n
        n_blocks = [0] * n
        kept_blocks = [0] * n
        raw_chars = [0] * n
        fps = [None] * n
        spans_col: list = [None] * n
        search_canonical = _CANONICAL_RE.search
        for i in range(n):
            payload = htmls[i]
            if payload is None:
                payload = b""
            hcs = hcss[i]
            r = extract(payload, urls[i], None if hcs is None else str(hcs))
            m = search_canonical(r["head_raw"]) if r["head_raw"] else None
            texts[i] = r["text"]
            titles[i] = r["title"]
            vintages[i] = r["year"]
            barcodes[i] = m.group(1) if m else None
            methods[i] = r["method"]
            charsets[i] = r["charset"]
            n_blocks[i] = r["n_blocks"]
            kept_blocks[i] = r["kept_blocks"]
            raw_chars[i] = len(r["raw_text"])
            fps[i] = r["fingerprint"]
            spans_col[i] = [
                (s["start"], s["end"], s["tag"], s["cx"], s["cy"], s["area"],
                 s["aspect_ratio"], s["solidity"], s["extent"], s["score"])
                for s in r["spans"]]
        yield pa.RecordBatch.from_arrays(
            [batch.column(names.index("url")),
             batch.column(names.index("warc_ts")),
             batch.column(names.index("lang")),
             pa.array(texts, pa.string()),
             pa.array(titles, pa.string()),
             pa.array(vintages, pa.int32()),
             pa.array(barcodes, pa.string()),
             pa.array(methods, pa.string()),
             pa.array(charsets, pa.string()),
             pa.array(n_blocks, pa.int32()),
             pa.array(kept_blocks, pa.int32()),
             pa.array(raw_chars, pa.int32()),
             pa.array(fps, pa.string()),
             pa.array(spans_col, span_type)],
            names=["url", "warc_ts", "lang", "text", "title_raw", "vintage",
                   "barcode", "method", "charset", "n_blocks", "kept_blocks",
                   "raw_chars", "fingerprint", "spans"])


def segment(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, lang[, text]) → segmented DataFrame.

    The ground-truth ``text`` column (if present) is dropped first — the
    pipeline must *recover* it, never read it.
    """
    cols = [c for c in ("url", "warc_ts", "html", "lang", "http_charset")
            if c in pages.columns]
    return pages.select(*cols).mapInArrow(_segment_batches_arrow,
                                          schema=SEGMENT_DDL)
