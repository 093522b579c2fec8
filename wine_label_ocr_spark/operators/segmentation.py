"""The extract stage: segmentation and field extraction (the "detect"
and the "read" of detect-then-read) in one ``mapInArrow``.

One ``mapInArrow`` over Arrow batches turns each page ``(url, warc_ts,
html BINARY, lang)`` into its finished record (``RECORD_DDL``, FIXTURES.md
§2): extracted main ``text``, every record field (maker name, year
cascade over the whole visible page, custom and content-hash ids,
canonical-link metadata from the head markup), the ``blob_data`` struct
with the candidate spans and their geometry features, and the ``raw``
candidate buckets.

Reference analogs (SURVEY.md §2.3): heuristic region detect D2
(``hybrid.py:102-146``), connected-component labeling D4
(``hybrid.py:189-227``), binarization D5 (``hybrid.py:172-187``),
charset/rotation search D7 (``hybrid.py:148-170``), the E5 fallback
cascade (``final_run_ocr.py:187-297``: main text first, whole page on
miss), and the PDF/layout branch (SURVEY.md §2.11). The UDF *shares the
oracle's code path* — one implementation of the lexer/gate/cascade/
record fields/fingerprint exists in the repo (SURVEY.md §7.3.1), and
every computed column is a key of ``oracle.record(oracle.extract(..))``,
so Spark output is byte-identical by construction, verified by golden
tests.

Scale notes:

* the UDF is a pure map — no shuffle is introduced, and no projection
  is needed above it;
* the Arrow output is deliberately SLIM: the full visible text and the
  raw head markup stay inside ``oracle.extract`` and never cross the
  boundary — only their resolved products (``vintage``, ``barcode``,
  ``raw_chars``) do. Measured: dropping those two ~2 KB columns cut
  pipeline wall 1.8× at local[32];
* per-executor cost is O(bytes); partitioning is inherited from the scan.
"""

from __future__ import annotations

import functools
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

from ..oracle import extract, record

SPAN_DDL = ("array<struct<start:int,`end`:int,tag:string,cx:double,cy:double,"
            "area:double,aspect_ratio:double,solidity:double,extent:double,"
            "score:double>>")

RECORD_DDL = (
    "url string, warc_ts timestamp, custom_id string, maker_name string, "
    "vintage int, barcode string, fingerprint string, rec_id string, "
    "text string, lang string, blob_data struct<roi_bbox:array<int>,"
    "roi_shape:array<int>,mask_info:struct<method:string,"
    "foreground_ratio:double,note:string>,blob_count:int,fingerprint:string,"
    f"spans:{SPAN_DDL}>, raw map<string,array<struct<text:string,"
    "conf:double>>>"
)

# input columns carried through unchanged; every other RECORD_DDL column
# is the ``oracle.record`` key of the same name
_PASSED = ("url", "warc_ts", "lang")


def _segment_batches_arrow(schema, batches: Iterable) -> Iterator:
    """Arrow-native extraction kernel: ``oracle.record(oracle.extract(..))``
    per row, then a transpose of the records into ``schema``
    (``RECORD_DDL`` as Arrow).

    The kernel builds the output ``pyarrow.RecordBatch`` itself — one
    ``pa.array`` C-level conversion per column, nested structs straight
    from the oracle's dicts — because the ``mapInPandas`` form it replaced
    paid ~160 µs/doc of pure boundary overhead on a ~260 µs/doc kernel
    (measured at r10 on the bench corpus): one Python tuple per row, a
    ``pd.DataFrame`` transpose per batch, and Spark's pandas→Arrow
    coercion of the nested ``spans`` column on the way back.
    """
    import pyarrow as pa

    # resolved once: a pyarrow Field builds a new str on every ``.name``
    columns = [(f.name, f.type) for f in schema]
    for batch in batches:
        hcss = (batch.column("http_charset").to_pylist()
                if "http_charset" in batch.schema.names
                else [None] * batch.num_rows)
        recs = [record(extract(html or b"", url, hcs)) for url, html, hcs
                in zip(batch.column("url").to_pylist(),
                       batch.column("html").to_pylist(), hcss)]
        yield pa.RecordBatch.from_arrays(
            [batch.column(name) if name in _PASSED else
             pa.array([r[name] for r in recs], typ)
             for name, typ in columns],
            names=schema.names)


def segment(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, lang[, text][, http_charset]) → records
    (``RECORD_DDL``).

    The ground-truth ``text`` column (if present) is dropped first — the
    pipeline must *recover* it, never read it.
    """
    schema = to_arrow_schema(DataType.fromDDL(RECORD_DDL))
    cols = [c for c in ("url", "warc_ts", "html", "lang", "http_charset")
            if c in pages.columns]
    return pages.select(*cols).mapInArrow(
        functools.partial(_segment_batches_arrow, schema), schema=RECORD_DDL)
