"""D8 — two-view stitch: combine two representations of one document.

The reference captures FRONT and BACK views of a bottle and hstacks them
into one composite before extraction (``stitchedImagePath``,
``Photo_Stitch.py:179-434``; ``stitch_horizontal`` :124-132). The web
analog: the same document observed twice (two crawls, a mirror, raw html
+ a rendered snapshot) is merged into one logical record — a self-join
on the stitch key followed by span concatenation with re-based offsets,
exactly how ``stitch_horizontal`` offsets the second image by the first
image's width.

Pure column algebra: one shuffle on the stitch key, then `transform`
re-bases the second view's span offsets by the first view's text length
(+2 for the "\\n\\n" seam) and `concat` merges.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _rebase(spans: Column, offset: Column) -> Column:
    return F.transform(
        spans,
        lambda s: F.struct(
            (s["start"] + offset).alias("start"),
            (s["end"] + offset).alias("end"),
            s["tag"].alias("tag"), s["cx"].alias("cx"), s["cy"].alias("cy"),
            s["area"].alias("area"), s["aspect_ratio"].alias("aspect_ratio"),
            s["solidity"].alias("solidity"), s["extent"].alias("extent"),
            s["score"].alias("score")))


def stitch_views(front: DataFrame, back: DataFrame,
                 key: str = "doc_key") -> DataFrame:
    """Merge two extracted views per key into one stitched record.

    Inputs: frames with (``key``, text, spans), e.g. ``extract_records``
    output with ``blob_data.spans`` selected.
    Output: one row per key present in BOTH views (the reference requires
    both captures before proceeding, Photo_Stitch.py:251-427) with
    ``text`` = front ⊕ "\\n\\n" ⊕ back and spans concatenated, back's
    offsets re-based past the seam.
    """
    f = front.select(F.col(key).alias("_k"),
                     F.col("text").alias("_tf"),
                     F.col("spans").alias("_sf"))
    b = back.select(F.col(key).alias("_k"),
                    F.col("text").alias("_tb"),
                    F.col("spans").alias("_sb"))
    j = f.join(b, "_k")  # inner: both views required
    offset = F.length("_tf") + F.lit(2)
    return j.select(
        F.col("_k").alias(key),
        F.concat_ws("\n\n", "_tf", "_tb").alias("text"),
        F.concat(F.col("_sf"), _rebase(F.col("_sb"), offset)).alias("spans"),
        F.size("_sf").alias("n_spans_front"),
        F.size("_sb").alias("n_spans_back"))
