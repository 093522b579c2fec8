"""D8 two-view stitch tests (Photo_Stitch.py analog)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wine_label_ocr_spark.fixtures import pages_spark
from wine_label_ocr_spark.plans.pipeline import extract_records
from wine_label_ocr_spark.operators.stitch import stitch_views


def test_stitch_rebases_offsets(spark):
    seg = extract_records(pages_spark(spark, 20, partitions=2)) \
        .withColumn("doc_key", F.regexp_extract("url", r"/p/(\d+)\.html", 1)) \
        .select("doc_key", "text", "blob_data.spans").cache()
    out = stitch_views(seg, seg).collect()
    assert len(out) == 20
    by_key = {r["doc_key"]: r for r in out}
    src = {r["doc_key"]: r for r in seg.collect()}
    for k, r in by_key.items():
        s = src[k]
        # text = front ⊕ \n\n ⊕ back
        assert r["text"] == s["text"] + "\n\n" + s["text"]
        assert len(r["spans"]) == 2 * len(s["spans"])
        n = len(s["spans"])
        if n:
            # back spans re-based past the seam; slices still line up
            off = len(s["text"]) + 2
            assert r["spans"][n]["start"] == s["spans"][0]["start"] + off
            first_back = r["spans"][n]
            assert (r["text"][first_back["start"]:first_back["end"]]
                    == s["text"][s["spans"][0]["start"]:s["spans"][0]["end"]])


def test_stitch_requires_both_views(spark):
    seg = extract_records(pages_spark(spark, 10, partitions=2)) \
        .withColumn("doc_key", F.regexp_extract("url", r"/p/(\d+)\.html", 1)) \
        .select("doc_key", "text", "blob_data.spans")
    front = seg
    back = seg.limit(4)
    # inner join: only keys with both captures survive (Photo_Stitch.py:251-427)
    assert stitch_views(front, back).count() == 4
