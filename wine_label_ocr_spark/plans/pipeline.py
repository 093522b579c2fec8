"""End-to-end extraction plan: pages → spans → fields → records.

The Spark restatement of the reference's flagship pipeline
``WineTracker.run()`` (SURVEY.md §3.1): one lazy DataFrame program —
stage-1 segmentation ``mapInArrow`` pipelined with stage-2 native
extraction in a single task (no shuffle anywhere in the extract path),
then an explicit append action. The reference's disk-path handoff between
stages (``Photo_Stitch.py:403-423`` → ``WineTracker.py:42,46``)
disappears entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.extraction import extract_fields, to_records
from ..operators.segmentation import segment


def extract_records(pages: DataFrame, repartition: int | None = None) -> DataFrame:
    """The flagship query.

    ``repartition`` (url-hash layout, SURVEY.md §4) is optional and off by
    default: the extract path is a pure map, so inheriting the scan's
    partitioning avoids a shuffle. Set it only when the *output* table
    needs a specific layout (e.g. before a bucketed write).
    """
    df = pages
    if repartition:
        df = df.repartition(repartition, F.xxhash64("url"))
    return to_records(extract_fields(segment(df)))
