"""End-to-end extraction plan: pages → records.

The Spark restatement of the reference's flagship pipeline
``WineTracker.run()`` (SURVEY.md §3.1): one lazy DataFrame program — the
``segmentation.segment`` ``mapInArrow`` emits the finished record in a
single task (no shuffle anywhere in the extract path), then an explicit
append action. The reference's disk-path handoff between stages
(``Photo_Stitch.py:403-423`` → ``WineTracker.py:42,46``) disappears
entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.segmentation import segment


def extract_records(pages: DataFrame) -> DataFrame:
    """The flagship query.

    The extract path is a pure map, so it inherits the scan's
    partitioning and adds no shuffle. A caller whose *output* table needs
    a specific layout repartitions the result itself.
    """
    return segment(pages)
