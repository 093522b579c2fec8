"""Former stage 2 (field extraction), kept only as two pass-throughs.

The record is finished in one stage: ``segmentation.segment`` emits every
record column, computed by ``oracle.extract`` and packed by
``oracle.record``. ``extract_fields`` and ``to_records`` remain because the
benchmark's layer ledger (``perfbench/ledger.py``) imports them, and that
ledger is not edited outside a benchmark change; no other caller uses them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def extract_fields(seg: DataFrame) -> DataFrame:
    """Pass-through: ``segment`` output is already the finished record."""
    return seg


def to_records(extracted: DataFrame) -> DataFrame:
    """Pass-through: ``segment`` output is already the finished record."""
    return extracted
