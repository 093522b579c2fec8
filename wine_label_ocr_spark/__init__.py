"""wine_label_ocr_spark — a PySpark-native main-content extraction engine.

A from-scratch re-imagination of the capabilities of
``SrikarG30/wine-label-ocr`` (reference at /root/reference, read-only):
its detect-then-read structure (YOLO region detection + OCR field
extraction + fuzzy dedup against a JSONL store) becomes a two-stage DOM
pipeline over tables of Common-Crawl-style web pages
``(url, warc_ts, html, text, lang)``:

* stage 1: lexer-built block list with text-density / link-density
  features (the analog of ``hybrid.py:102-146`` heuristic region
  detection + ``hybrid.py:189-227`` connected components);
* stage 2: block classification + field extraction (title ≈ maker name,
  year ≈ vintage; the analog of ``final_run_ocr.py:299-378``);
* both stages are ``oracle.extract`` + ``oracle.record``, run by one
  ``mapInArrow`` over Arrow batches (``operators.segmentation.segment``)
  that emits the finished record;
* dedup ingest (``operators.dedupe``): exact key, then blocked fuzzy
  (the analog of ``scan_and_store.py:121-164``);
* similarity suite (``operators.similarity``): the analog of
  ``similarity_functions/*``.

Everything is DataFrame-first; heavy per-document work is vectorized
pandas/Arrow UDFs (no per-row Python UDFs anywhere).
"""

import os as _os

__version__ = "0.1.0"

# Inside a Spark Python worker (the daemon exports the factory secret to
# every worker it forks), stop each task start from re-parsing pyspark.zip.
if "PYTHON_WORKER_FACTORY_SECRET" in _os.environ:
    from wine_label_ocr_spark import _zipdir

    _zipdir.install()
