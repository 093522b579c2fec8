"""The traced run: per-layer metrics for every layer, whatever the workload.

One session at ``local[nproc]`` runs, in order:

* ``extract_crawl`` untraced and traced in turn: the untraced wall is the
  reference the extract layers must explain;
* ``oracle``: ``oracle.extract`` timed in this process on a fixed sample of
  the pages;
* ``sources``: the pages scan alone; ``operators.segmentation``:
  ``segment(pages)`` alone; ``operators.extraction``: stage 2 over a
  cached segment output. Segmentation includes its scan, so
  segmentation + extraction is the extract path's layer total;
* ``sources.table`` and ``plans.resumable``: one ``resume_commit`` run with
  ``ManifestTable.append`` wrapped in spans, per-bucket times from the
  checkpoint markers and scanned rows from the stage input records;
* ``operators.dedupe``: ``dedup_near`` untraced and traced in turn;
* ``session``: ``extract_crawl`` on a quarter of its pages at ``local[1]``,
  in a new session whose first job also gives the Python worker start and
  initialisation times (a warm session reuses its workers).

The tracing overhead is the traced minus the untraced wall of the
workload's own job (for ``resume_commit``: one untraced run against the
traced ``plans.resumable`` run). For ``resume_commit`` the ledger also
crashes a run after half the buckets, resumes it, and requires the digest
of the uninterrupted run.

Each layer reads the workload's own input for the seed when the workload
has that kind of input, and otherwise the input of the workload that
does (``extract_crawl`` pages, ``resume_commit`` pages, ``dedup_near``
corpus), so the ledger is complete on every workload.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
from contextlib import contextmanager

import pyarrow.parquet as pq

import inputs
from harness import WORK, setup, shutdown, start_session
from measure import Tracer, input_records_since, metric_sum, run_and_harvest, stage_ids
from workloads import N_BUCKETS, Check, DedupNear, ExtractCrawl, ResumeCommit, check_table, noop

from wine_label_ocr_spark.operators.extraction import extract_fields, to_records
from wine_label_ocr_spark.operators.segmentation import segment
from wine_label_ocr_spark.oracle import extract
from wine_label_ocr_spark.sources.table import ManifestTable

ORACLE_SAMPLE = 1000
PER_LAYER_UNITS = {
    "oracle.html_us_per_doc": "us",
    "oracle.pdf_us_per_doc": "us",
    "oracle.kept_block_ratio": "ratio",
    "sources.wall_s": "s",
    "sources.scan_ms": "ms",
    "sources.scan_bytes": "bytes",
    "sources.scan_rows": "count",
    "segmentation.wall_s": "s",
    "segmentation.py_run_ms": "ms",
    "segmentation.py_start_ms": "ms",
    "segmentation.py_init_ms": "ms",
    "segmentation.bytes_to_py": "bytes",
    "segmentation.bytes_from_py": "bytes",
    "segmentation.rows_out": "count",
    "segmentation.boundary_us_per_doc": "us",
    "extraction.wall_s": "s",
    "extraction.codegen_ms": "ms",
    "extract.layer_coverage": "ratio",
    "extract.layer_gap_s": "s",
    "table.append_s": "s",
    "table.files_written": "count",
    "table.bytes_written": "bytes",
    "table.commits": "count",
    "table.stored_bytes_per_input_byte": "ratio",
    "resumable.bucket_s": "s",
    "resumable.bucket_commit_s_p50": "s",
    "resumable.bucket_commit_s_p90": "s",
    "resumable.post_append_s": "s",
    "resumable.scan_amplification": "ratio",
    "dedupe.minhash_s": "s",
    "dedupe.simhash_s": "s",
    "dedupe.py_eval_ms": "ms",
    "dedupe.shuffle_bytes": "bytes",
    "dedupe.shuffle_records": "count",
    "dedupe.candidate_pairs": "count",
    "dedupe.verified_pairs": "count",
    "dedupe.pair_yield": "ratio",
    "session.scaling_eff": "ratio",
    "trace.overhead_s": "s",
}


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _alternate(untraced, traced, tracer: Tracer, name: str) -> tuple[list[float], float]:
    """Untraced and traced runs in turn; returns untraced walls and the overhead."""
    walls = []
    for _ in range(2):
        walls.append(_timed(untraced))
        with tracer.span(name):
            traced()
    return walls, statistics.median(tracer.durations(name)) - statistics.median(walls)


def _span_s(tracer: Tracer, name: str) -> float:
    return tracer.durations(name)[-1]


def oracle_layer(inp: inputs.Input) -> dict:
    """``oracle.extract`` per document in this process, split by HTML and PDF."""
    docs: list[tuple[str, bytes]] = []
    for f in inp.files:
        t = pq.read_table(f, columns=["url", "html"])
        docs += zip(t.column("url").to_pylist(), t.column("html").to_pylist())
        if len(docs) >= ORACLE_SAMPLE:
            break
    spent = {"html": [0.0, 0], "pdf": [0.0, 0]}
    kept = blocks = 0
    for url, html in docs[:ORACLE_SAMPLE]:
        t0 = time.perf_counter()
        r = extract(html, url)
        dt = time.perf_counter() - t0
        acc = spent["pdf" if html[:5] == b"%PDF-" else "html"]
        acc[0] += dt
        acc[1] += 1
        kept += r["kept_blocks"]
        blocks += r["n_blocks"]
    return {"oracle.html_us_per_doc": 1e6 * spent["html"][0] / spent["html"][1],
            "oracle.pdf_us_per_doc": 1e6 * spent["pdf"][0] / spent["pdf"][1],
            "oracle.kept_block_ratio": kept / blocks}


def extract_layers(spark, ext: ExtractCrawl, tracer: Tracer, oracle: dict) -> dict:
    cols = [c for c in ("url", "warc_ts", "html", "lang") if c in ext.pages.columns]
    with tracer.span("sources.scan"):
        _, scan = run_and_harvest(ext.pages.select(*cols))
    with tracer.span("segmentation.segment"):
        _, seg = run_and_harvest(segment(ext.pages))
    cached = segment(ext.pages).cache()
    cached.count()
    with tracer.span("extraction.fields"):
        _, fields = run_and_harvest(to_records(extract_fields(cached)))
    cached.unpersist(blocking=True)

    rows = metric_sum(seg, "MapInArrow", "number of output rows")
    py_run_ms = metric_sum(seg, "MapInArrow", "time to run Python workers")
    n_pdf = ext.inp.meta["n_pdf"]
    kernel_us = (oracle["oracle.html_us_per_doc"] * (ext.inp.rows - n_pdf)
                 + oracle["oracle.pdf_us_per_doc"] * n_pdf) / ext.inp.rows
    return {
        "sources.wall_s": _span_s(tracer, "sources.scan"),
        "sources.scan_ms": metric_sum(scan, "Scan", "scan time"),
        "sources.scan_bytes": metric_sum(scan, "Scan", "size of files read"),
        "sources.scan_rows": metric_sum(scan, "Scan", "number of output rows"),
        "segmentation.wall_s": _span_s(tracer, "segmentation.segment"),
        "segmentation.py_run_ms": py_run_ms,
        "segmentation.bytes_to_py": metric_sum(seg, "MapInArrow", "data sent to Python workers"),
        "segmentation.bytes_from_py": metric_sum(seg, "MapInArrow",
                                                 "data returned from Python workers"),
        "segmentation.rows_out": rows,
        "segmentation.boundary_us_per_doc": 1000 * py_run_ms / max(rows, 1) - kernel_us,
        "extraction.wall_s": _span_s(tracer, "extraction.fields"),
        "extraction.codegen_ms": metric_sum(fields, "WholeStageCodegen", "duration"),
    }


@contextmanager
def traced_appends(tracer: Tracer):
    """Wrap ``ManifestTable.append`` in a span that also counts files and bytes."""
    original = ManifestTable.append

    def append(self, df, meta=None, **kw):
        with tracer.span("table.append", table=os.path.basename(self.root),
                         **(meta or {})) as sp:
            sid = original(self, df, meta=meta, **kw)
        new = next(s["new_files"] for s in self.snapshots() if s["id"] == sid)
        sp["attrs"].update(files=len(new), bytes=sum(os.path.getsize(f) for f in new))
        return sid

    ManifestTable.append = append
    try:
        yield
    finally:
        ManifestTable.append = original


def resume_layers(spark, rc: ResumeCommit, tracer: Tracer, out: str) -> tuple[dict, Check]:
    shutil.rmtree(out, ignore_errors=True)
    before = stage_ids(spark)
    t_start = time.time()
    with traced_appends(tracer), tracer.span("resumable.run", rows=rc.inp.rows):
        rc.resume_run(out)
    scanned = input_records_since(spark, before)
    marks = sorted(glob.glob(os.path.join(out, "_checkpoints", "run1", "bucket-*.json")))
    ends = [os.stat(m).st_mtime for m in marks]
    bucket_s = [b - a for a, b in zip([t_start] + ends[:-1], ends)]
    appends = [s for s in tracer.spans
               if s["name"] == "table.append" and s["start"] >= _last(tracer, "resumable.run")]
    append_by_bucket = [sum(s["end"] - s["start"] for s in appends if s["attrs"].get("bucket") == b)
                        for b in range(N_BUCKETS)]
    records = [s for s in appends if s["attrs"]["table"] == "records"]
    stored = sum(os.path.getsize(f)
                 for f in ManifestTable(os.path.join(out, "records")).current_files())
    chk = check_table(spark, out, rc.inp)
    return {
        "table.append_s": statistics.median(s["end"] - s["start"] for s in records),
        "table.files_written": sum(s["attrs"]["files"] for s in appends),
        "table.bytes_written": sum(s["attrs"]["bytes"] for s in appends),
        "table.commits": len(appends),
        "table.stored_bytes_per_input_byte": stored / rc.inp.meta["html_bytes"],
        "resumable.bucket_s": statistics.fmean(bucket_s),
        "resumable.bucket_commit_s_p50": statistics.median(bucket_s),
        "resumable.bucket_commit_s_p90": statistics.quantiles(bucket_s, n=10)[-1],
        "resumable.post_append_s": statistics.median(
            b - a for b, a in zip(bucket_s, append_by_bucket)),
        "resumable.scan_amplification": scanned / max(chk.detail["rows"], 1),
    }, chk


def _last(tracer: Tracer, name: str) -> float:
    return max(s["start"] for s in tracer.spans if s["name"] == name)


def dedupe_layers(tracer: Tracer, verified: int, nodes: list) -> dict:
    # the pairs side of the broadcast verify join carries every candidate pair
    candidates = max((m.get("number of output rows", 0) for name, m in nodes
                      if name.startswith("BroadcastExchange")), default=0)
    return {
        "dedupe.minhash_s": _span_s(tracer, "dedupe.minhash"),
        "dedupe.simhash_s": _span_s(tracer, "dedupe.simhash"),
        "dedupe.py_eval_ms": metric_sum(nodes, "ArrowEvalPython", "time to run Python workers"),
        "dedupe.shuffle_bytes": metric_sum(nodes, "Exchange", "shuffle bytes written"),
        "dedupe.shuffle_records": metric_sum(nodes, "Exchange", "shuffle records written"),
        "dedupe.candidate_pairs": candidates,
        "dedupe.verified_pairs": verified,
        "dedupe.pair_yield": verified / max(candidates, 1),
    }


def traced_run(wl_cls, inp: inputs.Input, args, n: int) -> tuple[dict, dict]:
    tracer = Tracer(f"{wl_cls.name}-seed{args.seed}")
    cache = os.path.join(WORK, "inputs")

    def input_of(cls) -> inputs.Input:
        if cls is wl_cls:
            return inp
        return inputs.load_or_make(cache, cls.name, cls.kind, args.seed,
                                   args.rows or cls.rows, n)

    pages_inp, resume_inp, corpus_inp = (input_of(c) for c in (ExtractCrawl, ResumeCommit,
                                                               DedupNear))
    items = failed = 0
    overhead = {}
    _, spark, wl = setup(wl_cls, inp, n)
    try:
        ext = wl if wl_cls is ExtractCrawl else ExtractCrawl(spark, pages_inp, WORK)
        if wl_cls is not ExtractCrawl:
            ext.warmup()
        ext_walls, overhead[ExtractCrawl] = _alternate(ext.run, lambda: ext.traced(tracer),
                                                       tracer, "extract_crawl.traced")
        metrics = oracle_layer(pages_inp)
        metrics.update(extract_layers(spark, ext, tracer, metrics))
        ext_wall = statistics.median(ext_walls)
        layers = metrics["segmentation.wall_s"] + metrics["extraction.wall_s"]
        metrics["extract.layer_coverage"] = layers / ext_wall
        metrics["extract.layer_gap_s"] = ext_wall - layers

        rc = wl if wl_cls is ResumeCommit else ResumeCommit(spark, resume_inp, WORK)
        if wl_cls is not ResumeCommit:
            rc.warmup()
        else:
            rc.before()
            untraced = _timed(rc.run)
        resume, chk = resume_layers(spark, rc, tracer, os.path.join(WORK, "ledger_resume"))
        metrics.update(resume)
        items, failed = items + chk.items, failed + chk.failed
        if wl_cls is ResumeCommit:
            overhead[ResumeCommit] = _span_s(tracer, "resumable.run") - untraced
            eq = resume_equivalence(rc, chk.detail["digest"])
            items, failed = items + 1, failed + (not eq)

        dd = wl if wl_cls is DedupNear else DedupNear(spark, corpus_inp, WORK)
        if wl_cls is not DedupNear:
            dd.warmup()
        traced_dd = []
        _, overhead[DedupNear] = _alternate(dd.run, lambda: traced_dd.append(dd.traced(tracer)),
                                            tracer, "dedup_near.traced")
        metrics.update(dedupe_layers(tracer, *traced_dd[-1]))
        metrics["trace.overhead_s"] = overhead[wl_cls]

        if wl_cls is not ResumeCommit:
            chk = wl.check()
            items, failed = items + chk.items, failed + chk.failed
        spark.stop()
        spark = start_session(1)
        one = ExtractCrawl(spark, pages_inp, WORK)
        # the first job of a fresh session is where Python workers start
        _, cold = run_and_harvest(one.query(spark.read.parquet(pages_inp.files[0])))
        metrics["segmentation.py_start_ms"] = metric_sum(cold, "MapInArrow",
                                                         "time to start Python workers")
        metrics["segmentation.py_init_ms"] = metric_sum(cold, "MapInArrow",
                                                        "time to initialize Python workers")
        # a quarter of the pages keeps the one-core pass short; rates are per row
        part = pages_inp.files[:inputs.N_FILES // 4]
        one_wall = _timed(lambda: noop(one.query(spark.read.parquet(*part))))
        one_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in part)
        metrics["session.scaling_eff"] = (pages_inp.rows / ext_wall) / (n * one_rows / one_wall)
    finally:
        shutdown(spark)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tracer.write(os.path.join(WORK, "traces", f"{tracer.trace_id}.json"))
    result = {"attempted": items, "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": u}
                          for k, u in PER_LAYER_UNITS.items()}}
    return result, {"spans": len(tracer.spans), "check_failed": failed}


def resume_equivalence(rc: ResumeCommit, digest: str) -> bool:
    """Crash after half the buckets, resume, and compare with the uninterrupted digest."""
    out = os.path.join(WORK, "ledger_resume_crash")
    shutil.rmtree(out, ignore_errors=True)
    try:
        rc.resume_run(out, fail_after=N_BUCKETS // 2)
        return False
    except RuntimeError as e:
        if "simulated crash" not in str(e):
            raise
    rc.resume_run(out)
    chk = check_table(rc.spark, out, rc.inp)
    return chk.failed == 0 and chk.detail["digest"] == digest
