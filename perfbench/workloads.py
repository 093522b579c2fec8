"""The three workloads: what one run does, its warm-up, and its output check.

* ``extract_crawl``: pages -> ``plans.pipeline.extract_records`` -> noop
  sink. A pure map whose work is nearly all the ``oracle.extract`` kernel
  behind stage 1's ``mapInArrow``.
* ``resume_commit``: the same pages through
  ``ResumableRun(out, n_buckets=8).run(spark, pages, extract_records)``,
  each run into a fresh output directory. The same kernel, plus the
  commit path: zstd parquet writes, manifest snapshots, the metrics
  table, checkpoint markers and one input rescan per bucket.
* ``dedup_near``: a text corpus with injected near-duplicate clusters
  through ``minhash_lsh_pairs`` and a ``simhash64`` projection. No oracle
  kernel and no write: the bypass workload for every extraction change.

Every workload runs a closed loop with one client: each Spark job is
submitted after the previous one finishes. ``check`` makes one untimed
run of the workload (for ``extract_crawl`` the same plan with
``(url, sha2(text))`` collected in place of the noop sink) and checks
its output.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from measure import run_and_harvest
from wine_label_ocr_spark.operators.dedupe import minhash_lsh_pairs, simhash64
from wine_label_ocr_spark.plans.pipeline import extract_records
from wine_label_ocr_spark.plans.resumable import ResumableRun
from wine_label_ocr_spark.sources.table import ManifestTable

N_BUCKETS = 8


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Check:
    """Outcome of an output check: items checked, items wrong, and why."""
    items: int
    failed: int
    detail: dict = field(default_factory=dict)


def check_records(df, inp: inputs.Input) -> Check:
    """(url, text) rows against ``oracle.extract`` run on every input page."""
    expected = inp.meta["expected"]
    seen: dict[str, str | None] = {}
    dup = 0
    for r in df.select("url", F.sha2("text", 256).alias("h")).collect():
        dup += r.url in seen
        seen[r.url] = r.h
    wrong = sum(seen.get(u, "missing") != h for u, h in expected.items())
    extra = sum(u not in expected for u in seen)
    digest = inputs.table_digest(seen)
    return Check(len(expected), wrong + extra + dup,
                 {"rows": len(seen) + dup, "wrong": wrong, "extra": extra,
                  "duplicate_urls": dup, "digest": digest,
                  "digest_equal": digest == inp.meta["expected_digest"]})


class ExtractCrawl:
    name = "extract_crawl"
    kind = "pages"
    rows = 8000

    def __init__(self, spark, inp: inputs.Input, work: str):
        self.spark, self.inp, self.work = spark, inp, work
        self.pages = spark.read.parquet(*inp.files)

    def query(self, pages=None):
        return extract_records(self.pages if pages is None else pages)

    def warmup(self) -> None:
        # a full run: the JIT keeps warming for the first few full-size runs
        self.before()
        self.run()

    def before(self) -> None:
        pass

    def run(self) -> None:
        noop(self.query())

    def traced(self, tracer) -> None:
        with tracer.span("extract_records", rows=self.inp.rows):
            run_and_harvest(self.query())

    def check(self) -> Check:
        return check_records(self.query(), self.inp)


class ResumeCommit(ExtractCrawl):
    name = "resume_commit"
    rows = 2000

    def __init__(self, spark, inp: inputs.Input, work: str):
        super().__init__(spark, inp, work)
        self.out = os.path.join(work, "resume_out")

    def resume_run(self, out: str, fail_after: int | None = None) -> dict:
        return ResumableRun(out, n_buckets=N_BUCKETS).run(
            self.spark, self.pages, extract_records, fail_after=fail_after)

    def warmup(self) -> None:
        out = os.path.join(self.work, "resume_warmup")
        shutil.rmtree(out, ignore_errors=True)
        ResumableRun(out, n_buckets=1).run(
            self.spark, self.spark.read.parquet(self.inp.files[0]), extract_records)
        shutil.rmtree(out)

    def before(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run(self) -> None:
        self.resume_run(self.out)

    def check(self) -> Check:
        self.before()
        self.run()
        return check_table(self.spark, self.out, self.inp)


def check_table(spark, out: str, inp: inputs.Input) -> Check:
    """Records table matches the oracle, one row per url; one metrics row per bucket."""
    chk = check_records(ManifestTable(os.path.join(out, "records")).read(spark), inp)
    metrics_rows = ManifestTable(os.path.join(out, "metrics")).read(spark).count()
    chk.detail["metrics_rows"] = metrics_rows
    chk.items += 1
    chk.failed += metrics_rows != N_BUCKETS
    return chk


class DedupNear:
    name = "dedup_near"
    kind = "corpus"
    rows = 1500

    def __init__(self, spark, inp: inputs.Input, work: str):
        self.spark, self.inp, self.work = spark, inp, work
        self.docs = spark.read.parquet(*inp.files)
        self.out: tuple[list, list] = ([], [])

    def pairs(self):
        return minhash_lsh_pairs(self.docs, n_perm=inputs.DEDUP_N_PERM,
                                 n_bands=inputs.DEDUP_N_BANDS,
                                 min_jaccard=inputs.DEDUP_MIN_JACCARD,
                                 max_bucket=inputs.DEDUP_MAX_BUCKET)

    def simhash(self):
        return self.docs.select("doc_id", simhash64(F.col("text")).alias("simhash"))

    warmup = ExtractCrawl.warmup

    def before(self) -> None:
        pass

    def run(self) -> None:
        # both outputs are small, so a run collects them
        self.out = (self.pairs().collect(), self.simhash().collect())

    def traced(self, tracer) -> tuple[int, list]:
        """Both queries with plan metrics; returns (verified pairs, plan nodes)."""
        with tracer.span("dedupe.minhash", rows=self.inp.rows):
            verified, nodes = run_and_harvest(self.pairs())
        with tracer.span("dedupe.simhash", rows=self.inp.rows):
            nodes += run_and_harvest(self.simhash())[1]
        return verified, nodes

    def check(self) -> Check:
        self.run()
        pairs, simhashes = self.out
        texts = {}
        for f in self.inp.files:
            t = pq.read_table(f)
            texts.update(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
        sets: dict[int, frozenset[str]] = {}

        def shingles(i: int) -> frozenset[str]:
            if i not in sets:
                sets[i] = inputs.shingle_set(texts[i])
            return sets[i]

        reported: dict[tuple[int, int], float] = {}
        bad_pairs = 0
        for r in pairs:
            key = (r.id_a, r.id_b)
            ok = (r.id_a < r.id_b and key not in reported
                  and r.id_a in texts and r.id_b in texts
                  and r.jaccard >= inputs.DEDUP_MIN_JACCARD
                  # the operator rounds to 6 places
                  and abs(inputs.jaccard(shingles(r.id_a), shingles(r.id_b)) - r.jaccard)
                  <= 5.01e-7)
            bad_pairs += not ok
            reported[key] = r.jaccard
        required = missed = guarded_reported = 0
        for c in self.inp.meta["clusters"]:
            for a, b, j in c["pairs"]:
                if c["guarded"]:
                    # the skew guard drops every bucket of an oversized cluster
                    guarded_reported += (a, b) in reported
                elif j >= inputs.DEDUP_RECALL_JACCARD:
                    required += 1
                    missed += (a, b) not in reported
        sims = {r.doc_id: r.simhash for r in simhashes}
        bad_sims = len(texts) - len(sims) + sum(v is None for v in sims.values())
        for c in self.inp.meta["clusters"]:
            root = c["ids"][0]
            for i in c["ids"][1:]:
                # a whitespace-only variant has the same tokens, so the same simhash
                if inputs.tokens(texts[i]) == inputs.tokens(texts[root]):
                    bad_sims += sims.get(i) != sims.get(root)
        return Check(len(reported) + required + len(texts) + 1,
                     bad_pairs + missed + bad_sims + (guarded_reported > 0),
                     {"reported_pairs": len(reported), "bad_pairs": bad_pairs,
                      "required_pairs": required, "missed_pairs": missed,
                      "guarded_pairs_reported": guarded_reported,
                      "bad_simhashes": bad_sims})


WORKLOADS = {w.name: w for w in (ExtractCrawl, ResumeCommit, DedupNear)}
