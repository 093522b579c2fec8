"""Per-stage survivor counts from the one run that does the work.

Every funnel in ``plans/`` counts its stages here: ``StageCounter.wrap``
attaches ``observe(Observation, count(1))`` at a stage boundary of the
product plan, and ``StageCounter.run`` materializes the final frame once
(to Spark's noop sink, or as parquet at ``sink``) and returns
``{stage: n}`` in the order the stages were wrapped. One scan reports
every stage, where count branches re-run the shared prefix once per
stage — at 100 TB the difference between one scan and five.

Two rules keep the counts exact:

* wrap a frame that the final plan reads ONCE — where a plan copies an
  observed subtree (a self-join, a union of branches) the Observation
  reports one copy's count, whichever copy the metrics map keeps;
* an Observation under a lazy ``localCheckpoint(eager=False)`` is
  reported by the checkpoint call itself, before the rows it counts
  have run, and can read 0: cut the lineage eagerly when the stages
  above it are observed.

The training funnel (corpus → quality → lang → exact-dedup → chunks) is
defined here; the curation and crawl funnels wrap the stage DAGs of
``plans/curate.py`` and ``plans/crawl.py``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, functions as F

from ..operators.dedupe import exact_dedup
from ..operators.textops import chunk_documents, quality_gate


class StageCounter:
    """Observed survivor counters of one funnel run (see module doc)."""

    def __init__(self) -> None:
        self._obs: dict[str, Observation] = {}

    def wrap(self, name: str, df: DataFrame) -> DataFrame:
        self._obs[name] = Observation(name)
        return df.observe(self._obs[name], F.count(F.lit(1)).alias("n"))

    def run(self, final: DataFrame, sink: str = "noop") -> dict[str, int]:
        if sink == "noop":
            final.write.format("noop").mode("overwrite").save()
        else:
            final.write.mode("overwrite").parquet(sink)
        return {name: int(o.get["n"]) for name, o in self._obs.items()}


def _training_stages(docs: DataFrame, wrap: Callable, lang: str = "en",
                     chunk_tokens: int = 64, overlap: int = 8) -> DataFrame:
    """corpus → quality → lang → exact-dedup → chunks, every stage
    passed through ``wrap(name, df)``; returns the wrapped chunks."""
    plan = wrap("corpus", docs)
    plan = wrap("quality", plan.filter(quality_gate(F.col("text"))))
    plan = wrap("lang", plan.filter(F.col("lang") == lang))
    plan = wrap("deduped", exact_dedup(plan))
    return wrap("chunks", chunk_documents(plan, chunk_tokens=chunk_tokens,
                                          overlap=overlap))


def run_funnel_one_pass(docs: DataFrame, lang: str = "en",
                        chunk_tokens: int = 64, overlap: int = 8,
                        sink: str = "noop") -> dict[str, int]:
    """The training funnel in ONE job: ``{corpus, quality, lang,
    deduped, chunks}`` survivor counts. ``sink='noop'`` forces
    materialization without output; pass a path to also persist the
    chunks as parquet."""
    counter = StageCounter()
    return counter.run(_training_stages(docs, counter.wrap, lang,
                                        chunk_tokens, overlap), sink)
