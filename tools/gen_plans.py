"""Regenerate PLANS.md — formatted physical plans of the headline queries.

Usage::

    python tools/gen_plans.py                      # every section
    python tools/gen_plans.py minhash_lsh ...      # only these sections

A section's name is the first word of its title (``minhash_lsh``,
``decontamination``, ``flagship``, ...). Named sections are re-rendered
in place in the existing PLANS.md and every other section is kept as it
is, so a plan change in one query does not renumber the expression ids
of all the others. PLANS.md is written in the repository root.

Each section pairs a plan with the property tests/test_plans.py pins, so
plan quality can be re-audited without rerunning anything.
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

SF = "/root/testdata/sf0.001"

HEADER = """# PLANS — formatted physical plans of the headline queries

Generated from sf0.001 inputs by `python tools/gen_plans.py`
(`executedPlan().toString()`). Annotations call out the properties
tests/test_plans.py pins. Regenerate after any plan-shape change.
"""


def section_name(title: str) -> str:
    return title.split()[0].lower()


def main(names: list[str]) -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from wine_label_ocr_spark.fixtures import pages_spark
    from wine_label_ocr_spark.operators.ann import _ivf_seed_candidates, cosine_topk
    from wine_label_ocr_spark.operators.dedupe import minhash_lsh_pairs
    from wine_label_ocr_spark.plans.funnel import StageCounter, _training_stages
    from wine_label_ocr_spark.plans.pipeline import extract_records
    from wine_label_ocr_spark.session import get_spark
    from wine_label_ocr_spark.streaming.state import ema_phase_batch

    spark = get_spark(app="gen_plans", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    def plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString().rstrip()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.limit(3).select(F.col("vec_id").alias("q_id"), "embedding")

    sections = [
        ("Flagship extract pipeline (pages → records)",
         "Zero Exchange (pinned): scan → ONE MapInArrow that emits the "
         "finished record (every column computed by `oracle.extract` and "
         "packed by `oracle.record`), with no projection above it "
         "(pinned). The pure-map shape is what makes the N→4N scaling "
         "efficiency hold — no cross-executor coordination at all.",
         extract_records(pages_spark(spark, 10, partitions=2))),
        ("lineitem_agg — filter pushdown + partial aggregation",
         "PushedFilters on l_shipdate reach the parquet scan (pinned); "
         "HashAggregate appears twice (map-side partial, then final after "
         "one exchange).",
         E.q_lineitem_agg(spark, SF)),
        ("orders_by_segment — broadcast dim join",
         "BroadcastHashJoin (pinned): the customer dim ships to every task; "
         "the orders side never shuffles for the join.",
         E.q_orders_by_segment(spark, SF)),
        ("minhash_lsh — narrow-row band shuffle",
         "One Arrow kernel (ArrowEvalPython) gives the band hashes; the "
         "(band, band_hash) exchange carries only (id, band, hash) — the "
         "text stays out of the shuffle (pinned) and rejoins by id for "
         "candidate pairs only. NULL-text rows are filtered at the scan "
         "(they would all share one signature and pair). One "
         "aggregation per bucket drops oversized "
         "buckets (the max_bucket skew guard) and emits the id pairs. The "
         "verify binds each side's tokens and shingles with `let`: one "
         "split per text per evaluation, in the one Generate that yields "
         "the Jaccard; the threshold filter sits above it, out of the "
         "join condition (pinned).",
         minhash_lsh_pairs(docs, n_perm=8, n_bands=2, oracle_safe=False)),
        ("fuzzy_blocked_join — bounded blocks, explicit co-partitioning",
         "A JVM-side Window count(1) over (lang, source) is the block-size "
         "skew guard: oversized blocks are filtered out below the "
         "FlatMapGroupsInPandas, before any row reaches pandas (pinned; "
         "mirrored in the DuckDB oracle). The Window and the grouped map "
         "share the one explicit hash repartition on (lang, source), which "
         "is user-specified, so AQE cannot coalesce the quadratic "
         "levenshtein stage down to one task.",
         E.q_fuzzy_blocked_join(spark, SF)),
        ("ivf seed candidates — distributed top-k, no global window",
         "TakeOrderedAndProject (pinned): per-partition partial top-k then "
         "a driver merge of k·P rows. The r1 version was row_number() over "
         "an unpartitioned Window — one task sorting the whole corpus.",
         _ivf_seed_candidates(emb, k=8, c_vec="embedding", seed=42)),
        ("cosine_topk — corpus scanned once, queries broadcast",
         "BroadcastNestedLoopJoin on the tiny query set (pinned); the only "
         "exchange is the final per-query ranking window.",
         cosine_topk(q, emb, k=3)),
        ("ema_phase_batch — pinned parallelism for the Python stage",
         "User-specified hash repartition on user_id feeds the "
         "FlatMapGroupsInPandas kernel — AQE byte-based coalescing would "
         "otherwise merge the CPU-bound stage to 1-2 tasks; groupBy reuses "
         "the exchange (no second shuffle).",
         ema_phase_batch(spark.read.parquet(f"{SF}/events.parquet"))),
        ("media_features — columnar payload build + one Arrow map",
         "Payload bytes assembled JVM-side (hex algebra + to_binary), one "
         "MapInPandas for the stdlib header decode, hashable projection.",
         E.q_media_features(spark, SF)),
        ("chunk_documents — shuffle-free chunker",
         "Token windows built entirely in the projection (sequence + slice "
         "+ explode): zero Exchange, chunking inherits the scan's "
         "partitioning.",
         E.q_chunk_documents(spark, SF)),
        ("pack_sequences (sharded) — partitioned running-sum window",
         "With n_shards the window partitions on pmod(xxhash64(id), n) — "
         "no single-task global sort; bins are shard-prefixed.",
         __import__("wine_label_ocr_spark.operators.textops",
                    fromlist=["pack_sequences"]).pack_sequences(
             docs, budget_tokens=512, n_shards=8)),
        ("training_funnel — composed quality→lang→dedup→chunk counts",
         "One plan with a CollectMetrics node (an Observation's count(1)) "
         "at every stage boundary and no Union: the gate materializes it "
         "once to the noop sink and reports the observed counts.",
         _training_stages(docs, StageCounter().wrap)),
        ("rp_lsh_topk multi-probe — only the broadcast query side explodes",
         "n_probes=3 expands QUERY signatures to hamming-1 neighbor "
         "buckets (margin-ordered); the corpus is bucketed exactly once "
         "and joins via BroadcastHashJoin — probe count never touches the "
         "big side's plan.",
         __import__("wine_label_ocr_spark.operators.ann",
                    fromlist=["rp_lsh_topk"]).rp_lsh_topk(
             q, emb, dim=64, k=3, n_planes=6, n_probes=3)),
        ("embedding_near_dup — guarded bucket aggregation",
         "One exchange on _bucket; the aggregation's count(1) is the "
         "max_bucket hot-bucket guard (quadratic-on-skew closed, r2 "
         "VERDICT #1), applied BEFORE the Generate that emits the pairs. "
         "No Window, no self-join: the `_bucket_pairs` shape every banded "
         "near-dup operator shares (pinned). The cosine comes from a "
         "one-element explode, so the threshold Filter sits above the "
         "Generate and each pair's cosine is computed once (pinned).",
         __import__("wine_label_ocr_spark.operators.ann",
                    fromlist=["embedding_near_dup"]).embedding_near_dup(
             emb, dim=64, n_planes=6)),
        ("decontamination — benchmark grams broadcast, corpus mapped once",
         "The benchmark n-gram set is broadcast (eval sets ≪ corpus); the "
         "corpus side is scan → explode → BroadcastHashJoin → one groupBy "
         "on doc id. Nothing corpus-sized shuffles against itself.",
         __import__("wine_label_ocr_spark.operators.dedupe",
                    fromlist=["flag_contaminated"]).flag_contaminated(
             docs, docs.limit(3), n=8)),
        ("winnow_fingerprints — content-defined passage fingerprints, pure map",
         "Grams, windows, and the rightmost-min selection are all column "
         "algebra: zero Exchange — fingerprinting inherits the scan's "
         "partitioning; only the pairing step shuffles (on fp, guarded).",
         __import__("wine_label_ocr_spark.operators.dedupe",
                    fromlist=["winnow_fingerprints"]).winnow_fingerprints(docs)),
        ("host_stats — host-level skew profile",
         "One hash aggregate on the extracted host (map-side partials); "
         "quality folds to integer micro-units before the sum so the "
         "result is order-free (and oracle-exact).",
         E.q_host_stats(spark, SF)),
        ("pagerank — O(1) lineage: per-iteration localCheckpoint",
         "The visible plan is ONE iteration's shape (dst-keyed partial "
         "aggregation of rank div deg + a left join back onto the node "
         "list) reading the PREVIOUS iteration from a checkpoint scan — "
         "lineage does not grow with k (pinned: no repeated edge-distinct "
         "subtrees). All rank math is bigint div: engine-exact.",
         __import__("wine_label_ocr_spark.operators.graph",
                    fromlist=["pagerank"]).pagerank(
             docs.select(
                 F.concat(F.lit("h"), (F.col("doc_id") % 20).cast("string"))
                 .alias("src_host"),
                 F.concat(F.lit("h"), ((F.col("doc_id") * 7 + 3) % 20)
                          .cast("string")).alias("dst_host")).distinct(),
             n_iters=2)),
        ("pq_adc_topk — corpus side scans integer codes only",
         "Deliberate broadcast-nested-loop over the tiny query side: the "
         "corpus column is the m-byte PQ code array; every distance is an "
         "ADC table lookup + adds. The flat form is the brute baseline — "
         "ivfadc_topk is the scale path.",
         E.q_pq_topk(spark, SF)),
        ("ivfadc_topk — cell-keyed probes, residual ADC per (query,cell)",
         "The index shuffles only on `cell`; the query side (queries ≪ "
         "corpus) explodes to its n_probes cells and broadcasts; with the "
         "partitioned index write the probe prune is file-level.",
         E.q_ivfadc_topk(spark, SF)),
        ("frontier_schedule — robots-fed delays, host-keyed window",
         "Crawl-delay comes from robots_directives (one Arrow map over "
         "the tiny robots table), MAX-aggregated per host, left-joined on "
         "host; the per-host seq window is one narrow shuffle. A hot "
         "host's single-reducer sort is fine by construction: politeness "
         "serializes the host anyway.",
         E.q_frontier_schedule(spark, SF)),
        ("robots_gate — rules ≪ pages equi join, most-specific pick",
         "The rules pack to one row per host (collect_list over the tiny "
         "rules side), ONE host equi join, then per row: literal-prefix "
         "pre-filter + regexp only for wildcard rules, "
         "array_max(struct(rule_len, allow)). No per-URL aggregation — "
         "the same plan crawl_cycle runs.",
         E.q_robots_gate(spark, SF)),
        ("crawl_cycle — composed crawl capstone",
         "outlinks → resolve → canonical (all pure maps) → one distinct → "
         "fp anti-join against the seen store → robots_allowed (ONE "
         "host equi join + array algebra, no per-URL aggregation) → "
         "frontier schedule. The candidates shuffle for the distinct, "
         "the fp anti-join and on host (the robots and delay joins, "
         "which AQE turns into broadcasts of the tiny robots side, and "
         "the host window).",
         E.q_crawl_cycle(spark, SF)),
        ("crawl_cycle_sitemap — robots-declared sitemap seeds union in",
         "Sitemap locs parse in one Arrow map over the tiny fetched-"
         "sitemap table, gate through a left-semi join against the "
         "exploded robots Sitemap: directives (undeclared payloads "
         "cannot inject), and unionAll into the candidate set BEFORE "
         "the distinct — the seed path adds zero page-side shuffles; "
         "the union reuses the cycle's one candidate distinct.",
         E.q_crawl_cycle_sitemap(spark, SF)),
        ("gif_frames — multi-frame decode is a pure map",
         "The frame explode happens INSIDE the Arrow kernel (one input "
         "row → n_frames output rows): zero Exchange, partitioning "
         "inherited; channel sums are exact integers (the value-oracle "
         "currency).",
         __import__("wine_label_ocr_spark.operators.multimodal",
                    fromlist=["gif_frames"]).gif_frames(
             __import__("wine_label_ocr_spark.fixtures",
                        fromlist=["documents_as_media_frames"])
             .documents_as_media_frames(spark, SF))),
        ("gopher_repetition — n-gram stats shuffle (doc, n, gram) only",
         "Line/paragraph duplicate fractions are in-row list algebra "
         "(zero Exchange for eight of twelve signals). The n-gram arm "
         "explodes (doc_id, n, pos, gram) rows — never the text — into "
         "one count aggregation with map-side partials; the dup mask "
         "re-joins positions and distincts token indices; two "
         "conditional-aggregation pivots come back on doc_id. At crawl "
         "scale the shuffled rows are bounded by tokens×9 per doc and "
         "carry short grams, not documents.",
         __import__("wine_label_ocr_spark.operators.textops",
                    fromlist=["gopher_repetition"]).gopher_repetition(
             docs)),
        ("corpus_datacard — one groupBy(lang), integer-scaled sums",
         "Every per-row feature (lang argmax, quality, both gate "
         "conjunctions) is computed in the map phase; ONE hash "
         "aggregation on the tiny lang key space with map-side partial "
         "combine. Quality doubles are integer-scaled before the sum so "
         "the result is order-independent (cross-engine deterministic).",
         __import__("wine_label_ocr_spark.operators.textops",
                    fromlist=["corpus_datacard"]).corpus_datacard(
             docs)),
        ("anchor_text_index — (dst, anchor) pairs shuffle, top-k window",
         "Anchor extraction is a pure JVM map (two regexp_extract_all "
         "passes zipped); the count aggregation shuffles short (dst, "
         "anchor) string pairs with map-side partials — pages never "
         "shuffle; the top-k window partitions on dst (cardinality ~ "
         "unique targets, no single-reducer stage).",
         E.q_anchor_text(spark, SF)),
        ("lm_buckets — corpus bigram LM, integer-scaled scoring",
         "Two count aggregations (bigrams, unigrams) with map-side "
         "combine; scoring joins the doc-bigram instances back against "
         "the counts (at 100 TB: prune the LM to top-M bigrams and "
         "broadcast — the tfidf_pruned pattern); per-term logs are "
         "integer-scaled before the sum (order-independent). The ntile "
         "split is ONE global window — gate-scale shape; CCNet's "
         "fixed-threshold design replaces it at corpus scale (noted "
         "in-code).",
         E.q_lm_buckets(spark, SF)),
        ("script_profile — pure projection",
         "Nine regexp_replace length-counts + one greatest() argmax, "
         "all in-row: zero Exchange at any scale.",
         E.q_script_profile(spark, SF)),
        ("prioritized_frontier — TakeOrdered top-budget, no global sort",
         "The rank join is host-keyed (ranks ≪ candidates, broadcast "
         "under AQE); the budget cut is TakeOrderedAndProject — a "
         "size-N heap per partition and a driver merge of N rows, so "
         "selection never globally sorts the frontier; scheduling then "
         "windows per host over ONLY the selected set.",
         E.q_frontier_priority(spark, SF)),
        ("paragraph_dedup — boilerplate key set broadcast anti join",
         "Paragraph keys count distinct docs (one shuffle, map-side "
         "partials); the >=min_docs boilerplate set is small by "
         "construction and broadcasts into the anti join; docs regroup "
         "once to rebuild.",
         __import__("wine_label_ocr_spark.operators.dedupe",
                    fromlist=["drop_common_paragraphs"]).drop_common_paragraphs(
             docs)),
    ]

    known = {section_name(title) for title, _, _ in sections}
    unknown = sorted(set(names) - known)
    if unknown:
        raise SystemExit(f"unknown sections {unknown}; known: {sorted(known)}")
    path = ROOT / "PLANS.md"
    # the current text of each section, by name ("## " opens a section)
    kept = {}
    if names:
        for chunk in path.read_text(encoding="utf-8").split("\n## ")[1:]:
            kept[section_name(chunk)] = f"\n## {chunk.rstrip()}\n"
    out = [HEADER]
    for title, note, df in sections:
        name = section_name(title)
        if name in kept and name not in names:
            out.append(kept[name])
            continue
        out.append(f"\n## {title}\n\n{note}\n\n```\n{plan(df)}\n```\n")
        print("rendered", name)
    path.write_text("".join(out), encoding="utf-8")
    print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
