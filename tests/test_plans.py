"""Physical-plan quality gates — the properties that matter at 100 TB.

These tests pin the plan shapes (.explain) rather than just results:
filter pushdown into the parquet scan, column pruning, broadcast joins
for small dims, no shuffle in the extract path, whole-stage codegen over
the native expression pipeline.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushed_to_parquet_scan(spark):
    df = E.q_lineitem_agg(spark, SF)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan


def test_column_pruning_reaches_scan(spark):
    df = E.q_token_counts(spark, SF)
    plan = plan_of(df)
    # the scan must read only (text, lang) — not doc_id/source/n_chars
    assert "ReadSchema" in plan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read and "lang" in read
    assert "n_chars" not in read and "source" not in read, read


def test_small_dim_join_is_broadcast(spark):
    plan = plan_of(E.q_orders_by_segment(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_semi_and_anti_joins(spark):
    assert "LeftSemi" in plan_of(E.q_customers_with_orders(spark, SF))
    assert "LeftAnti" in plan_of(E.q_customers_without_orders(spark, SF))


def test_extract_path_is_pure_map(spark):
    from wine_label_ocr_spark.fixtures import pages_spark
    from wine_label_ocr_spark.plans.pipeline import extract_records
    plan = plan_of(extract_records(pages_spark(spark, 10, partitions=2)))
    assert "Exchange" not in plan, plan
    # whole-stage codegen stays on (toString renders codegen stages as
    # "*(n) " prefixes) in the source's stage below the MapInArrow, which
    # emits the finished record: no projection is left above it
    assert "*(" in plan, plan
    assert plan.startswith("MapInArrow"), plan


def test_native_ops_are_codegen(spark):
    df = E.q_quality_scores(spark, SF)
    # the r10 explicit repartition wraps the plan in AdaptiveSparkPlan,
    # which hides the codegen "*(n)" markers until the query has run —
    # execute it so toString renders the FINAL plan
    df.collect()
    plan = plan_of(df)
    assert "*(" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, \
        "textops must stay JVM-side"


def test_minhash_shuffles_narrow_rows(spark):
    """The LSH band shuffle must NOT carry the shingle arrays — only
    (id, band, band_hash) cross the exchange (commit 0beeb1a design)."""
    from wine_label_ocr_spark.operators.dedupe import minhash_lsh_pairs
    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(minhash_lsh_pairs(d, n_perm=8, n_bands=2, oracle_safe=False))
    # find hashpartitioning exchanges over band/band_hash and check the
    # projected columns just below do not include the shingle array
    assert "hashpartitioning" in plan
    for chunk in plan.split("Exchange hashpartitioning")[1:]:
        header = chunk.splitlines()[0]
        if "band_hash" in header:
            assert "_sh" not in header, header


def test_minhash_verify_splits_each_text_once(spark):
    """The Jaccard verify binds each side's tokens and shingles with
    ``let``: the one plan line that holds it splits ``_ta`` and ``_tb``
    once each. Inlined, each text was split 8× per evaluation, one of
    them inside the per-position lambda (once per shingle). The
    threshold filter sits above the Generate that yields the Jaccard, so
    it is not pushed into the join condition, where every candidate pair
    evaluated the Jaccard a second time."""
    import re

    from wine_label_ocr_spark.operators.dedupe import minhash_lsh_pairs
    d = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over a lazy dog {i % 4}")
         for i in range(12)], "doc_id bigint, text string")
    pairs = minhash_lsh_pairs(d, n_perm=8, n_bands=2)
    assert pairs.count() > 0  # the fixture reaches the verify
    plan = plan_of(pairs)
    verify = [line for line in plan.splitlines() if "split(_t" in line]
    assert len(verify) == 1, plan  # the Jaccard is evaluated in one place
    for side in ("_ta", "_tb"):
        assert len(re.findall(rf"split\({side}#", verify[0])) == 1, verify[0]
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line:
            assert "split(" not in line, line


def test_exact_substring_splits_each_text_once(spark):
    """``exact_substring_spans`` binds each text's tokens with ``let`` in
    the seed and in the verify: every split is inside the Generate that
    explodes the positions, once, and the explode does not carry the
    text. Inlined, each text was split again for every position (the
    seed hash) and every candidate position (the verify gram)."""
    from wine_label_ocr_spark.operators.dedupe import exact_substring_spans
    d = spark.createDataFrame(
        [(i, f"a b c d e f g h i j k {i % 3}") for i in range(6)],
        "doc_id bigint, text string")
    spans = exact_substring_spans(d, min_tokens=4)
    assert spans.count() > 0  # the fixture reaches the verify
    lines = [line for line in plan_of(spans).splitlines() if "split(" in line]
    assert len(lines) >= 2, plan_of(spans)  # the seed and the verify
    for line in lines:
        assert "Generate explode(" in line and line.count("split(") == 1, line
        assert "_t#" not in line.rsplit("[0]", 1)[1], line


def test_ivf_seeding_has_no_global_window(spark):
    """r1 VERDICT #4: the IVF seed sample must be a distributed top-k
    (TakeOrderedAndProject), never a row_number over an unpartitioned
    Window (single task sorting the whole corpus)."""
    from wine_label_ocr_spark.operators.ann import _ivf_seed_candidates
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(_ivf_seed_candidates(e, k=8, c_vec="embedding", seed=42))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_cosine_topk_broadcasts_queries(spark):
    from pyspark.sql import functions as F
    from wine_label_ocr_spark.operators.ann import cosine_topk
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.limit(3).select(F.col("vec_id").alias("q_id"), "embedding")
    plan = plan_of(cosine_topk(q, e, k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_rp_lsh_multi_probe_explodes_query_side_only(spark):
    """Multi-probe must never touch the corpus side: the corpus is
    bucketed once (no Generate/explode over it) and joins the exploded
    query buckets via broadcast."""
    from pyspark.sql import functions as F
    from wine_label_ocr_spark.operators.ann import rp_lsh_topk
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.limit(3).select(F.col("vec_id").alias("q_id"), "embedding")
    plan = plan_of(rp_lsh_topk(q, e, dim=64, k=3, n_planes=6, n_probes=3))
    assert "BroadcastHashJoin" in plan, plan
    # the only Generate (explode) sits under the BroadcastExchange (query
    # side); the corpus branch below the join has none
    join_on = plan.index("BroadcastHashJoin")
    bx = plan.index("BroadcastExchange", join_on)
    assert "Generate" in plan[bx:], "probe explode must be on the query side"
    assert "Generate" not in plan[join_on:bx], \
        "corpus side must not explode with probe count"


def _banded(spark, name):
    """(DataFrame, bucket key columns, max_bucket) of a banded near-dup
    operator over small inputs."""
    from wine_label_ocr_spark.operators import ann, dedupe, multimodal
    d = spark.read.parquet(f"{SF}/documents.parquet")
    if name == "minhash_lsh_pairs":
        return dedupe.minhash_lsh_pairs(d), ["band", "band_hash"], 200
    if name == "simhash_pairs":
        return dedupe.simhash_pairs(d), ["band", "bits"], 2000
    if name == "duplicate_passages":
        return dedupe.duplicate_passages(d), ["fp"], 200
    if name == "embedding_near_dup":
        e = spark.read.parquet(f"{SF}/embeddings.parquet")
        return ann.embedding_near_dup(e, dim=64, n_planes=6), ["_bucket"], 200
    h = spark.createDataFrame([("a", 1), ("b", 3)], "url string, dhash bigint")
    return multimodal.image_near_dup(h), ["band", "bits"], 200


@pytest.mark.parametrize("name", [
    "minhash_lsh_pairs", "simhash_pairs", "duplicate_passages",
    "embedding_near_dup", "image_near_dup"])
def test_banded_pairs_have_bucket_guard(spark, name):
    """Every banded near-dup operator pairs through ``_bucket_pairs``:
    the hot-bucket cap is the ``count(1)`` of the aggregation on the
    bucket key, filtered to ``2 <= n <= max_bucket`` before the Generate
    that emits the pairs (r2 VERDICT #1's guard); the bucket key is
    shuffled once, and there is no Window and no join on the key (the
    former count-over-window + bucket self-join shape)."""
    import re

    df, keys, max_bucket = _banded(spark, name)
    plan = plan_of(df)
    lines = plan.splitlines()
    key_list = ", ".join(rf"{k}#\d+L?" for k in keys)
    agg = [i for i, ln in enumerate(lines) if re.search(
        rf"HashAggregate\(keys=\[{key_list}\], functions=\[.*[^_]count\(1\)",
        ln)]
    assert len(agg) == 1, plan
    cap = [i for i, ln in enumerate(lines) if re.search(
        rf"Filter \(\(_n#\d+L >= 2\) AND \(_n#\d+L <= {max_bucket}\)\)", ln)]
    gen = [i for i, ln in enumerate(lines)
           if "Generate inline(" in ln and "_rows#" in ln]
    # a plan prints each node above its child
    assert len(cap) == 1 and len(gen) == 1 and gen[0] < cap[0] < agg[0], plan
    exchanges = [ln for ln in lines if re.search(
        rf"Exchange hashpartitioning\({key_list}, \d+\)", ln)]
    assert len(exchanges) == 1, plan
    assert "Window" not in plan, plan
    for ln in lines:
        if "Join" in ln:
            assert not any(f"{k}#" in ln for k in keys), ln
    if name == "embedding_near_dup":
        # the cosine comes from a one-element explode: evaluated once
        assert plan.count("zip_with(_v_a") == 1, plan


def test_decontamination_broadcasts_benchmark_grams(spark):
    """The corpus must never shuffle against itself: the benchmark gram
    set broadcasts; corpus-side exchanges only hash on the doc id (hit
    count + final left join), never on the gram column."""
    from wine_label_ocr_spark.operators.dedupe import flag_contaminated
    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(flag_contaminated(d, d.limit(3), n=8))
    assert "BroadcastHashJoin" in plan, plan
    for chunk in plan.split("Exchange hashpartitioning")[1:]:
        header = chunk.splitlines()[0]
        assert "_g#" not in header, header  # no corpus-sized gram shuffle


def test_zorder_layout_tightens_stats_on_both_dims(spark, tmp_path):
    """Z-ordered files must cover small hypercubes: per-file [min,max]
    spans (read from the parquet FOOTERS) shrink on BOTH columns, where a
    single-column sort leaves the other column's spans at full width."""
    from pyspark.sql import functions as F
    from wine_label_ocr_spark.plans.layout import zorder_write
    from wine_label_ocr_spark.sources.table import ManifestTable
    import os

    grid = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("bigint").alias("y"))
    zpath, xpath = str(tmp_path / "zorder"), str(tmp_path / "xsort")
    zorder_write(grid, zpath, [("x", 0, 63), ("y", 0, 63)], n_files=16, bits=6)
    (grid.repartitionByRange(16, "x").sortWithinPartitions("x")
         .write.mode("overwrite").parquet(xpath))

    def spans(path, col):
        files = [os.path.join(path, f) for f in os.listdir(path)
                 if f.endswith(".parquet")]
        st = ManifestTable._file_stats(files, col)
        assert len(st) == len(files)
        return sum(hi - lo for lo, hi in st.values()) / len(st)

    # x-sorted layout: x spans tiny, y spans full width (63)
    assert spans(xpath, "x") <= 8 and spans(xpath, "y") >= 55
    # z-ordered: BOTH dims well under full width (16 files -> ~16x16 cells)
    assert spans(zpath, "x") <= 32 and spans(zpath, "y") <= 32
    # and the data survives intact
    assert spark.read.parquet(zpath).count() == 4096


def test_bucketed_interval_join_is_equi_not_nested_loop(spark):
    """The range join must plan as a hash/sort-merge EQUI join on
    (keys, cell) — never BroadcastNestedLoop/Cartesian — and compute the
    exact |dt|<=bound pair set (edge-inclusive, cell-boundary-crossing)."""
    from datetime import datetime, timedelta
    from pyspark.sql import functions as F
    from wine_label_ocr_spark.operators.rangejoin import bucketed_interval_join
    t0 = datetime(2024, 1, 1)
    rows = [(1, i, t0 + timedelta(seconds=s))
            for i, s in enumerate([0, 4.0, 5.0, 9.99, 10.0, 30.0])]
    rows += [(2, 100, t0), (2, 101, t0 + timedelta(seconds=5.0))]
    e = spark.createDataFrame(rows, "user_id bigint, event_id bigint, ts timestamp")
    out = bucketed_interval_join(e, e, keys=["user_id"], bound_sec=5.0)
    got = {(r["user_id"], r["event_id"], r["event_id_r"]) for r in out.collect()
           if r["event_id"] < r["event_id_r"]}
    # brute force truth
    a, b = e.alias("a"), e.alias("b")
    brute = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                    & (F.col("a.event_id") < F.col("b.event_id"))
                    & (F.abs(F.unix_millis(F.col("a.ts"))
                             - F.unix_millis(F.col("b.ts"))) <= 5000)))
    want = {(r[0], r[1], r[2]) for r in brute.select(
        "a.user_id", "a.event_id", "b.event_id").collect()}
    assert got == want and (1, 0, 1) in got and (1, 0, 2) in got  # 5.0 inclusive
    assert (2, 100, 101) in got
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan, plan


def test_zorder_rejects_sign_bit_overflow(spark):
    """4 cols × 16 bits would interleave into bigint's sign bit — loud
    error instead of silently inverted layout (ADVICE r3)."""
    import pytest
    from pyspark.sql import functions as F
    from wine_label_ocr_spark.plans.layout import zorder_value
    specs = [(F.lit(i), 0, 63) for i in range(4)]
    with pytest.raises(ValueError, match="sign bit"):
        zorder_value(specs, bits=16)
    zorder_value(specs, bits=15)  # 60 bits: fine


def test_interval_join_rejects_outer_and_bad_bounds(spark):
    """Outer joins and degenerate bounds raise instead of silently
    degenerating (ADVICE r3)."""
    import pytest
    from pyspark.sql import functions as F
    from wine_label_ocr_spark.operators.rangejoin import bucketed_interval_join
    df = spark.range(3).select(
        F.col("id").alias("k"),
        F.timestamp_seconds(F.col("id") * 10).alias("ts"))
    with pytest.raises(ValueError, match="inner"):
        bucketed_interval_join(df, df, ["k"], how="left")
    with pytest.raises(ValueError, match="0.001"):
        bucketed_interval_join(df, df, ["k"], bound_sec=0.0005)
    with pytest.raises(ValueError, match="millisecond"):
        bucketed_interval_join(df, df, ["k"], bound_sec=5.0005)
    assert bucketed_interval_join(df, df, ["k"], bound_sec=5.0).count() == 3


def test_pagerank_lineage_is_cut(spark):
    """Each iteration localCheckpoints, so the returned plan is a
    checkpoint scan — NOT a k-times-unrolled join chain (O(1) lineage,
    the property that keeps iteration k from re-running iterations
    1..k-1 from source)."""
    from wine_label_ocr_spark.operators.graph import pagerank
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")],
        "src_host string, dst_host string")
    plan = plan_of(pagerank(edges, n_iters=3))
    assert "ExistingRDD" in plan
    assert plan.count("Join") == 0, plan


def test_robots_allowed_has_no_per_url_aggregation(spark):
    """robots_allowed must verdict via per-row array algebra after ONE
    host join — no max_by / per-URL HashAggregate (an explode +
    groupBy(url) plan would shuffle the page set twice)."""
    from wine_label_ocr_spark.operators.robots import (
        parse_robots_rules, robots_allowed)
    robots = spark.createDataFrame(
        [("h.com", "User-agent: *\nDisallow: /x\n")],
        "host string, robots_txt string")
    urls = spark.createDataFrame([("https://h.com/x",)], "url string")
    plan = plan_of(robots_allowed(urls, parse_robots_rules(robots)))
    assert "max_by" not in plan
    assert "array_max" in plan
    # only the (tiny) rules side aggregates: exactly one grouping, on host
    assert plan.count("HashAggregate") <= 2  # partial+final of ONE groupBy
