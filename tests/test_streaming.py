"""Streaming state program tests: batch twin ≡ stream, phase semantics."""

from __future__ import annotations

import math
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from wine_label_ocr_spark.streaming import state as ST

SF = "/root/testdata/sf0.001"


def _mk_events(spark, samples, user_id=1):
    t0 = datetime(2024, 1, 1)
    rows = [(user_id, i, t0 + timedelta(seconds=i * 0.25), float(v))
            for i, v in enumerate(samples)]
    return spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, value double")


def test_kernel_matches_step_reference():
    """The inlined fast kernel must stay bit-identical to the documented
    single-step reference implementation (_step)."""
    import pandas as pd
    from datetime import datetime, timedelta
    t0 = datetime(2024, 1, 1)
    vals = [10, 14, 18, 30, 30, 5, 5, 5, 5, 40, 40, 2, 2, 2, 2, 2, 39, 41]
    pdf = pd.DataFrame({
        "user_id": [1] * len(vals),
        "event_id": list(range(len(vals))),
        "ts": [t0 + timedelta(seconds=0.25 * i) for i in range(len(vals))],
        "value": [float(v) for v in vals]})
    out, final = ST._run_kernel(pdf.copy(), ST._fresh_state())
    st = ST._fresh_state()
    for i, r in enumerate(pdf.itertuples(index=False)):
        st, cap = ST._step(st, r.ts.timestamp(), float(r.value))
        assert out["ema"][i] == st["ema"], i
        assert out["peak"][i] == st["peak"], i
        assert out["phase"][i] == st["phase"], i
        assert bool(out["capture"][i]) == cap, i
    assert final == st


def test_ema_values(spark):
    df = _mk_events(spark, [10.0, 20.0, 20.0])
    out = sorted(ST.ema_phase_batch(df).collect(), key=lambda r: r["event_id"])
    assert out[0]["ema"] == 10.0                       # first sample seeds EMA
    assert out[1]["ema"] == pytest.approx(0.25 * 20 + 0.75 * 10)
    assert out[2]["ema"] == pytest.approx(0.25 * 20 + 0.75 * out[1]["ema"])


def test_phase_machine_lock_and_unlock(spark):
    # ramp up (SCAN, peak rises) → drop > DROP_TO_START (SEEK) →
    # recover near peak (LOCKED, capture once) → dip with dwell (unlock)
    ramp = [float(x) for x in (10, 14, 18, 22, 26, 30, 30, 30)]
    drop = [5.0] * 10
    recover = [40.0] * 12
    dip = [2.0] * 12
    df = _mk_events(spark, ramp + drop + recover + dip)
    out = sorted(ST.ema_phase_batch(df).collect(), key=lambda r: r["event_id"])
    phases = [r["phase"] for r in out]
    assert phases[0] == "SCAN"
    assert "SEEK" in phases
    assert "LOCKED" in phases
    i_lock = phases.index("LOCKED")
    assert "SEEK" in phases[i_lock:]                   # dwell unlock happened
    # ST7: capture fires exactly once
    assert sum(1 for r in out if r["capture"]) == 1
    assert out[i_lock]["capture"]


def test_peak_monotone_with_bump(spark):
    df = _mk_events(spark, [10.0, 10.5, 10.8, 30.0, 9.0, 9.0])
    out = sorted(ST.ema_phase_batch(df).collect(), key=lambda r: r["event_id"])
    peaks = [r["peak"] for r in out]
    assert all(peaks[i + 1] >= peaks[i] for i in range(len(peaks) - 1))


def test_batch_twin_on_testdata_deterministic(spark):
    events = spark.read.parquet(f"{SF}/events.parquet")
    a = ST.ema_phase_batch(events).orderBy("user_id", "event_id").collect()
    b = ST.ema_phase_batch(events).orderBy("user_id", "event_id").collect()
    assert a == b
    assert len(a) == events.count()


def test_stream_equals_batch(spark, tmp_path):
    """The north check for ST1-ST7: the streaming program (two micro-batches,
    availableNow) produces the identical trace to the batch twin."""
    events = spark.read.parquet(f"{SF}/events.parquet") \
        .filter(F.col("user_id") < 20).select("user_id", "event_id", "ts", "value")
    # two time-ordered files → two micro-batches with maxFilesPerTrigger=1
    cut = events.agg(F.expr("percentile_approx(unix_millis(cast(ts as timestamp)), 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    events.filter(F.unix_millis(F.col("ts").cast("timestamp")) <= cut) \
        .coalesce(1).write.parquet(src + "/a=1")
    events.filter(F.unix_millis(F.col("ts").cast("timestamp")) > cut) \
        .coalesce(1).write.parquet(src + "/a=2")

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(src + "/a=*"))
    q = (ST.ema_phase_stream(stream)
         .writeStream.format("memory").queryName("trace")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.sql("select * from trace").orderBy("user_id", "event_id").collect()
    want = ST.ema_phase_batch(events).orderBy("user_id", "event_id").collect()
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g["event_id"] == w["event_id"]
        assert g["phase"] == w["phase"]
        assert g["capture"] == w["capture"]
        assert g["ema"] == pytest.approx(w["ema"], rel=1e-12)


def test_processing_time_cadence_with_backpressure(spark, tmp_path):
    """ST1: the reference's 0.25 s loop cadence (Char_Count_TurnTable.py:20,
    228-230) maps to trigger(processingTime='250 milliseconds') with
    maxFilesPerTrigger=1 as the bounded-queue backpressure analog — each
    tick admits one file, so the trace accumulates over several real
    micro-batches instead of one availableNow drain."""
    import time

    events = (spark.read.parquet(f"{SF}/events.parquet")
              .filter(F.col("user_id") < 5)
              .select("user_id", "event_id", "ts", "value").cache())
    n_total = events.count()
    src = str(tmp_path / "src")
    # three time-ordered files → three paced micro-batches
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    qs = events.agg(F.expr(
        "percentile_approx(unix_millis(cast(ts as timestamp)), array(0.33, 0.66))")
    ).collect()[0][0]
    parts = [events.filter(ms <= qs[0]),
             events.filter((ms > qs[0]) & (ms <= qs[1])),
             events.filter(ms > qs[1])]
    for i, p in enumerate(parts, 1):
        p.coalesce(1).write.parquet(src + f"/f={i}")

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/f=*"))
    q = (ST.ema_phase_stream(stream)
         .writeStream.format("memory").queryName("paced")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(processingTime="250 milliseconds").start())
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.sql("select count(*) from paced").collect()[0][0] == n_total:
                break
            time.sleep(0.25)
    finally:
        q.stop()
    got = spark.sql("select * from paced").orderBy("user_id", "event_id").collect()
    assert len(got) == n_total
    # backpressure: the data arrived over >= 3 separate micro-batches
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) >= 3, [p["numInputRows"] for p in q.recentProgress]
    assert all(p["numInputRows"] < n_total for p in data_batches)
    # and the paced trace still equals the batch twin
    want = ST.ema_phase_batch(events).orderBy("user_id", "event_id").collect()
    for g, w in zip(got, want):
        assert (g["event_id"], g["phase"], g["capture"]) == \
               (w["event_id"], w["phase"], w["capture"])


def test_rate_source_device_analog(spark, tmp_path):
    """S6/S7: frames from the rate source (webcam/DepthAI analog) drive the
    same stateful program; the source paces emission (backpressure bound)."""
    q = (ST.ema_phase_stream(ST.synthetic_frames_stream(spark, rows_per_second=200))
         .writeStream.format("memory").queryName("frames")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(processingTime="250 milliseconds").start())
    import time
    deadline = time.time() + 60
    try:
        while time.time() < deadline:
            if spark.sql("select count(*) from frames").collect()[0][0] >= 100:
                break
            time.sleep(0.25)
    finally:
        q.stop()
    rows = spark.sql("select * from frames").collect()
    assert len(rows) >= 100
    assert all(r["phase"] in ST.PHASES for r in rows)
    assert all(10.0 <= r["value"] <= 30.0 for r in rows)


def test_sessionize(spark):
    t0 = datetime(2024, 1, 1)
    rows = [(1, 1, t0, 1.0), (1, 2, t0 + timedelta(seconds=30), 1.0),
            (1, 3, t0 + timedelta(seconds=200), 1.0),
            (1, 4, t0 + timedelta(seconds=210), 1.0),
            (2, 5, t0, 1.0)]
    df = spark.createDataFrame(rows, "user_id bigint, event_id bigint, ts timestamp, value double")
    out = {r["event_id"]: r["session_seq"] for r in ST.sessionize(df, gap_sec=60).collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}


def test_interval_join_stream_equals_batch(spark, tmp_path):
    """Stream-stream interval join (watermarked both sides) produces the
    same pair set as the identical batch join condition."""
    events = (spark.read.parquet(f"{SF}/events.parquet")
              .filter(F.col("user_id") < 8)
              .select("user_id", "event_id", "ts", "value").cache())
    left_b = events.filter(F.col("event_id") % 2 == 0)
    right_b = events.filter(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "s")
    left_b.coalesce(1).write.parquet(src + "/left")
    right_b.coalesce(1).write.parquet(src + "/right")
    ls = spark.readStream.schema(events.schema).parquet(src + "/left")
    rs = spark.readStream.schema(events.schema).parquet(src + "/right")
    q = (ST.interval_join_stream(ls, rs, bound_sec=86400.0,
                                 watermark="2 days")
         .writeStream.format("memory").queryName("ivj")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["left_id"], r["right_id"])
           for r in spark.sql("select * from ivj").collect()}
    want = {(r["left_id"], r["right_id"])
            for r in ST.interval_join_stream(left_b, right_b,
                                             bound_sec=86400.0,
                                             watermark="2 days").collect()}
    assert got == want and len(want) > 0


def test_sessionize_stream_equals_batch(spark, tmp_path):
    """ST6 streaming twin: cross-micro-batch session continuation must
    reproduce the batch window form exactly."""
    events = (spark.read.parquet(f"{SF}/events.parquet")
              .filter(F.col("user_id") < 25)
              .select("user_id", "event_id", "ts", "value").cache())
    cut = events.agg(F.expr(
        "percentile_approx(unix_millis(cast(ts as timestamp)), 0.5)")).collect()[0][0]
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    src = str(tmp_path / "src")
    events.filter(ms <= cut).coalesce(1).write.parquet(src + "/a=1")
    events.filter(ms > cut).coalesce(1).write.parquet(src + "/a=2")
    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/a=*"))
    q = (ST.sessionize_stream(stream, gap_sec=600.0)
         .writeStream.format("memory").queryName("sess")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select * from sess").orderBy("user_id", "event_id").collect()
    want = (ST.sessionize(events, gap_sec=600.0)
            .select("user_id", "event_id", "ts", "session_seq")
            .orderBy("user_id", "event_id").collect())
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert (g["event_id"], g["session_seq"]) == (w["event_id"], w["session_seq"])


def test_sliding_window_stream_equals_batch(spark, tmp_path):
    """ST2 streaming-native form (r7 VERDICT #9): the watermarked
    SLIDING window agg must reproduce the batch twin exactly for every
    window the watermark finalized — events split across micro-batches,
    each event contributing to window/slide overlapping windows. A
    far-future sentinel pushes the watermark past all real windows so
    append mode emits them all; sentinel windows are excluded from the
    comparison (they can never finalize)."""
    t0 = datetime(2024, 1, 1)
    schema = "user_id bigint, event_id bigint, ts timestamp, value double"
    real = [(u, i, t0 + timedelta(seconds=s), float(v))
            for i, (u, s, v) in enumerate([
                (1, 0, 10.0), (1, 2, 14.0), (1, 3, 2.0), (1, 7, 30.0),
                (1, 11, 6.0), (2, 1, 5.0), (2, 6, 25.0), (2, 12, 1.0)])]
    sentinel = [(9, 999, t0 + timedelta(seconds=500), 0.0)]
    src = str(tmp_path / "src")
    spark.createDataFrame(real[:4], schema).coalesce(1) \
        .write.parquet(src + "/f=1")
    spark.createDataFrame(real[4:], schema).coalesce(1) \
        .write.parquet(src + "/f=2")
    spark.createDataFrame(sentinel, schema).coalesce(1) \
        .write.parquet(src + "/f=3")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/f=*"))
    q = (ST.sliding_spread_stream(stream, watermark="10 seconds",
                                  window="5 seconds", slide="1 second")
         .writeStream.format("memory").queryName("slide")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["window"]["start"], r["user_id"], r["n"], r["spread"])
                 for r in spark.sql("select * from slide").collect()
                 if r["user_id"] != 9)
    batch = ST.sliding_spread_batch(
        spark.createDataFrame(real, schema),
        window="5 seconds", slide="1 second")
    want = sorted((r["window"]["start"], r["user_id"], r["n"], r["spread"])
                  for r in batch.collect())
    assert got == want and len(got) > 0
    # sliding sanity: every event lands in window/slide = 5 windows
    assert sum(r[2] for r in got) == 5 * len(real)


def test_watermark_drops_late_events(spark, tmp_path):
    """ST2/ST8: an event arriving after its window has been finalized
    (watermark passed the window end in an earlier batch) is dropped and
    the window is emitted exactly once.

    Note the eviction semantics found empirically: a late row landing in
    the SAME batch where the watermark first crosses the window end is
    still merged (merge happens before eviction) — so a spacer batch
    separates finalization from the late arrival here.
    """
    t0 = datetime(2024, 1, 1)
    schema = "user_id bigint, event_id bigint, ts timestamp, value double"
    f1 = [(1, 0, t0, 1.0), (1, 1, t0 + timedelta(seconds=2), 5.0),
          (1, 2, t0 + timedelta(seconds=100), 9.0)]
    f2 = [(1, 3, t0 + timedelta(seconds=101), 2.0)]   # spacer: finalizes [0,5)
    f3 = [(1, 4, t0 + timedelta(seconds=2), 100.0),   # LATE: watermark is 91s
          (1, 5, t0 + timedelta(seconds=102), 3.0)]
    src = str(tmp_path / "src")
    for i, b in enumerate([f1, f2, f3], 1):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(src + f"/f={i}")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/f=*"))
    q = (ST.windowed_counts_stream(stream)
         .writeStream.format("memory").queryName("wm")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from wm").collect()
    emitted = [(r["window"]["start"].second, r["n"], r["spread"]) for r in rows]
    # [0,5) emitted once with the two on-time events; the late value=100.0
    # never appears (it would make spread 99.0 or re-emit the window)
    assert emitted.count((0, 2, 4.0)) == 1, emitted
    assert not any(r["spread"] == 99.0 for r in rows)


def test_extract_stream_equals_batch_with_checkpoint_restart(spark, tmp_path):
    """The flagship pipeline as a checkpointed streaming query: drain
    phase-A pages, RESTART from the checkpoint after phase-B files land,
    and the union of sink output must equal the batch extract_records
    over all pages — byte-identical text, no duplicates, no gaps."""
    from wine_label_ocr_spark.fixtures import pages_spark
    from wine_label_ocr_spark.plans.pipeline import extract_records
    from wine_label_ocr_spark.streaming.extract_stream import run_extract_stream

    src = str(tmp_path / "pages")
    out = str(tmp_path / "records")
    ck = str(tmp_path / "ck")

    pages_a = pages_spark(spark, 120, partitions=4)
    pages_b = pages_spark(spark, 240, partitions=8).filter(
        F.xxhash64("url").isNotNull()).join(
        pages_a.select("url"), "url", "left_anti")
    pages_a.write.mode("append").parquet(src)
    run_extract_stream(spark, src, out, ck, max_files_per_trigger=2)
    n_first = spark.read.parquet(out).count()
    assert n_first == 120

    # phase B: more files appear; a NEW query on the SAME checkpoint
    # resumes with only the unprocessed files (exactly-once records)
    pages_b.write.mode("append").parquet(src)
    run_extract_stream(spark, src, out, ck, max_files_per_trigger=2)

    got = spark.read.parquet(out).select("url", "custom_id", "text").collect()
    want = extract_records(spark.read.parquet(src)) \
        .select("url", "custom_id", "text").collect()
    gd = {r["url"]: (r["custom_id"], r["text"]) for r in got}
    wd = {r["url"]: (r["custom_id"], r["text"]) for r in want}
    assert len(got) == len(want) == 240  # no dupes (exactly-once resume)
    assert gd == wd  # stream ≡ batch, byte-identical text per url


def test_interval_join_stream_watermark_evicts_state_symmetrically(spark, tmp_path):
    """Watermark-lateness property (ST8, r3 VERDICT #10): once the
    watermark passes, state older than (watermark - bound) is evicted on
    BOTH sides identically — a very-late row in a later micro-batch can
    no longer match it, even though the same pair matches on event time
    alone (proved by the batch twin over ALL rows). On-time results stay
    exactly the batch twin over the on-time subset."""
    import glob
    import os
    import shutil

    t0 = datetime(2024, 1, 1)

    def rows_df(rows):
        return spark.createDataFrame(
            [(1, e, t0 + timedelta(seconds=s)) for e, s in rows],
            "user_id int, event_id int, ts timestamp")

    # batch A: pairs (100,200) |Δ|=2 and (101,201) |Δ|=1 match; 120/220
    # (ts 980/987, |Δ|=7) match nothing yet — they are the state the
    # watermark must evict
    a_left = [(100, 1000), (101, 1008), (120, 980)]
    a_right = [(200, 1002), (201, 1009), (220, 987)]
    # batch B: on-time rows; end-of-batch watermark ~999 evicts state
    # with ts < 994 on both sides (120 and 220)
    b_left = [(111, 1007)]
    b_right = [(211, 1006)]
    # batch C: very late rows whose ONLY event-time matches are the
    # now-evicted 220 (|990-987|=3) and 120 (|983-980|=3)
    c_left = [(130, 990)]
    c_right = [(230, 983)]

    src = tmp_path / "ivj_late"
    for side in ("left", "right"):
        (src / side).mkdir(parents=True)

    def ship(rows, side, name, mtime):
        stage = str(tmp_path / f"stage_{side}_{name}")
        rows_df(rows).coalesce(1).write.parquet(stage)
        part = glob.glob(stage + "/part-*.parquet")[0]
        dest = str(src / side / f"{name}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    base = 1_700_000_000
    for name, mt, lrows, rrows in (("a", base, a_left, a_right),
                                   ("b", base + 100, b_left, b_right),
                                   ("c", base + 200, c_left, c_right)):
        ship(lrows, "left", name, mt)
        ship(rrows, "right", name, mt)

    schema = "user_id int, event_id int, ts timestamp"
    ls = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(str(src / "left")))
    rs = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(str(src / "right")))
    q = (ST.interval_join_stream(ls, rs, bound_sec=5.0,
                                 watermark="10 seconds")
         .writeStream.format("memory").queryName("ivj_late")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_late"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 3  # really three micro-batches
    got = {(r["left_id"], r["right_id"])
           for r in spark.sql("select * from ivj_late").collect()}

    # on-time twin: batches A+B only (the C rows match nothing on time)
    want = {(r["left_id"], r["right_id"])
            for r in ST.interval_join_stream(
                rows_df(a_left + b_left), rows_df(a_right + b_right),
                bound_sec=5.0, watermark="10 seconds").collect()}
    assert len(want) > 0
    assert got == want
    # eviction was symmetric: neither the late-left x evicted-right pair
    # nor the evicted-left x late-right pair appears...
    assert (130, 220) not in got and (120, 230) not in got
    # ...even though both match on event time alone (batch twin, ALL rows)
    all_pairs = {(r["left_id"], r["right_id"])
                 for r in ST.interval_join_stream(
                     rows_df(a_left + b_left + c_left),
                     rows_df(a_right + b_right + c_right),
                     bound_sec=5.0, watermark="10 seconds").collect()}
    assert (130, 220) in all_pairs and (120, 230) in all_pairs


def test_dedup_stream_first_arrival_wins(spark, tmp_path):
    """Streaming exact dedup ≡ batch exact dedup on the same drain (one
    row per content key), exactly-once across micro-batches: a duplicate
    arriving in a LATER micro-batch is dropped by the checkpointed key
    state; whitespace-variant duplicates collapse (same canonical key)."""
    import glob
    import shutil

    rows_a = [("u1", "the same content here"),
              ("u2", "something else entirely")]
    rows_b = [("u3", "the  same   content here"),   # ws-variant dup of u1
              ("u4", "fresh in batch two")]

    src = tmp_path / "dd_src"
    src.mkdir()

    def ship(rows, name, mtime):
        import os
        stage = str(tmp_path / f"dd_stage_{name}")
        spark.createDataFrame(rows, "url string, text string") \
            .coalesce(1).write.parquet(stage)
        part = glob.glob(stage + "/part-*.parquet")[0]
        dest = str(src / f"{name}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    base = 1_700_000_000
    ship(rows_a, "a", base)
    ship(rows_b, "b", base + 100)

    from wine_label_ocr_spark.streaming.extract_stream import dedup_stream
    st = (spark.readStream.schema("url string, text string")
          .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = (dedup_stream(st)
         .writeStream.format("memory").queryName("dd_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "dd_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 2  # really two micro-batches
    got = {r["url"] for r in spark.sql("select * from dd_out").collect()}
    assert got == {"u1", "u2", "u4"}  # u3 deduped across batches

    # batch twin keeps one row per key too (tie-break differs by design)
    from wine_label_ocr_spark.operators.dedupe import exact_dedup
    allrows = spark.createDataFrame(rows_a + rows_b, "url string, text string")
    batch = exact_dedup(allrows.withColumn("doc_id", F.xxhash64("url")),
                        id_col="doc_id")
    assert batch.count() == 3


def test_incremental_dedup_stream_equals_batch(spark, tmp_path):
    """Streaming crawl-over-crawl dedup ≡ batch incremental_dedup on the
    same arriving docs vs the same prior fingerprint store; stateless
    (no watermark), so it works across micro-batches trivially."""
    import glob
    import shutil

    base = ("the quick brown fox jumps over the lazy dog while autumn "
            "wind carries dry leaves across the old stone bridge")
    prior = spark.createDataFrame(
        [(1, base), (2, "completely unrelated prior page about spark "
                        "shuffles and adaptive execution plans")],
        "doc_id bigint, text string")
    from wine_label_ocr_spark.operators.dedupe import (
        incremental_dedup, snapshot_fingerprints)
    fps = snapshot_fingerprints(prior).cache()

    arriving = [
        (10, base),                                   # exact dup of prior 1
        (11, base.replace("quick", "rapid")),         # near dup -> band hit
        (12, "genuinely new content about gzip warc shard manifests "
             "and politeness scheduling for crawl frontiers"),
        (13, "another fresh page mentioning product quantization codes "
             "and asymmetric distance computation tables"),
    ]
    new_df = spark.createDataFrame(arriving, "doc_id bigint, text string")
    want = {r["doc_id"] for r in incremental_dedup(new_df, fps).collect()}
    assert 10 not in want and 12 in want and 13 in want

    src = tmp_path / "inc_src"
    src.mkdir()
    stage = str(tmp_path / "inc_stage")
    new_df.coalesce(1).write.parquet(stage)
    shutil.copy(glob.glob(stage + "/part-*.parquet")[0],
                str(src / "a.parquet"))

    from wine_label_ocr_spark.streaming.extract_stream import (
        incremental_dedup_stream)
    st = spark.readStream.schema("doc_id bigint, text string") \
        .parquet(str(src))
    q = (incremental_dedup_stream(st, fps)
         .writeStream.format("memory").queryName("inc_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "inc_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("select * from inc_out").collect()}
    assert got == want


def test_stream_membership_plans_are_left_anti(spark, tmp_path):
    """The streaming crawl candidates and the streaming crawl-over-crawl
    dedup test store membership with the batch operators' LEFT ANTI
    joins, not a LEFT OUTER join plus an IS NULL filter: a seen store
    adds one LeftAnti join to the candidates plan and no LeftOuter join
    (the robots verdict's host join is a left join with or without it),
    and the dedup plan anti-joins once per tier."""
    from wine_label_ocr_spark.operators.dedupe import snapshot_fingerprints
    from wine_label_ocr_spark.plans.crawl import seen_url_fps
    from wine_label_ocr_spark.streaming.extract_stream import (
        crawl_candidates_stream, incremental_dedup_stream)

    def joins(df):
        plan = df._jdf.queryExecution().analyzed().toString()
        return plan.count("LeftAnti"), plan.count("LeftOuter")

    (tmp_path / "pages").mkdir()
    (tmp_path / "docs").mkdir()
    pages = spark.readStream.schema("url string, html string") \
        .parquet(str(tmp_path / "pages"))
    robots = spark.createDataFrame([("a.com", "User-agent: *\nAllow: /")],
                                   "host string, robots_txt string")
    seen = seen_url_fps(spark.createDataFrame([("https://a.com/x",)],
                                              "url string"))
    anti, outer = joins(crawl_candidates_stream(pages, robots))
    assert joins(crawl_candidates_stream(pages, robots, seen)) \
        == (anti + 1, outer)

    docs = spark.readStream.schema("doc_id bigint, text string") \
        .parquet(str(tmp_path / "docs"))
    fps = snapshot_fingerprints(spark.createDataFrame(
        [(1, "some prior text")], "doc_id bigint, text string"))
    assert joins(incremental_dedup_stream(docs, fps, n_perm=8,
                                          n_bands=2)) == (3, 0)
