"""Golden byte-identity tests: Spark pipeline vs. ground truth vs. oracle.

The north-rule gate (BASELINE.json): per-url extracted text from the Spark
pipeline must be byte-identical to the frozen oracle's output — which the
fixture generator guarantees equals the ground-truth ``text`` column.
"""

from __future__ import annotations

import pytest

from wine_label_ocr_spark import oracle
from wine_label_ocr_spark.fixtures import PAGES_DDL, make_page, pages_spark
from wine_label_ocr_spark.plans.pipeline import extract_records

N_PAGES = 400


@pytest.fixture(scope="module")
def records(spark):
    pages = pages_spark(spark, N_PAGES, partitions=4)
    return extract_records(pages).cache()


def test_text_byte_identity(records):
    got = {r["url"]: r["text"] for r in records.collect()}
    assert len(got) == N_PAGES
    for i in range(N_PAGES):
        p = make_page(i)
        assert got[p["url"]] == p["text"], (i, p["kind"], p["lang"])


def test_fields_match_oracle(records):
    rows = {r["url"]: r for r in records.collect()}
    for i in range(N_PAGES):
        p = make_page(i)
        o = oracle.extract(p["html"], p["url"])
        r = rows[p["url"]]
        assert r["vintage"] == o["year"], (i, p["kind"])
        assert r["maker_name"] == o["maker_name"], i
        assert r["custom_id"] == o["custom_id"], i
        assert r["rec_id"] == o["rec_id"], i
        assert r["fingerprint"] == o["fingerprint"], i
        assert r["barcode"] == p["canonical"], i


def test_spans_struct(records):
    row = records.filter("blob_data.blob_count > 0").first()
    spans = row["blob_data"]["spans"]
    assert len(spans) == row["blob_data"]["blob_count"]
    s0 = spans[0]
    assert s0["end"] > s0["start"] >= 0
    assert 0.0 <= s0["solidity"] <= 1.0
    # roi_bbox covers [first span start, last span end]
    assert row["blob_data"]["roi_bbox"] == [spans[0]["start"], spans[-1]["end"]]


def test_extract_plan_has_no_shuffle(records):
    """Scale property: the extract path is a pure map — no Exchange node."""
    plan = records._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_generation_is_partition_invariant(spark):
    """pages_spark yields identical rows at different parallelism (the
    precondition for the N-vs-4N scaling claim to be apples-to-apples)."""
    a = pages_spark(spark, 50, partitions=1).select("url", "text").collect()
    b = pages_spark(spark, 50, partitions=7).select("url", "text").collect()
    assert sorted((r["url"], r["text"]) for r in a) == \
        sorted((r["url"], r["text"]) for r in b)


def test_pages_schema_matches_input_hint(spark):
    df = pages_spark(spark, 5, partitions=1)
    assert [f.simpleString() for f in df.schema.fields] == [
        "url:string", "warc_ts:timestamp", "html:binary",
        "text:string", "lang:string"]
    assert PAGES_DDL.startswith("url string")


def test_raw_candidate_buckets(records):
    """FIXTURES.md §2 `raw` column — MAP<bucket, ARRAY<STRUCT<text,conf>>>,
    the ocr_raw analog (final_run_ocr.py:325-340)."""
    row = records.filter("vintage is not null and blob_data.blob_count > 0").first()
    raw = row["raw"]
    assert set(raw.keys()) == {"title", "year_candidates", "blocks"}
    assert raw["title"][0]["conf"] == 1.0
    assert any(c["text"] == str(row["vintage"]) for c in raw["year_candidates"]) \
        or raw["year_candidates"] == []  # year may come from the raw_text fallback
    assert all(0.0 <= b["conf"] <= 1.1 for b in raw["blocks"])
    assert row["text"].startswith(raw["blocks"][0]["text"][:10])


# ---------------------------------------------------------------------------
# oracle.record pinned value by value on hand-built extract results
# ---------------------------------------------------------------------------

def _span(start, end, score):
    return {"start": start, "end": end, "tag": "p", "cx": 0.5, "cy": 0.5,
            "area": 10.0, "aspect_ratio": 1.0, "solidity": 1.0,
            "extent": 1.0, "score": score}


_EXTRACT_KEYS = ("text", "title", "maker_name", "year", "year_candidates",
                 "custom_id", "rec_id", "barcode", "method", "charset",
                 "n_blocks", "kept_blocks", "raw_chars", "fingerprint",
                 "spans")


def test_record_values_pinned():
    """``blob_data`` and ``raw`` on ``extract`` results that hit each
    branch: no "19"/"20" in the text, an out-of-range year next to an
    in-range one, no title, no span and a PDF. The ``extract`` fields pass
    through unchanged."""
    t_none = "Chateau red wine, 3 bottles and a long tail of text"
    t_years = "Bottled in 2045 and 1999; lot 12019."
    t_null_title = "Vintage 1985 reserve"
    t_pdf = "Domaine X 2010 release notes for the trade"
    rows = {
        "u/no-year": (
            t_none, "Château Margaux!  Grand  Vin",
            "CHTEAU MARGAUX GRAND VIN", None, [], None, None,
            "https://c/1", "html", "utf-8", 4, 2, 80, "fp1",
            [_span(0, 10, 0.9), _span(12, 30, 0.7)]),
        "u/years": (
            t_years, "opus one", "OPUS ONE", 1999, ["1999"],
            "OPUS ONE|1999", "57bf28723bda", None, "html", "latin-1", 1, 1,
            0, "fp2", [_span(0, 36, 1.0)]),
        "u/null-title": (
            t_null_title, None, None, 1985, ["1985"], None, None, None,
            "html", "utf-8", 1, 1, 20, "fp4", [_span(0, 20, 0.8)]),
        "u/no-spans": (
            "short", "A&B Wines - 'Cuvée'", "A&B WINES - 'CUVE'", None, [],
            None, None, None, "html", "utf-8", 0, 0, 5, "fp5", []),
        "u/pdf": (
            t_pdf, "Domaine X", "DOMAINE X", 2010, ["2010"],
            "DOMAINE X|2010", "66dfbea4045d", None, "pdf", None, 4, 4, 42,
            "fp6", [_span(0, 9, 0.6), _span(10, 14, 0.4),
                    _span(15, 22, 0.3), _span(23, 23, 0.1)]),
    }
    got = {}
    for url, values in rows.items():
        rec = dict(zip(_EXTRACT_KEYS, values), url=url)
        r = oracle.record(rec)
        assert {k: r[k] for k in ("custom_id", "maker_name", "barcode",
                                  "fingerprint", "rec_id", "text")} == \
            {k: rec[k] for k in ("custom_id", "maker_name", "barcode",
                                 "fingerprint", "rec_id", "text")}, url
        assert r["vintage"] == rec["year"], url
        assert r["blob_data"]["spans"] == rec["spans"], url
        assert list(r["raw"]) == ["title", "year_candidates", "blocks"]
        got[url] = r

    def fields(url):
        blob = dict(got[url]["blob_data"])
        blob.pop("spans")
        return blob, got[url]["raw"]

    def mask(method, ratio, note):
        return {"method": method, "foreground_ratio": ratio, "note": note}

    def cands(*pairs):
        return [{"text": t, "conf": c} for t, c in pairs]

    assert fields("u/no-year") == (
        {"roi_bbox": [0, 30], "roi_shape": [4, len(t_none)],
         "mask_info": mask("html", len(t_none) / 80, "utf-8"),
         "blob_count": 2, "fingerprint": "fp1"},
        {"title": cands(("Château Margaux!  Grand  Vin", 1.0)),
         "year_candidates": [],
         "blocks": cands((t_none[0:40], 0.9), (t_none[12:52], 0.7))})
    assert fields("u/years") == (
        {"roi_bbox": [0, 36], "roi_shape": [1, len(t_years)],
         "mask_info": mask("html", float(len(t_years)), "latin-1"),
         "blob_count": 1, "fingerprint": "fp2"},
        {"title": cands(("opus one", 1.0)),
         "year_candidates": cands(("1999", 1.0)),
         "blocks": cands((t_years, 1.0))})
    assert fields("u/null-title") == (
        {"roi_bbox": [0, 20], "roi_shape": [1, len(t_null_title)],
         "mask_info": mask("html", 1.0, "utf-8"),
         "blob_count": 1, "fingerprint": "fp4"},
        {"title": cands(("", 1.0)), "year_candidates": cands(("1985", 1.0)),
         "blocks": cands((t_null_title, 0.8))})
    assert fields("u/no-spans") == (
        {"roi_bbox": [0, 0], "roi_shape": [0, 5],
         "mask_info": mask("html", 1.0, "utf-8"),
         "blob_count": 0, "fingerprint": "fp5"},
        {"title": cands(("A&B Wines - 'Cuvée'", 1.0)), "year_candidates": [],
         "blocks": []})
    assert fields("u/pdf") == (
        {"roi_bbox": [0, 23], "roi_shape": [4, len(t_pdf)],
         "mask_info": mask("pdf", 1.0, None),
         "blob_count": 4, "fingerprint": "fp6"},
        {"title": cands(("Domaine X", 1.0)),
         "year_candidates": cands(("2010", 1.0)),
         "blocks": cands((t_pdf[0:40], 0.6), (t_pdf[10:50], 0.4),
                         (t_pdf[15:55], 0.3))})


def test_unicode_digit_year_candidate(spark):
    """Python's ``\\d`` (the reference's engine) also matches non-ASCII
    decimal digits: "20٢٣" is the year 2023, and the same match is the
    raw year candidate (Java regex's ``\\d`` is ASCII-only, so the pattern
    must not run in Spark SQL)."""
    from datetime import datetime

    html = ("<html><head><title>Harvest</title></head><body><p>The harvest "
            "of 20٢٣ was small but very fine indeed.</p></body></html>")
    pages = spark.createDataFrame(
        [("https://u.test/1", datetime(2024, 1, 1), html.encode(), None, "en")],
        PAGES_DDL)
    r = extract_records(pages).first()
    cands = [c["text"] for c in r["raw"]["year_candidates"]]
    assert r["vintage"] == 2023
    assert cands == ["20٢٣"] and int(cands[0]) == r["vintage"]


def test_extract_records_plan_build_round_trips(spark):
    """Building the extract plan stays a few py4j round trips: the record
    is finished inside the ``mapInArrow``, not by a ``withColumn`` chain
    of Column builders (~1,000 round trips per build)."""
    import gc
    import threading

    import py4j.clientserver as cs

    from wine_label_ocr_spark.fixtures import pages_spark

    def build():
        extract_records(pages_spark(spark, 10, partitions=2))

    build()  # warm the session's first-use lookups
    gc.collect()
    orig = cs.ClientServerConnection.send_command
    calls = [0]
    build_thread = threading.get_ident()

    # only the building thread's commands: py4j's finalizer thread sends
    # the memory-delete commands of objects freed earlier whenever it runs
    def counting(self, *args, **kwargs):
        calls[0] += threading.get_ident() == build_thread
        return orig(self, *args, **kwargs)

    cs.ClientServerConnection.send_command = counting
    try:
        build()
    finally:
        cs.ClientServerConnection.send_command = orig
    assert calls[0] <= 200, calls[0]


@pytest.mark.parametrize("name", [
    "extract_fields_pipeline", "extract_pdf_pipeline", "head_meta",
    "warc_extract"])
def test_extract_gate_matches_oracle(oracle_gate, name):
    oracle_gate(name)


def _canon_row(v):
    """Spark-collected value → JSON-able form: floats as ``repr``, rows and
    maps as ``[key, value]`` pairs in their stored order."""
    from datetime import datetime

    from pyspark.sql import Row
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, Row):
        return [[k, _canon_row(x)] for k, x in zip(v.__fields__, v)]
    if isinstance(v, dict):
        return [[k, _canon_row(x)] for k, x in v.items()]
    if isinstance(v, list):
        return [_canon_row(x) for x in v]
    if isinstance(v, datetime):
        return v.isoformat()
    return v


def test_extract_records_golden_digest(spark):
    """Every column of every ``extract_records`` row (``blob_data`` and
    ``raw`` included) over make_page(0..499) plus the oracle's edge HTML
    documents (latin-1, ``http_charset``, no span, no title) and edge PDFs,
    sorted by url and hashed as canonical JSON."""
    import hashlib
    import json
    from datetime import datetime

    from wine_label_ocr_spark.fixtures import _make_pdf
    from test_oracle import _GOLDEN_EDGE_DOCS, _GOLDEN_EDGE_PDFS

    ts = datetime(2024, 1, 1)
    rows = [(p["url"], p["warc_ts"], p["html"], p["text"], p["lang"], None)
            for p in map(make_page, range(500))]
    for k, (doc, cs) in enumerate(_GOLDEN_EDGE_DOCS):
        payload = doc if isinstance(doc, bytes) else doc.encode("utf-8")
        rows.append((f"u/edge/{k}", ts, payload, None, "en", cs))
    for k, payload in enumerate(_GOLDEN_EDGE_PDFS):
        rows.append((f"u/pdf/{k}", ts, payload, None, "en", None))
    paras = ["Chateau (nested (parens)) \\ back 2015", "second 1999"]
    for flavor in range(7):
        rows.append((f"u/flavor/{flavor}", ts,
                     _make_pdf(paras, "Tît (le)", flavor=flavor), None, "fr",
                     None))
    pages = spark.createDataFrame(rows, PAGES_DDL + ", http_charset string")
    got = sorted(extract_records(pages).collect(), key=lambda r: r["url"])
    assert len(got) == len(rows)
    h = hashlib.sha256()
    for r in got:
        h.update(json.dumps(_canon_row(r), ensure_ascii=False)
                 .encode("utf-8"))
        h.update(b"\n")
    assert h.hexdigest() == (
        "81a56522ee811b307affb1566e9e2366aaff14000f85e07a973f5956c78fd2f6")
