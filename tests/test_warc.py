"""WARC source tests: roundtrip fidelity + full pipeline byte-identity."""

from __future__ import annotations

from wine_label_ocr_spark.fixtures import pages_pandas
from wine_label_ocr_spark.sources.warc import (
    parse_warc_bytes, read_warc, write_warc, write_warc_shards)

N = 80


def _shards(tmp_path, n_shards=3):
    pdf = pages_pandas(N)
    rows = pdf.to_dict("records")
    per = (N + n_shards - 1) // n_shards
    for i in range(n_shards):
        write_warc(str(tmp_path / f"shard-{i:03d}.warc"),
                   rows[i * per:(i + 1) * per])
    return pdf


def test_warc_roundtrip_bytes(tmp_path, spark):
    pdf = _shards(tmp_path)
    got = read_warc(spark, str(tmp_path / "*.warc")).collect()
    assert len(got) == N
    by_url = {r["url"]: r for r in got}
    for _, want in pdf.iterrows():
        g = by_url[want["url"]]
        assert bytes(g["html"]) == bytes(want["html"])  # payload byte-exact
        assert g["warc_ts"] == want["warc_ts"]
        assert g["lang"] == want["lang"]


def test_warc_parallelism_is_shard_count(tmp_path, spark):
    _shards(tmp_path, n_shards=3)
    df = read_warc(spark, str(tmp_path / "*.warc"))
    # one task per shard: the binaryFile scan yields >= 3 partition splits
    assert df.rdd.getNumPartitions() >= 1
    assert df.count() == N


def test_warc_pipeline_byte_identity(tmp_path, spark):
    """Pages read from WARC shards extract byte-identically — the engine
    consumes a crawl directly, not just parquet."""
    from pyspark.sql import functions as F
    from wine_label_ocr_spark.plans.pipeline import extract_records

    pdf = _shards(tmp_path)
    pages = read_warc(spark, str(tmp_path / "*.warc"))
    rec = extract_records(pages).select("url", "text")
    truth = {r["url"]: r["text"] for _, r in pdf.iterrows()}
    got = rec.collect()
    assert len(got) == N
    assert all(truth[r["url"]] == r["text"] for r in got)


def test_warc_tolerates_truncation_and_junk(tmp_path, spark):
    pdf = pages_pandas(6)
    path = str(tmp_path / "bad.warc")
    write_warc(path, pdf.to_dict("records"))
    blob = open(path, "rb").read()
    # junk prefix + truncated final record
    open(path, "wb").write(b"JUNKJUNK" + blob[:-40])
    got = list(parse_warc_bytes(open(path, "rb").read()))
    assert 4 <= len(got) <= 6  # earlier records survive, tail dropped
    assert read_warc(spark, path).count() == len(got)


def test_warc_gz_roundtrip(tmp_path, spark):
    """.warc.gz shards (concatenated per-record gzip members — the real
    Common-Crawl layout) read back byte-identical via the same scan."""
    import gzip
    pdf = pages_pandas(N)
    rows = pdf.to_dict("records")
    per = (N + 2) // 3
    for i in range(3):
        write_warc(str(tmp_path / f"shard-{i:03d}.warc.gz"),
                   rows[i * per:(i + 1) * per], compress=True)
    # each shard really is a multi-member gzip stream
    blob = open(tmp_path / "shard-000.warc.gz", "rb").read()
    assert blob[:2] == b"\x1f\x8b"
    assert gzip.decompress(blob).startswith(b"WARC/1.0\r\n")
    got = read_warc(spark, str(tmp_path / "*.warc.gz")).collect()
    assert len(got) == N
    want = {r["url"]: bytes(r["html"]) for r in pdf.to_dict("records")}
    assert all(bytes(r["html"]) == want[r["url"]] for r in got)


def test_warc_gz_tolerates_truncated_member(tmp_path):
    """A shard cut mid-gzip-member yields every fully-decoded record and
    never raises (ST8)."""
    pdf = pages_pandas(6)
    path = tmp_path / "trunc.warc.gz"
    write_warc(str(path), pdf.to_dict("records"), compress=True)
    blob = open(path, "rb").read()
    got = list(parse_warc_bytes(blob[:-30]))  # chop into the last member
    assert 4 <= len(got) <= 6
    # garbage that merely starts with the magic decodes to zero records
    assert list(parse_warc_bytes(b"\x1f\x8bgarbage not gzip at all")) == []


def test_write_warc_shards_gz_roundtrip(tmp_path, spark):
    """Distributed gz export: per-record gzip members, atomic publish,
    byte-identical readback."""
    from wine_label_ocr_spark.fixtures import pages_spark
    out = str(tmp_path / "export_gz")
    pages = pages_spark(spark, 60, partitions=3)
    manifest = write_warc_shards(pages, out, n_shards=3, compress=True).collect()
    assert sum(r["n_records"] for r in manifest) == 60
    import os
    assert all(f.endswith(".warc.gz") for f in os.listdir(out))
    back = read_warc(spark, out + "/*.warc.gz").collect()
    want = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    assert len(back) == 60
    assert all(bytes(r["html"]) == want[r["url"]] for r in back)


def test_write_warc_shards_roundtrip(tmp_path, spark):
    """Distributed export: shards written task-side (atomic rename), read
    back byte-identical; manifest counts match."""
    from wine_label_ocr_spark.fixtures import pages_spark
    out = str(tmp_path / "export")
    pages = pages_spark(spark, 60, partitions=3)
    manifest = write_warc_shards(pages, out, n_shards=3).collect()
    assert sum(r["n_records"] for r in manifest) == 60
    assert len([r for r in manifest if r["n_records"] > 0]) == 3
    back = read_warc(spark, out + "/*.warc").collect()
    want = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    assert len(back) == 60
    assert all(bytes(r["html"]) == want[r["url"]] for r in back)
    import os
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]


# ---- HTTP response envelope (the real Common-Crawl record layout) ----

def _cc_record(html: bytes, url="http://example.com/page",
               charset="UTF-8", chunked=False) -> bytes:
    """A CC-faithful response record: WARC headers with
    ``Content-Type: application/http; msgtype=response``, body = full HTTP
    response message (status line + headers + CRLFCRLF + entity)."""
    if chunked:
        entity = (f"{len(html):x}\r\n".encode() + html + b"\r\n0\r\n\r\n")
        te = b"Transfer-Encoding: chunked\r\n"
    else:
        entity = html
        te = b"Content-Length: %d\r\n" % len(html)
    http = (b"HTTP/1.1 200 OK\r\n"
            b"Server: Apache\r\n"
            b"Content-Type: text/html; charset=" + charset.encode() + b"\r\n"
            + te + b"\r\n" + entity)
    head = (b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Record-ID: <urn:uuid:3b1a6f7e-0000-4000-8000-000000000001>\r\n"
            b"WARC-Target-URI: " + url.encode() + b"\r\n"
            b"WARC-Date: 2025-03-01T00:00:00.000000Z\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n")
    return head + http + b"\r\n\r\n"


def test_warc_http_envelope_stripped():
    """An enveloped record yields the HTML entity, not the HTTP message."""
    html = b"<html><body><p>Grand Cru 2015 vintage notes</p></body></html>"
    got = list(parse_warc_bytes(_cc_record(html)))
    assert len(got) == 1
    url, ts, payload, lang, http_charset = got[0]
    assert payload == html              # no "HTTP/1.1 200 OK" prefix
    assert http_charset == "utf-8"      # surfaced from the HTTP header
    assert url == "http://example.com/page"


def test_warc_http_envelope_chunked():
    html = b"<html><body>" + b"x" * 300 + b"</body></html>"
    got = list(parse_warc_bytes(_cc_record(html, chunked=True)))
    assert len(got) == 1
    assert got[0][2] == html


def test_warc_http_charset_beats_meta(spark, tmp_path):
    """RFC 9110: the transport charset outranks the in-document meta tag.
    A cp1252 body whose meta claims utf-8 decodes correctly only via the
    HTTP header charset."""
    from wine_label_ocr_spark.oracle import extract
    body_txt = ('<html><head><meta charset="utf-8"></head><body><p>'
                'Ch\u00e2teau P\u00e9trus \u2014 caf\u00e9. '
                + 'A long tasting note keeps this block past the '
                  'main-content gate. ' * 6
                + '</p></body></html>')
    payload = body_txt.encode("cp1252")
    # without the HTTP charset: meta wins, mojibake
    assert extract(payload, "u")["charset"] == "utf-8"
    # with it: cp1252, clean decode
    r = extract(payload, "u", http_charset="windows-1252")
    assert r["charset"] == "cp1252"
    assert "Ch\u00e2teau P\u00e9trus \u2014 caf\u00e9" in r["text"]
    # and end-to-end through the Spark reader + segmenter
    import pandas as pd
    rec = _cc_record(payload, charset="windows-1252")
    p = tmp_path / "cp1252.warc"
    p.write_bytes(rec)
    from wine_label_ocr_spark.plans.pipeline import extract_records
    pages = read_warc(spark, str(p))
    row = extract_records(pages).select(
        "blob_data.mask_info.note", "text").collect()[0]
    assert row["note"] == "cp1252"
    assert "Ch\u00e2teau P\u00e9trus" in row["text"]


def test_warc_envelope_roundtrip_byte_identity(tmp_path, spark):
    """write(http_envelope=True) → read strips the envelope back to the
    original payload; the extraction gate path stays byte-identical."""
    pdf = pages_pandas(40)
    write_warc(str(tmp_path / "env.warc.gz"), pdf.to_dict("records"),
               compress=True, http_envelope=True)
    blob = open(tmp_path / "env.warc.gz", "rb").read()
    import gzip
    assert b"HTTP/1.1 200 OK\r\n" in gzip.decompress(blob)  # envelope on disk
    got = read_warc(spark, str(tmp_path / "*.warc.gz")).collect()
    want = {r["url"]: bytes(r["html"]) for r in pdf.to_dict("records")}
    assert len(got) == 40
    assert all(bytes(r["html"]) == want[r["url"]] for r in got)
    assert all(r["http_charset"] is not None for r in got)


def test_warc_malformed_envelope_degrades_to_raw():
    """A record labelled application/http whose body is not an HTTP message
    passes through unchanged (ST8), as does broken chunk framing."""
    from wine_label_ocr_spark.sources.warc import strip_http_envelope
    assert strip_http_envelope(b"<html>no status line</html>") == \
        (b"<html>no status line</html>", None)
    assert strip_http_envelope(b"HTTP/1.1 200 OK\r\nno terminator") == \
        (b"HTTP/1.1 200 OK\r\nno terminator", None)
    # chunked declared but garbage framing -> raw body kept
    bad = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
           b"NOTHEX\r\nbody")
    assert strip_http_envelope(bad)[0] == b"NOTHEX\r\nbody"
    # chunk not followed by its CRLF separator -> malformed framing,
    # degrade to the raw body instead of misparsing the next bytes
    noCRLF = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
              b"4\r\nabcdXX5\r\nhello\r\n0\r\n\r\n")
    assert strip_http_envelope(noCRLF)[0] == \
        b"4\r\nabcdXX5\r\nhello\r\n0\r\n\r\n"
    # chunk ending exactly at end-of-body (separator absent, not wrong)
    tail = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"4\r\nabcd")
    assert strip_http_envelope(tail)[0] == b"abcd"


def test_wat_sidecar_roundtrip(spark, tmp_path):
    """WAT export: metadata-type records whose JSON envelopes carry the
    page's title and outlinks; readable back through the normal WARC
    reader; distributed writer manifest accounts for every page."""
    import glob
    import gzip
    import json
    from datetime import datetime

    from wine_label_ocr_spark.sources.warc import read_warc, write_wat_shards

    rows = [
        ("https://a.com/1", datetime(2024, 1, 1, 12, 0, 0),
         b'<html><head><title>Page One</title></head>'
         b'<a href="https://b.com/x">l</a><a href="/rel">r</a></html>', "en"),
        ("https://a.com/2", datetime(2024, 1, 2, 12, 0, 0),
         b"<html><body>no title no links</body></html>", "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, lang string")
    out = str(tmp_path / "wat")
    manifest = write_wat_shards(pages, out, n_shards=2).collect()
    assert sum(m["n_records"] for m in manifest) == 2
    files = glob.glob(out + "/*.warc.gz")
    assert files and not glob.glob(out + "/*.tmp")

    # record type is metadata and the envelope parses
    raw = gzip.decompress(open(files[0], "rb").read())
    assert b"WARC-Type: metadata" in raw

    back = {r["url"]: bytes(r["html"]).decode("utf-8")
            for r in read_warc(spark, out + "/*.warc.gz",
                               record_types=("metadata",)).collect()}
    # the corpus reader (response-only) correctly sees an empty sidecar
    assert read_warc(spark, out + "/*.warc.gz").count() == 0
    assert set(back) == {"https://a.com/1", "https://a.com/2"}
    env1 = json.loads(back["https://a.com/1"])["Envelope"]
    assert env1["WARC-Header-Metadata"]["WARC-Target-URI"] == "https://a.com/1"
    hm = env1["Payload-Metadata"]["HTTP-Response-Metadata"]["HTML-Metadata"]
    assert hm["Head"]["Title"] == "Page One"
    assert [e["url"] for e in hm["Links"]] == ["https://b.com/x", "/rel"]
    env2 = json.loads(back["https://a.com/2"])["Envelope"]
    hm2 = env2["Payload-Metadata"]["HTTP-Response-Metadata"]["HTML-Metadata"]
    assert hm2["Head"]["Title"] is None
    assert hm2["Links"] == []


def test_warc_gate_shard_dirs_pruned_per_sf(tmp_path):
    """The WARC, WAT and WET gates name their shard caches per gate and
    sf and, after publishing a new one, remove the same gate's and sf's
    other tags and the gate's published dirs of the older naming with no
    sf key: other sf values, other gates and in-flight staging dirs
    stay."""
    import os

    import __spark_entry__ as E

    kept = set()
    for kind in ("warc", "wat", "wet"):
        new = E._shard_dir(str(tmp_path), kind, "/data/sf0.01", "bbbbbbbbbb")
        old = E._shard_dir(str(tmp_path), kind, "/data/sf0.01", "aaaaaaaaaa")
        other_sf = E._shard_dir(str(tmp_path), kind, "/data/sf0.001",
                                "aaaaaaaaaa")
        staging = old + ".stage-0123"
        legacy = str(tmp_path / f"wlos_{kind}_cccccccccc")
        legacy_staging = legacy + ".stage-4567"
        for d in (new, old, other_sf, staging, legacy, legacy_staging):
            os.mkdir(d)
            open(os.path.join(d, "part-0.warc.gz"), "wb").close()
        before = set(os.listdir(tmp_path))
        assert sorted(E._prune_shards(new)) == sorted(
            os.path.basename(d) for d in (old, legacy))
        assert before - set(os.listdir(tmp_path)) == {
            os.path.basename(d) for d in (old, legacy)}
        kept |= {os.path.basename(d)
                 for d in (new, other_sf, staging, legacy_staging)}
    assert sorted(os.listdir(tmp_path)) == sorted(kept)
