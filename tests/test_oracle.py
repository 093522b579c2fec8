"""Unit tests for the frozen oracle extractor (pure Python, no Spark)."""

from __future__ import annotations

import pytest

from wine_label_ocr_spark import oracle
from wine_label_ocr_spark.fixtures import make_page


def test_byte_identity_over_fixture_corpus():
    """The north-rule gate at the pure-Python level: the oracle recovers the
    generator's ground-truth text/title/year/canonical link exactly, across
    all page kinds (html / pdf / degraded / latin-1)."""
    kinds = set()
    for i in range(1500):
        p = make_page(i)
        r = oracle.extract(p["html"], p["url"])
        assert r["text"] == p["text"], (i, p["kind"])
        assert r["title"] == p["title"], (i, p["kind"])
        assert r["year"] == p["year"], (i, p["kind"])
        assert r["barcode"] == p["canonical"], (i, p["kind"])
        kinds.add(p["kind"])
    assert kinds == {"html", "pdf", "degraded"}


def test_normalize_maker_reference_semantics():
    # _normalize_maker (final_run_ocr.py:353-359): upper, whitelist, collapse
    assert oracle.normalize_maker("  Opus   One ") == "OPUS ONE"
    assert oracle.normalize_maker("Château Margaux") == "CHTEAU MARGAUX"
    assert oracle.normalize_maker("a&b's-c.d,e!") == "A&B'S-CDE"
    assert oracle.normalize_maker("") is None
    assert oracle.normalize_maker("...") is None
    assert oracle.normalize_maker(None) is None


def test_normalize_maker_idempotent():
    # property from SURVEY.md §5.4: E7 ∘ E7 = E7
    for s in ["Opus One", "château &  co", "A  B   C", "x-y'z"]:
        once = oracle.normalize_maker(s)
        assert oracle.normalize_maker(once) == once


def test_extract_year_ordered_patterns():
    # labeled contexts beat bare years (final_run_ocr.py:166-175 priority)
    assert oracle.extract_year("call 2200 tomorrow, vintage 2015, born 1985") == 2015
    assert oracle.extract_year("born 1985 and vintage 2015") == 2015
    assert oracle.extract_year("just 1985 and later 2012") == 1985
    assert oracle.extract_year("© 2019 somewhere") == 2019
    assert oracle.extract_year("Copyright: 2007") == 2007
    # range check 1900-2030 (final_run_ocr.py:161)
    assert oracle.extract_year("year 1899") is None
    assert oracle.extract_year("year 2031") is None
    assert oracle.extract_year("year 1900 ok") == 1900
    # digits glued to the year don't count (no partial matches)
    assert oracle.extract_year("id 12019 x") is None
    assert oracle.extract_year("") is None


def _page(title, body):
    head = f"<title>{title}</title>" if title is not None else ""
    return (f"<html><head>{head}</head><body><p>{body}</p></body>"
            "</html>").encode()


def test_extract_record_ids():
    """E7 maker from the title, E11 ``maker|year`` only when both exist,
    E12 ``sha1(custom_id)[:12]``, on whole records."""
    import hashlib

    def ids(title, body):
        r = oracle.extract(_page(title, body), "u")
        return r["maker_name"], r["custom_id"], r["rec_id"]

    assert ids("Château Margaux!  Grand  Vin", "Chateau red wine, 3 bottles "
               "and a long tail of text") == ("CHTEAU MARGAUX GRAND VIN",
                                              None, None)
    assert ids("opus one", "Bottled in 2045 and 1999; lot 12019.") == (
        "OPUS ONE", "OPUS ONE|1999",
        hashlib.sha1(b"OPUS ONE|1999").hexdigest()[:12])
    assert ids(None, "Vintage 1985 reserve") == (None, None, None)
    assert ids("A&amp;B Wines - 'Cuvée'", "short") == (
        "A&B WINES - 'CUVE'", None, None)


def test_extract_year_candidates():
    """The ``raw`` year bucket: every in-range bare-year match in the main
    text, as matched, in document order; the whole-page fallback feeds
    ``year`` only."""
    from wine_label_ocr_spark.fixtures import _make_pdf

    def cands(payload):
        return oracle.extract(payload, "u")["year_candidates"]

    assert cands(_page("t", "Chateau red wine, 3 bottles and a long tail")) == []
    assert cands(_page("t", "Bottled in 2045 and 1999; lot 12019.")) == ["1999"]
    assert cands(_make_pdf(["Domaine X 2010 release notes for the trade",
                            "lot 1899 and 2031 and 2030"], "Domaine X")) \
        == ["2010", "2030"]
    nav = _page("t", "A main paragraph with plenty of words but no date")
    nav = nav.replace(b"<body>", b"<body><nav>since 1987</nav>")
    r = oracle.extract(nav, "u")
    assert r["year"] == 1987 and r["year_candidates"] == []


def test_fingerprint_sorted_and_pinned():
    # W1: fingerprint is invariant under span reordering (hybrid.py:234)
    spans = [
        {"start": 10, "end": 20, "cx": 0.5, "cy": 0.1, "area": 10.0,
         "aspect_ratio": 4.0, "solidity": 0.8, "extent": 1.0},
        {"start": 0, "end": 8, "cx": 0.0, "cy": 0.0, "area": 8.0,
         "aspect_ratio": 3.5, "solidity": 0.9, "extent": 1.0},
    ]
    f1 = oracle.fingerprint_spans(spans)
    f2 = oracle.fingerprint_spans(list(reversed(spans)))
    assert f1 == f2
    assert len(f1) == 16
    assert oracle.fingerprint_spans([]) == "empty"


def test_rec_id_shape():
    assert oracle.rec_id("OPUS ONE|2018") == oracle.rec_id("OPUS ONE|2018")
    assert len(oracle.rec_id("x")) == 12


def test_charset_detection():
    assert oracle.detect_charset(b'<meta charset="utf-8">') == "utf-8"
    assert oracle.detect_charset(b'<meta charset="iso-8859-1">') == "latin-1"
    assert oracle.detect_charset("é".encode()) == "utf-8"
    assert oracle.detect_charset("é".encode("latin-1")) == "latin-1"


def test_information_separators_are_whitespace():
    """``\\x1c``-``\\x1f`` are whitespace under the policy (``str.split``,
    ``re``'s ``\\s``), in ASCII text too: an isolated one becomes a space
    in HTML text and title, PDF text and title, as it already did next to
    other whitespace."""
    from wine_label_ocr_spark.fixtures import _make_pdf
    assert oracle.normalize_ws("a\x1cb") == "a b"
    assert oracle.normalize_ws("a\x1c b\x1f") == "a b"
    html = (b"<html><head><title>Cuv\x1fee</title></head><body><p>"
            + b"word " * 40 + b"Chateau\x1fMargaux\x1c end.</p></body></html>")
    r = oracle.extract(html, "u")
    assert r["method"] == "html"
    assert r["text"].endswith(" word Chateau Margaux end.")
    assert r["title"] == "Cuv ee"
    r = oracle.extract(_make_pdf(["first paragraph\x1fof the pdf page"],
                                 "T\x1fitle"), "u")
    assert r["method"] == "pdf"
    assert r["text"] == "first paragraph of the pdf page"
    assert r["title"] == "T itle"


def test_boilerplate_dropped():
    html = (b"<html><head><title>T</title></head><body>"
            b"<nav><ul><li><a href='/'>Home is where the heart is and more</a>"
            b"</li></ul></nav>"
            b"<p>" + b"word " * 40 + b"end.</p>"
            b"<footer><p>Long footer sentence that would otherwise pass every "
            b"length gate easily.</p></footer></body></html>")
    r = oracle.extract(html, "u")
    assert r["text"].startswith("word word")
    assert "footer" not in r["text"]
    assert "Home" not in r["text"]


def test_link_farm_dropped_outside_boiler_container():
    html = (b"<html><body><div><ul>"
            b"<li><a href='/a'>a reasonably long anchor text line here</a></li>"
            b"<li><a href='/b'>another reasonably long anchor text item</a></li>"
            b"</ul></div><p>" + b"content " * 30 + b"tail.</p></body></html>")
    r = oracle.extract(html, "u")
    assert "anchor" not in r["text"]
    assert r["text"].startswith("content")


def test_pdf_branch_same_span_schema():
    from wine_label_ocr_spark.fixtures import _make_pdf
    pdf = _make_pdf(["first paragraph body of the pdf page with many words",
                     "second (escaped) paragraph \\ with specials"], "Tît le")
    r = oracle.extract(pdf, "u")
    assert r["method"] == "pdf"
    assert r["title"] == "Tît le"
    assert "second (escaped) paragraph \\ with specials" in r["text"]
    assert r["spans"] and set(r["spans"][0]) >= {
        "start", "end", "cx", "cy", "area", "aspect_ratio", "solidity", "extent"}


@pytest.mark.parametrize("payload", [b"", b"<", b"%PDF-", b"\x00\xff\xfe",
                                     b"<html><body><p>tiny</p>"])
def test_never_raises_on_garbage(payload):
    r = oracle.extract(payload, "u")
    assert isinstance(r["text"], str)


@pytest.mark.parametrize("flavor", [0, 1, 2, 3, 4, 5, 6])
def test_pdf_flavors_round_trip(flavor):
    """Every content-stream encoding _make_pdf emits (uncompressed Tj,
    FlateDecode, TJ arrays, hex strings, '/" shows, ASCII85+Flate,
    ASCIIHex transport) must round-trip the paragraphs and title
    exactly."""
    from wine_label_ocr_spark.fixtures import _make_pdf
    paras = ["Chateau d'Exemple grand cru 2015 réserve spéciale",
             "body with (nested (parens)) and \\ a backslash",
             "singleword"]
    title = "PDF DOC 42 — tëst"
    r = oracle.extract(_make_pdf(paras, title, flavor=flavor), "u")
    assert r["method"] == "pdf"
    assert r["title"] == title
    assert r["text"] == "\n\n".join(paras)


def test_pdf_tj_kern_threshold():
    """TJ adjustments at/below -180 are word gaps; above, letter kerns."""
    body = b"BT [ (wo) -50 (rd) -180 (next) -179.9 (glued) ] TJ ET"
    assert oracle._pdf_piece_paragraphs(body) == ["word nextglued"]


def test_pdf_show_ops_and_hex():
    body = (b"BT (a) Tj (b) ' 1 2 (c) \" "
            b"<4 8656C6C6F> Tj [ <77> -300 (x) ] TJ ET")
    assert oracle._pdf_piece_paragraphs(body) == ["a b c Hello w x"]


def test_pdf_literal_escapes():
    # octal (1-3 digits), \n \r \t, line continuation, escaped delimiters
    raw = rb"A\101\12B\n\(x\)\\ y\
z"
    assert oracle._pdf_str_bytes(raw) == b"AA\nB\n(x)\\ yz"


def test_pdf_utf16_title_and_odd_hex():
    assert oracle._pdf_unhex(b"FEFF004100E9") == "Aé"
    assert oracle._pdf_unhex(b"48 65 6C 6C 6F 2") == "Hello "  # odd → pad 0
    assert oracle._pdf_unhex(b"zz") == ""  # non-hex garbage → empty


def test_pdf_inflate_cap_and_corrupt_stream():
    """A zip bomb inflates only to the cap; corrupt Flate data without a
    BT is skipped; neither raises."""
    import zlib
    bomb = zlib.compress(b"BT (x) Tj ET " + b"\x00" * 64_000_000)
    payload = b"%PDF-1.4\nstream\n" + bomb + b"\nendstream\n"
    r = oracle.extract(payload, "u")
    assert r["text"] == "x"
    corrupt = b"%PDF-1.4\nstream\n\x78\x9c\xff\xff\xff\nendstream\nBT (ok) Tj ET\n"
    assert oracle.extract(corrupt, "u")["text"] == "ok"


def test_pdf_truncated_garbage_linear():
    """Truncated strings/blocks and pathological inputs stay linear and
    never raise (the backtracking-regex regression class)."""
    import time
    cases = [
        b"%PDF-1.4\nBT (never closed",
        b"%PDF-1.4\nBT [ (a) -250 (b " + b"\\" * 5000,
        b"%PDF-1.4\nBT " + b"((((" * 2000,
        b"%PDF-1.4\n" + b"BT " * 3000,
        b"%PDF-1.4\nBT <" + b"4" * 9999,
        b"%PDF-1.4\nstream\n" + b"\x9c" * 50000 + b"BT (t) Tj ET endstream",
    ]
    t0 = time.monotonic()
    for payload in cases:
        r = oracle.extract(payload, "u")
        assert isinstance(r["text"], str)
    assert time.monotonic() - t0 < 5.0


def test_pdf_ascii_filter_chains():
    """ASCIIHex / ASCII85 stream probes: charset-strict (raw content
    streams never false-fire), terminator-required, odd hex padded."""
    import base64
    import zlib
    body = b"BT (deep) Tj ET"
    a85 = base64.a85encode(zlib.compress(body)) + b"~>"
    payload = b"%PDF-1.4\nstream\n" + a85 + b"\nendstream\n"
    assert oracle.extract(payload, "u")["text"] == "deep"
    hx = body.hex().upper().encode() + b">"
    payload = b"%PDF-1.4\nstream\n" + hx + b"\nendstream\n"
    assert oracle.extract(payload, "u")["text"] == "deep"
    # raw uncompressed body still scanned directly (no false codec fire)
    payload = b"%PDF-1.4\nstream\n" + body + b"\nendstream\n"
    assert oracle.extract(payload, "u")["text"] == "deep"
    # a85 garbage with terminator but invalid grouping → skipped, no raise
    payload = b"%PDF-1.4\nstream\nuuuuu~>\nendstream\nBT (ok) Tj ET"
    assert oracle.extract(payload, "u")["text"] == "ok"


def test_pdf_et_inside_string_not_a_terminator():
    """r10 ADVICE fix: a standalone `ET` (or `BT`) token INSIDE a shown
    literal string must not truncate or open a text object — BT/ET are
    recognized at the token level, not by a byte-regex."""
    from wine_label_ocr_spark.fixtures import _make_pdf
    for flavor in range(7):
        p = _make_pdf(["WINE ET CHEESE pairing notes"], "t", flavor=flavor)
        assert oracle.extract(p, "u")["text"] == \
            "WINE ET CHEESE pairing notes", flavor
    # BT inside a string between blocks must not open a bogus block
    body = b"%PDF-1.4\n( BT junk ET ) BT (real) Tj ET"
    assert oracle.extract(body, "u")["text"] == "real"
    # truncated block (no closing ET) still yields nothing, as before
    body2 = b"%PDF-1.4\nBT (lost) Tj"
    assert oracle.extract(body2, "u")["text"] == ""


def test_pdf_raw_body_scanned_when_decode_lacks_bt():
    """r10 ADVICE fix: when a codec probe 'succeeds' on a body that was
    really raw text (garbage decode with no BT), the raw body is scanned
    as well, so the real text object is not shadowed."""
    # an all-A85-charset raw body ending in ~> : a85decode succeeds and
    # yields garbage without BT; the raw bytes carry the real block
    raw = b"BT (kept) Tj ET ~>"
    body = b"%PDF-1.4\nstream\n" + raw + b"\nendstream"
    assert oracle.extract(body, "u")["text"] == "kept"


# ---------------------------------------------------------------------------
# golden record digest: every key of every record, pinned by one sha256
# ---------------------------------------------------------------------------

_P = ("<p>A long enough paragraph of real words so the block passes the "
      "gate, {}.</p>")

# (payload, http_charset) documents that drive the lexer, year, charset and
# PDF paths beyond what make_page renders
_GOLDEN_EDGE_DOCS = [
    # mixed-case and closing tags, a closing self-closed link, a
    # self-closed skip container, a closing tag with trailing space
    ("<HTML><BODY><DIV>" + _P.format("first") + "</A/><SCRIPT/>"
     "text after a self-closed script tag is long enough to keep"
     "<Nav >menu Nav Items here</Nav ><P>Closing upper-case paragraph "
     "with vintage 1999 in it</P></BODY></HTML>", None),
    ("<div><a href='/x'>linked words inside a div block</a> and plain "
     "words that follow the link</a/></A></div><A>x</A>", None),
    # unclosed tags, comments, CDATA, doctype, entities
    ("<!DOCTYPE html><p>before the cut, plenty of words to keep <a href=\""
     + "x" * 300, None),
    ("<p>open paragraph with words <b>bold <i>nested unclosed text here "
     "and more words", None),
    ("<!-- <p>hidden comment paragraph 2001</p> --><![CDATA[<p>cdata "
     "1999</p>]]>" + _P.format("after comment and cdata"), None),
    ("<p>Entities &amp; &eacute;t&eacute; &#169; 2011 &copy;2012 &lt;p&gt; "
     "&nbsp;&#x41;&#65;&bogus; enough words here</p>", None),
    # latin-1 by declaration, by transport, and a transport claim that
    # disagrees with the bytes
    ("<meta charset=\"iso-8859-1\"><p>Château été réserve"
     " spéciale, millésime 1998 dégustée ici</p>"
     .encode("latin-1"), None),
    ("<p>Château été réserve spéciale 1997 with "
     "words</p>".encode("latin-1"), "ISO-8859-1"),
    ("<p>Château été réserve spéciale 1996 with "
     "words</p>".encode("latin-1"), "utf-8"),
    ("<p>Château body text under a windows-1252 claim, 1995 "
     "€</p>".encode("cp1252"), "windows-1252"),
    # labeled years: dotless/dotted i, (C), ©, copyright, labeled year
    # glued to a digit, out-of-range labeled then in-range bare
    ("<title>Domaine Vi</title>" + _P.format("vıntage 2019 then 1988"),
     None),
    ("<title>Domaine Vi</title>" + _P.format("1987 first, VİNTAGE:2018"),
     None),
    (_P.format("1985 vıntage 2019, see the vintage notes"), None),
    (_P.format("born 1985, (C) 2019 reserved"), None),
    (_P.format("born 1985, (c)2017 and ©2016"), None),
    ("<footer>©2019 host</footer>" + _P.format("no year in main"), None),
    (_P.format("born 1985, COPYRIGHT : 2014 and vintage 20195"), None),
    (_P.format("vintage 1899 then 2020 and vintage 2031"), None),
    # bare years: glued digits, non-ASCII digits, out of range
    (_P.format("lot 12019 and id 20191 and 1899 and 2031"), None),
    (_P.format("bottled 20٢٣ and ١٩٩٩ and 19"),
     None),
    (_P.format("year 1900 and 2030, again 1900"), None),
    ("<nav>since 1987</nav>" + _P.format("no date in the main text"), None),
    # one bare year in the main text outranks a labeled year elsewhere
    ("<footer>© 2001 host</footer>" + _P.format("made in 1999"), None),
    # no kept block at all; empty; whitespace only
    ("<p>tiny</p><nav>1990</nav>", None),
    ("", None),
    ("  \n\t ", None),
]

_GOLDEN_EDGE_PDFS = [
    b"%PDF-1.4\nBT (nested (paren (deep)) text with 2001 in it) Tj ET",
    b"%PDF-1.4\nBT (esc \\( \\) \\\\ \\101\\12 \\n done 1999) Tj ET",
    b"%PDF-1.4\nBT (truncated literal never closed 2002",
    b"%PDF-1.4\nBT (ok) Tj ET BT (trailing backslash \\",
    b"%PDF-1.4\n1 0 obj << /Title (T\\(1\\)) >> endobj\n"
    b"BT [ (wo) -50 (rd) -250 ((x)) ] TJ (a) ' 1 2 (b) \" ET",
    b"%PDF-1.4\n( BT junk ET ) BT (real (one) ) Tj ET BT ((((",
]


def _golden_docs():
    from wine_label_ocr_spark.fixtures import _make_pdf
    for i in range(3000):
        p = make_page(i)
        yield p["html"], p["url"], None
    for k, (doc, cs) in enumerate(_GOLDEN_EDGE_DOCS):
        payload = doc if isinstance(doc, bytes) else doc.encode("utf-8")
        yield payload, f"u/edge/{k}", cs
    for k, payload in enumerate(_GOLDEN_EDGE_PDFS):
        yield payload, f"u/pdf/{k}", None
    paras = ["Chateau (nested (parens)) \\ back 2015", "second 1999"]
    for flavor in range(7):
        yield _make_pdf(paras, "Tît (le)", flavor=flavor), \
            f"u/flavor/{flavor}", None


def _canon(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_canon(x) for x in v]
    return v


def test_extract_records_golden_digest():
    """Every key of every ``extract`` record, spans and fingerprint
    included, over make_page(0..2999) plus the edge documents above, hashed
    as canonical JSON (sorted keys, floats as ``repr``). A kernel change
    that keeps this digest keeps every record identical."""
    import hashlib
    import json
    h = hashlib.sha256()
    n = 0
    for payload, url, cs in _golden_docs():
        rec = oracle.extract(payload, url, cs)
        h.update(json.dumps(_canon(rec), sort_keys=True,
                            ensure_ascii=False).encode("utf-8"))
        h.update(b"\n")
        n += 1
    assert n == 3000 + len(_GOLDEN_EDGE_DOCS) + len(_GOLDEN_EDGE_PDFS) + 7
    assert h.hexdigest() == (
        "5925c7a8c331f960edda5b3a648cf1516c22bd92f7ed09e4345e267a1765f3ee")
