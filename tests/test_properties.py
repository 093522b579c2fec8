"""Property-based tests (hypothesis) — SURVEY.md §5.4.

Pure-Python properties of the frozen kernels; no Spark session needed.
"""

from __future__ import annotations

import html
import re

import pytest
from hypothesis import given, settings, strategies as st

from wine_label_ocr_spark import _lexer, oracle
from wine_label_ocr_spark.operators import similarity as S

text_st = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
    max_size=120)


@given(text_st)
@settings(max_examples=200, deadline=None)
def test_normalize_maker_idempotent(s):
    once = oracle.normalize_maker(s)
    assert oracle.normalize_maker(once) == once


@given(text_st, text_st)
@settings(max_examples=200, deadline=None)
def test_similarity_symmetric_and_bounded(a, b):
    x = S.strings_similar_score(a, b)
    assert x == S.strings_similar_score(b, a)
    assert 0.0 <= x <= 100.0


@given(text_st, text_st)
@settings(max_examples=200, deadline=None)
def test_indel_ratio_identity_of_indiscernibles(a, b):
    """_ratio == 100 iff the strings are equal: 2·LCS = |a|+|b| forces
    |a| = |b| = LCS, i.e. equality — a property difflib's block-matching
    ratio does NOT guarantee under junk heuristics."""
    assert (S._ratio(a, b) == 100.0) == (a == b)


@given(text_st)
@settings(max_examples=100, deadline=None)
def test_similarity_reflexive_after_normalization(s):
    if S.normalize_for_match(s):
        assert S.strings_similar_score(s, s) == 100.0


@given(st.lists(st.tuples(st.integers(0, 10_000), st.integers(1, 500),
                          st.floats(0, 1, allow_nan=False),
                          st.floats(0, 1, allow_nan=False)),
                min_size=0, max_size=12))
@settings(max_examples=100, deadline=None)
def test_fingerprint_order_invariant(items):
    spans = [{"start": a, "end": a + ln, "cx": c, "cy": d,
              "area": float(ln), "aspect_ratio": 4.2,
              "solidity": c, "extent": d} for a, ln, c, d in items]
    f1 = oracle.fingerprint_spans(spans)
    f2 = oracle.fingerprint_spans(list(reversed(spans)))
    assert f1 == f2


@given(st.binary(max_size=4096))
@settings(max_examples=150, deadline=None)
def test_extract_total_on_arbitrary_bytes(payload):
    # ST8 analog: tolerant parsing must never raise on any payload
    r = oracle.extract(payload, "u")
    assert isinstance(r["text"], str)
    assert r["fingerprint"] == "empty" or len(r["fingerprint"]) == 16


@given(text_st)
@settings(max_examples=150, deadline=None)
def test_year_extraction_in_range(s):
    y = oracle.extract_year(s)
    assert y is None or 1900 <= y <= 2030


@given(st.lists(st.binary(min_size=0, max_size=300), max_size=8))
@settings(max_examples=120, deadline=None)
def test_gzip_members_roundtrip_and_tolerance(payloads):
    """Concatenated per-record gzip members (the .warc.gz layout) inflate
    back to the exact concatenation; truncating the stream anywhere never
    raises and yields a prefix of the original bytes."""
    from wine_label_ocr_spark.sources.warc import gunzip_members, gzip_member
    blob = b"".join(gzip_member(p) for p in payloads)
    whole = b"".join(payloads)
    assert gunzip_members(blob) == whole
    if blob:
        cut = gunzip_members(blob[:len(blob) // 2])
        assert whole.startswith(cut)


@given(st.integers(1, 4), st.integers(1, 12), st.integers(1, 12),
       st.integers(0, 2**32 - 1))
@settings(max_examples=60, deadline=None)
def test_png_codec_roundtrip_property(c, h, w, seed):
    """encode→decode is the identity for arbitrary shapes/content under
    the default filter cycle (exercises all five unfilter paths)."""
    import numpy as np
    from wine_label_ocr_spark.operators.multimodal import decode_png, encode_png
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
    back = decode_png(encode_png(arr))
    assert back is not None and (back == arr).all()


_TAGS = ["div", "p", "a", "nav", "script", "style", "footer", "h1", "li",
         "span", "table", "aside", "header", "noscript"]
_soup_piece = st.one_of(
    st.sampled_from([f"<{t}>" for t in _TAGS]
                    + [f"</{t}>" for t in _TAGS]
                    + [f"<{t}/>" for t in _TAGS]
                    + ["<!-- c -->", "<!DOCTYPE html>", "<a href='#'>", "&amp;",
                       "&#65;", "<", ">", "</", "<a", "\r\n", "\t"]),
    st.text(alphabet=st.characters(blacklist_categories=("Cs",),
                                   max_codepoint=0x2FF), max_size=20))


@given(st.lists(_soup_piece, max_size=60))
@settings(max_examples=150, deadline=None)
def test_lexer_total_and_consistent_on_tag_soup(pieces):
    """Structured adversarial HTML (unbalanced tags, comments, entities,
    half-open brackets): the lexer must never raise, and every block must
    satisfy its own invariants (non-empty text, link_chars <= n_chars,
    n_chars == len(text))."""
    doc = "".join(pieces)
    blocks = oracle.lex_blocks(doc)
    for b in blocks:
        assert b["text"] and b["n_chars"] == len(b["text"])
        assert 0 <= b["link_chars"] <= b["n_chars"]
        assert isinstance(b["boiler"], bool)
    # full extraction is total on the same soup (bytes path)
    out = oracle.extract(doc.encode("utf-8", "replace"), "https://x/y")
    assert out["text"] is not None
    for s in out["spans"]:
        assert 0 <= s["start"] <= s["end"] <= len(out["text"])


def test_lexer_linear_on_truncated_tag():
    """Regression (r9): an UNCLOSED tag open followed by a long plain run
    — exactly what a truncated crawl capture looks like — made the old
    attr alternation backtrack over every split of the run (exponential;
    `<a ` + 40 chars already ran for minutes, found by the tag-soup
    hypothesis test). With possessive run/quote quantifiers the failure
    is a single forward scan. Pin the timing at sizes where the old
    pattern would never return, across the shapes that drove each
    alternation branch: plain run, slash run, unclosed double quote,
    and a degenerate many-opens document (the documented quadratic
    tail, still sub-second)."""
    import time
    docs = ["<a " + "x" * 100_000,
            "<a " + "x/" * 50_000,
            '<a "' + "x " * 50_000,
            ("<a " + "y" * 50) * 2_000,
            "pre <div>kept</div> <a " + "x" * 100_000]
    t0 = time.time()
    for doc in docs:
        blocks = oracle.lex_blocks(doc)
        for b in blocks:
            assert b["text"] and b["n_chars"] == len(b["text"])
    assert time.time() - t0 < 5.0, "lexer non-linear on truncated tags"
    # the text before the truncated tag still lexes
    assert any(b["text"] == "kept" for b in oracle.lex_blocks(docs[4]))


# ---------------------------------------------------------------------------
# extract kernel rewrites vs the plain forms they replace
# ---------------------------------------------------------------------------

# the year patterns as first written: the rewritten YEAR_PATTERNS must
# match exactly the same spans with the same groups
_PLAIN_YEAR_PATTERNS = (
    r"(?i)(?:vintage|copyright|©|\(c\))\s*:?\s*((?:19|20)\d{2})",
    r"(?<![0-9])((?:19|20)\d{2})(?![0-9])",
)
_year_piece = st.one_of(
    st.sampled_from(["vintage", "Vintage", "VINTAGE", "vıntage", "VİNTAGE",
                     "vintag", "intage", "copyright", "Copyright",
                     "COPYRİGHT", "copyrıght", "opyright", "©", "(c)",
                     "(C)", "(c", "c)", "(", ")", "19", "20", "2019", "1899",
                     "2031", "20٢٣", "١٩", " ", "  ", "\t", "\n", " ",
                     ":", " : "]),
    st.text(alphabet="0123456789٠١٢٣٩vVcCıİiI©():\t \n", max_size=6))


@given(st.lists(_year_piece, max_size=30))
@settings(max_examples=400, deadline=None)
def test_year_patterns_match_plain_forms(pieces):
    import re
    text = "".join(pieces)
    for new, plain in zip(oracle.YEAR_PATTERNS, _PLAIN_YEAR_PATTERNS):
        got = [(m.span(), m.groups()) for m in re.finditer(new, text)]
        want = [(m.span(), m.groups()) for m in re.finditer(plain, text)]
        assert got == want, (plain, text)


# ---------------------------------------------------------------------------
# HTML lexer: the C extension (oracle.lex_blocks / oracle.normalize_ws) vs
# the Python lexer it replaced, kept here as the reference
# ---------------------------------------------------------------------------

# one-probe dispatch table; insertion order gives the precedence
# skip > a > boiler > block (later writes win). _TAG_RE's name group
# carries a closing tag's "/" ("/div"), so every name also has a "/name"
# key mapped to the negated action: the sign of one lookup says whether
# the tag closes
_ACT_BLOCK, _ACT_LINK, _ACT_SKIP, _ACT_BOILER = 1, 2, 3, 4
_TAG_ACTION: dict[str, int] = {}
_TAG_ACTION.update(dict.fromkeys(_lexer.BLOCK_TAGS, _ACT_BLOCK))
_TAG_ACTION.update(dict.fromkeys(_lexer.BOILER_CONTAINERS, _ACT_BOILER))
_TAG_ACTION["a"] = _ACT_LINK
_TAG_ACTION.update(dict.fromkeys(_lexer.SKIP_CONTAINERS, _ACT_SKIP))
_TAG_ACTION.update({"/" + t: -a for t, a in _TAG_ACTION.items()})

_WS_RE = re.compile(r"\s+")

# Attribute section: plain-character runs are consumed atomically, a lone
# / is allowed when it does not close the tag, quotes must close. The
# run/quote quantifiers are possessive: every character such a unit could
# give back is in its own excluded class, so backtracking would only
# re-enumerate run splits, which on an unclosed tag (a truncated page) is
# exponential. Two capture groups, so re.split yields 3 items per tag
# (text, name, self-close flag).
_TAG_RE = re.compile(
    r"<!--.*?-->|<!\[CDATA\[.*?\]\]>|<!DOCTYPE[^>]*>"
    r"|<(/?[a-zA-Z][a-zA-Z0-9-]*)"
    r"(?:[^>\"'/]++|/(?!>)|\"[^\"]*+\"|'[^']*+')*?(/?)>",
    re.DOTALL,
)


def reference_normalize_ws(s: str) -> str:
    return _WS_RE.sub(" ", s).strip()


def reference_lex_blocks(decoded: str) -> list[dict]:
    """The Python lexer: ``_TAG_RE.split`` plus the depth state machine."""
    blocks: list[dict] = []
    segs: list[tuple[str, bool]] = []  # (raw text, is link text)
    cur_tag = "body"
    boiler_depth = skip_depth = link_depth = 0
    seg_boiler = seg_link = False

    def flush(next_tag: str) -> None:
        nonlocal seg_boiler, seg_link, cur_tag
        raw = "".join(t for t, _ in segs)
        text = reference_normalize_ws(html.unescape(raw))
        if text:
            link_chars = sum(len(reference_normalize_ws(html.unescape(t)))
                             for t, is_link in segs if is_link)
            blocks.append({
                "text": text,
                "n_chars": len(text),
                "link_chars": min(link_chars, len(text)),
                "boiler": seg_boiler,
                "tag": cur_tag,
                "block_index": len(blocks),
            })
        segs.clear()
        seg_boiler = seg_link = False
        cur_tag = next_tag

    parts = _TAG_RE.split(decoded)
    last = len(parts) - 1
    for idx in range(0, last, 3):
        pre, name, slash = parts[idx:idx + 3]
        if pre and skip_depth == 0 and (not pre.isspace() or segs):
            segs.append((pre, link_depth > 0))
            if not pre.isspace() and boiler_depth > 0:
                seg_boiler = True
            if link_depth > 0:
                seg_link = True
        if name is None:
            continue  # comment / doctype / CDATA
        action = _TAG_ACTION.get(name.lower())
        if action is None:
            continue  # transparent tag (span/b/em/...)
        tag = name.lower()
        closing, selfclosed = action < 0, slash == "/"
        action = abs(action)
        if action == _ACT_BLOCK:
            if segs:
                flush(tag if not closing else cur_tag)
            elif not closing:
                cur_tag = tag
        elif action == _ACT_LINK:
            if closing:
                link_depth = max(0, link_depth - 1)
            elif not selfclosed:
                link_depth += 1
        elif action == _ACT_SKIP:
            if selfclosed:
                pass
            elif closing:
                skip_depth = max(0, skip_depth - 1)
            else:
                skip_depth += 1
            if segs:
                flush(cur_tag)
        else:  # _ACT_BOILER
            if closing:
                boiler_depth = max(0, boiler_depth - 1)
            elif not selfclosed:
                boiler_depth += 1
            if segs:
                flush(tag if not closing else cur_tag)
            elif not closing:
                cur_tag = tag
    # trailing text after the last tag (degraded/truncated documents)
    tail = parts[last]
    if tail and not tail.isspace() and skip_depth == 0:
        segs.append((tail, link_depth > 0))
        if boiler_depth > 0:
            seg_boiler = True
        if link_depth > 0:
            seg_link = True
    if segs:
        flush(cur_tag)
    return blocks


# the tag pattern as first written (4 groups: closing slash, name,
# attributes, self-close slash)
_PLAIN_TAG_RE = (
    r"<!--.*?-->|<!\[CDATA\[.*?\]\]>|<!DOCTYPE[^>]*>"
    r"|<(/?)([a-zA-Z][a-zA-Z0-9-]*)"
    r"((?:[^>\"'/]++|/(?!>)|\"[^\"]*+\"|'[^']*+')*?)(/?)>")


@given(st.lists(_soup_piece, max_size=60))
@settings(max_examples=200, deadline=None)
def test_tag_split_matches_plain_form(pieces):
    """Same split points, and the 2-group split carries the same closing
    flag, name and self-close flag as the 4-group one."""
    doc = "".join(pieces)
    got = _TAG_RE.split(doc)
    want = re.compile(_PLAIN_TAG_RE, re.DOTALL).split(doc)
    assert got[::3] == want[::5]
    for name, slash, (w1, w2, _, w4) in zip(
            got[1::3], got[2::3],
            zip(want[1::5], want[2::5], want[3::5], want[4::5])):
        if w2 is None:
            assert name is None and slash is None
        else:
            assert name == w1 + w2 and slash == w4


# every str.isspace() character: re's \s on str patterns is the same set
_ISSPACE = [chr(c) for c in range(0x110000) if chr(c).isspace()]
# any code point, astral and lone surrogates (Cs) included
_any_char = st.characters(exclude_categories=())
# one name of each action (block, link, skip, boiler, transparent)
_tag_name = st.sampled_from(["p", "br", "a", "script", "nav", "span"]).flatmap(
    lambda n: st.sampled_from([n, n.upper(), n.capitalize()]))
# a tag assembled from parts: closing slash, a name in any case, a name
# suffix, attribute pieces (quotes, '>' inside quotes, lone '/', '<'), and
# an end ('' leaves it unclosed)
_tag_piece = st.builds(
    lambda c, n, sfx, attrs, end: f"<{c}{n}{sfx}{''.join(attrs)}{end}",
    st.sampled_from(["", "/"]), _tag_name, st.sampled_from(["", "-x", "1"]),
    st.lists(st.sampled_from([" ", "x", "=", "'q'", '"q"', "'>'", '"/>"',
                              "/", " / ", "<", "-", '"', "'"]), max_size=4),
    st.sampled_from([">", "/>", "", " >"]))
_markup_piece = st.one_of(
    _tag_piece,
    st.sampled_from(
        [f"<{t}>" for t in sorted(_TAG_ACTION) if t[0] != "/"]
        + [f"</{t}>" for t in sorted(_TAG_ACTION) if t[0] != "/"]
        + ["<DIV>", "</Div>", "<A HREF='x'>", "</a >", "<P/>", "<Nav>",
           "<SCRIPT>", "</script/>", "<br/>", "<hr />", "<span>", "</b>",
           "<h1-x>", "<a/b>", "<a href=x/>", '<a title="x>y">', "<p a='>'>",
           '<div data-x="', "<p class='", '"', "'", "/", "/>", "<", ">",
           "</", "<a", "<!", "<!-- c -->", "<!--", "-->", "<!---->",
           "<!-->", "--", "<![CDATA[ x ]]>", "<![CDATA[", "]]>",
           "<!DOCTYPE html>", "<!doctype html>", "<!DOCTYPE", "&amp;",
           "&nbsp;", "&#10;", "&#x85;", "&#x1F600;", "&#0;", "&", "&am",
           "p;", "\x00", "\r\n"] + _ISSPACE),
    st.text(alphabet=st.one_of(_any_char, st.sampled_from(_ISSPACE)),
            max_size=12),
)


@given(st.lists(_markup_piece, max_size=60))
@settings(max_examples=600, deadline=None)
def test_lexer_matches_reference(pieces):
    doc = "".join(pieces)
    assert oracle.lex_blocks(doc) == reference_lex_blocks(doc)


@given(st.text(alphabet=st.one_of(_any_char, st.sampled_from(_ISSPACE)),
               max_size=80))
@settings(max_examples=600, deadline=None)
def test_normalize_ws_matches_reference(s):
    assert oracle.normalize_ws(s) == reference_normalize_ws(s) \
        == " ".join(s.split())


def test_lexer_matches_reference_on_tag_pairs():
    """Every pair of tag forms around text and whitespace: the state
    machine's transitions, exhaustively. One name per action and one that
    extends a known name; open, close, self-closing, closing and
    self-closing, '>' inside a quote, and an unclosed quote."""
    import itertools
    forms = [f.format(t=t)
             for t in ("p", "BR", "a", "Script", "nav", "span", "nav-x")
             for f in ("<{t}>", "</{t}>", "<{t}/>", "</{t}/>", "<{t} q='>'>",
                       '<{t} q="x')]
    for t1, t2 in itertools.product(forms, repeat=2):
        for pre, mid in itertools.product(("", "x"), (" ", "x")):
            doc = f"{pre}{t1}{mid}{t2}y<p>z"
            assert oracle.lex_blocks(doc) == reference_lex_blocks(doc), doc


def test_lexer_matches_reference_on_adversarial_documents():
    """Sizes hypothesis does not reach, and each str kind (1, 2 and 4
    bytes per character, lone surrogates)."""
    docs = [
        '<div a="' + "x" * 1_000_000 + '">after a 1 MB attribute</div>',
        "<p title='" + "y>" * 500_000 + "'>quoted > runs</p>",
        "<div>" * 10_000 + "ten thousand deep" + "</div>" * 10_000,
        "<a href=#>" * 10_000 + "deep link text" + "</a>" * 10_000,
        "<p>before <!-- never closed <p>kept as text" + " z" * 50_000,
        "<p>before <![CDATA[ never closed <p>text" + " z" * 50_000,
        '<p>before <a href="never closed>text' + " z" * 50_000,
        "<p>nul\x00inside</p><p>\x00</p>",
        "<p>caf\xe9 &amp; cr\xe8me</p><li>Ā two byte &nbsp; 　</li>",
        "<p>astral \U0001F600 and  lone \ud800 \udfff</p>",
        "<P>Mixed <A HREF='#'>Case</A> tags &#x85;x&#10;y</P><!doctype x>",
    ]
    for doc in docs:
        assert oracle.lex_blocks(doc) == reference_lex_blocks(doc), doc[:40]


def _plain_scan_literal(data: bytes, start: int) -> tuple[bytes, int]:
    depth, i, n = 1, start, len(data)
    while i < n:
        c = data[i]
        if c == 0x5C:
            i += 2
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return data[start:i], i + 1
        i += 1
    return data[start:n], n


@given(st.lists(st.sampled_from([b"(", b")", b"\\", b"a", b"xy", b"\n",
                                 b"\\(", b"\\)", b"\\\\", b"\xff"]),
                max_size=40),
       st.integers(0, 45))
@settings(max_examples=400, deadline=None)
def test_pdf_scan_literal_matches_byte_loop(pieces, start):
    data = b"".join(pieces)
    start = min(start, len(data))
    assert oracle._pdf_scan_literal(data, start) == \
        _plain_scan_literal(data, start)


@given(st.text(alphabet=st.characters(exclude_categories=()), max_size=200))
@settings(max_examples=400, deadline=None)
def test_alnum_count_matches_regex(text):
    import re
    assert oracle._alnum_count(text) == len(re.findall(r"[A-Za-z0-9]", text))


def test_year_and_pdf_scans_linear_on_runs():
    """100k-character runs of each pattern's start characters (decade
    prefixes, ©, a keyword cut one short, open parens) stay linear
    through the year scans, the lexer and the PDF literal scanner."""
    import time
    runs = ["19" * 50_000, "©" * 100_000, "vintag" * 16_667,
            "(" * 100_000, "(c" * 50_000, "copyrigh " * 11_111]
    t0 = time.time()
    for run in runs:
        assert oracle.extract_year(run) is None
        r = oracle.extract(("<p>" + run + "</p>").encode("utf-8"), "u")
        assert r["year"] is None
    r = oracle.extract(b"%PDF-1.4\nBT " + b"(" * 100_000, "u")
    assert r["text"] == ""
    assert time.time() - t0 < 5.0, "year or PDF scan non-linear on runs"


# ---------------------------------------------------------------------------
# dedup sketch kernels: byte spans of one UTF-8 buffer vs a list of str
# ---------------------------------------------------------------------------

JAVA_WS = r"[ \t\n\x0b\f\r]+"  # Java regex \s: ASCII only

# the six Java-\s separators, three Unicode spaces Java does not split on,
# multibyte characters, and few letters so that grams repeat
ws_text_st = st.text(
    alphabet=" \t\n\x0b\x0c\r\u00a0\u2003\u3000ab\u5b57\u00e9\U0001f389",
    max_size=40)
batch_st = st.lists(st.one_of(st.none(), ws_text_st), max_size=8)


def _ref_tokens(s: str) -> list[str]:
    import re
    return [t for t in re.split(JAVA_WS, s) if t]


def _ref_grams(s: str, k: int) -> list[str]:
    toks = _ref_tokens(s)
    if len(toks) < k:
        return [" ".join(toks)]
    return [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]


def _ref_hash(strs: list[str], seed: int, oracle_safe: bool) -> list[int]:
    """``dedupe._hash64`` of each str, one str at a time."""
    from hashlib import md5

    import numpy as np

    from wine_label_ocr_spark.functions.xxh64 import spark_xxhash64_str
    if oracle_safe:
        return [int(md5(f"{s}#{seed}".encode()).hexdigest()[:15], 16)
                for s in strs]
    return [int(v) for v in spark_xxhash64_str(strs, seed).view(np.int64)]


@pytest.mark.parametrize("k", [1, 3, 5])
@given(batch_st)
@settings(max_examples=150, deadline=None)
def test_gram_spans_match_str_join(k, texts):
    from wine_label_ocr_spark.operators.dedupe import _gram_spans
    buf, starts, lens, offs, n_tok, nulls = _gram_spans(texts, k)
    assert nulls.tolist() == [t is None for t in texts]
    docs = [t for t in texts if t is not None]
    ends = list(offs[1:]) + [len(lens)]
    for j, t in enumerate(docs):
        got = [buf[a:a + n].decode()
               for a, n in zip(starts[offs[j]:ends[j]], lens[offs[j]:ends[j]])]
        assert got == _ref_grams(t, k), repr(t)
        assert n_tok[j] == len(_ref_tokens(t))


def _ref_null_xxhash(p: int) -> int:
    """``xxhash64(NULL, lit(p))``: the null input is skipped, leaving
    hashInt(p) from seed 42 (pinned against Spark in test_xxh64.py)."""
    import numpy as np

    from wine_label_ocr_spark.functions.xxh64 import xxh64_int
    return int(xxh64_int(p, np.uint64(42)).view(np.int64))


@pytest.mark.parametrize("oracle_safe", [False, True], ids=["xxhash", "md5"])
@pytest.mark.parametrize("k", [1, 3, 5])
@given(batch_st)
@settings(max_examples=60, deadline=None)
def test_minhash_kernel_matches_str_reference(k, oracle_safe, texts):
    from hashlib import md5

    import pandas as pd

    from wine_label_ocr_spark.operators.dedupe import _minhash_bands_kernel
    n_perm, n_bands = 8, 4
    got = _minhash_bands_kernel(k, n_perm, n_bands, oracle_safe)(
        pd.Series(texts, dtype=object))
    for t, bands in zip(texts, got):
        if t is None:
            sig = ([2 ** 63 - 1] * n_perm if oracle_safe
                   else [_ref_null_xxhash(p) for p in range(n_perm)])
        else:
            grams = _ref_grams(t, k)
            sig = [min(_ref_hash(grams, p, oracle_safe))
                   for p in range(n_perm)]
        rpb = n_perm // n_bands
        want = [md5(",".join(map(str, sig[b * rpb:(b + 1) * rpb])).encode())
                .hexdigest() for b in range(n_bands)]
        assert list(bands) == want, repr(t)


@pytest.mark.parametrize("oracle_safe", [False, True], ids=["xxhash", "md5"])
@given(batch_st)
@settings(max_examples=100, deadline=None)
def test_simhash_kernel_matches_str_reference(oracle_safe, texts):
    import pandas as pd

    from wine_label_ocr_spark.operators.dedupe import _simhash64_kernel
    got = _simhash64_kernel(oracle_safe)(pd.Series(texts, dtype=object))
    for t, sh in zip(texts, got):
        if t is None:
            assert sh is pd.NA, repr(t)
            continue
        hashes = _ref_hash(_ref_tokens(t), 0, oracle_safe)
        bits = 0
        for j in range(64):
            votes = sum(1 if (h >> j) & 1 else -1 for h in hashes)
            bits |= (votes > 0) << j
        want = bits - (1 << 64) if bits >= 1 << 63 else bits
        assert int(sh) == want, repr(t)
