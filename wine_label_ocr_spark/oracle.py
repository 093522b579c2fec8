"""Frozen single-document reference extractor (the byte-identity oracle).

Zero Spark. Python, except the HTML lexer (``lex_blocks``) and
``normalize_ws``: those are the ``_lexer`` C extension, and the Python
lexer it replaced is the reference in ``tests/test_properties.py``.
This module *defines* correct output: the Spark
pipeline's per-url extracted ``text`` must be byte-identical to
``extract(html, url)["text"]``. It plays the role the reference's golden
JSONL files play (``/root/reference/wine_database.jsonl:1-5``,
``/root/reference/storing_images/cellar.jsonl:1-11``).

Structure mirrors the reference's detect-then-read pipeline:

* charset detection        — rotation-alignment-search analog
                             (``hybrid.py:148-170``: try variants, keep the
                             one that scores best / decodes cleanly);
* HTML block lexer         — connected-component labeling analog
                             (``hybrid.py:189-227``: split the document into
                             contiguous regions with per-region stats);
* block feature gate       — blob predicate gate analog
                             (``hybrid.py:196-218``: keep a region iff its
                             geometry passes fixed thresholds);
* block scorer             — heuristic region detect analog
                             (``hybrid.py:131``: score = 0.4*size +
                             0.3*link-cleanliness + 0.3*density);
* title / year extraction  — field extraction analog
                             (``final_run_ocr.py:299-378``), with the
                             main-text-first / whole-page-fallback cascade of
                             ``_full_image_vintage_search``
                             (``final_run_ocr.py:187-297``);
* maker normalization      — ``_normalize_maker`` (``final_run_ocr.py:353-359``);
* layout fingerprint       — ``generate_blob_fingerprint``
                             (``hybrid.py:229-242``), with pinned float
                             formatting for determinism;
* PDF branch               — payloads starting with ``%PDF`` route through a
                             layout parse emitting the same span schema;
* record packing           — ``record`` turns an ``extract`` result into
                             the finished record columns (``blob_data``,
                             ``raw``), which Spark emits as they are.

DO NOT change the constants or the normalization order here without
regenerating every golden fixture: byte-identity tests in
``tests/test_pipeline.py`` depend on this exact behavior.
"""

from __future__ import annotations

import hashlib
import html as _htmlmod
import re
from collections.abc import Iterator
from typing import Any

from . import _lexer

# --------------------------------------------------------------------------
# Constants (the analog of the reference's gate thresholds, hybrid.py:196-218
# and the 0.4/0.3/0.3 score weights of hybrid.py:131).
# --------------------------------------------------------------------------

MIN_BLOCK_CHARS = 25          # analog of min blob area 30 (hybrid.py:203)
MAX_LINK_DENSITY = 0.40       # analog of solidity gate (hybrid.py:214)
SCORE_THRESHOLD = 0.55        # analog of decision threshold (BlobSimilarity.py:107)
W_SIZE, W_LINK, W_DENSITY = 0.4, 0.3, 0.3   # hybrid.py:131 weights
SIZE_NORM_CHARS = 200.0
YEAR_MIN, YEAR_MAX = 1900, 2030   # final_run_ocr.py:161 range check

# Ordered year patterns — the analog of the 4 ordered regex patterns in
# _extract_year_from_text (final_run_ocr.py:153-185): labeled contexts first,
# bare 4-digit fallback last. Python `re` semantics, as in the reference:
# `\d` also matches non-ASCII decimal digits ("20٢٣" is 2023), which Java
# regex's `\d` does not — so no engine but Python may evaluate them.
#
# Both are written so `re` can skip ahead to a possible match start: sre
# scans for a pattern's leading literal or case-sensitive charset, but a
# pattern that starts with a lookbehind or a `(?i)` alternation is tried
# at every position (measured ~3x slower on the same texts). Their match
# sets and groups are those of the plain forms
#   r"(?i)(?:vintage|copyright|©|\(c\))\s*:?\s*((?:19|20)\d{2})"
#   r"(?<![0-9])((?:19|20)\d{2})(?![0-9])"
# (tests/test_properties.py compares them on generated text):
# * labeled: the first character is the case-sensitive set [vVcC©(] — no
#   other character case-folds to v, c, © or ( — and a lookbehind on it
#   picks the branch; `(?i:…)` keeps re's folds for the rest of the
#   keyword, so "vıntage" (dotless i) still matches;
# * bare: the lookbehind moves after the literal decade prefix, where
#   `(?<![0-9]..)` tests the same character (the one before the "19"/"20").
YEAR_PATTERNS = (
    r"[vVcC©(](?:(?<=[vV])(?i:intage)|(?<=[cC])(?i:opyright)|(?<=©)"
    r"|(?<=\()[cC]\))\s*:?\s*((?:19|20)\d{2})",
    r"((?:19|20)(?<![0-9]..)\d{2})(?![0-9])",
)

# Maker charset whitelist — final_run_ocr.py:355 ALLOWED = "A-Z0-9 &'-".
_MAKER_STRIP_RE = re.compile(r"[^A-Z0-9 &'-]")
_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?([A-Za-z0-9_-]+)")
_TITLE_RE = re.compile(r"(?is)<title[^>]*>(.*?)</title>")
# E15 — metadata sidecar identity: the first canonical link in the first
# 2 KB of the decoded page (the head markup).
_CANONICAL_RE = re.compile(r'<link\s+rel="canonical"\s+href="([^"]+)"')

# PDF branch (r9: full content-stream text extraction). A text object is
# `BT … ET`; inside it the show operators are `(s) Tj`, `(s) '`,
# `aw ac (s) "`, and the array form `[(a) -250 (b)] TJ` (ISO 32000-1
# §9.4.3); strings may be literal (balanced parens + escapes, §7.3.4.2)
# or hex (`<…>`, §7.3.4.3). Content streams usually ship
# FlateDecode-compressed inside `stream…endstream`; `_pdf_paragraphs`
# inflates those with stdlib zlib (output capped — a crawl sees zip
# bombs) and scans raw regions too, so the uncompressed fixture shape
# keeps working unchanged. All patterns here use possessive quantifiers
# (a run that cannot give characters back cannot be re-split on failure)
# and the paren scanner is a manual linear pass — no backtracking
# blow-ups on truncated/garbage payloads.
_PDF_TITLE_RE = re.compile(rb"/Title\s*+(?:\(((?:[^()\\]|\\.)*+)\)|<([0-9A-Fa-f\s]*+)>)")
_PDF_STREAM_RE = re.compile(rb"stream\r?\n?(.*?)(?:\r\n?|\n)?endstream",
                            re.DOTALL)
# content-stream tokens OTHER than literal strings (those need a manual
# scanner: balanced parens aren't regular); branches are first-byte
# disjoint, quantifiers possessive — one linear pass
_PDF_TOK_RE = re.compile(
    rb"[\x00\t\n\x0c\r ]++"                              # whitespace
    rb"|(?P<dict><<|>>)"                                 # before hex: << is a dict
    rb"|(?P<hex><[0-9A-Fa-f\x00\t\n\x0c\r ]*+>?)"        # hex string
    rb"|(?P<arr>[\[\]])"
    rb"|(?P<name>/[^\x00\t\n\x0c\r ()<>\[\]/%]*+)"
    rb"|(?P<num>[-+]?+(?:[0-9]++(?:\.[0-9]*+)?+|\.[0-9]++))"
    rb"|%[^\r\n]*+"                                      # comment
    rb"|(?P<op>[^\x00\t\n\x0c\r ()<>\[\]/%]++)"
    rb"|(?P<other>[<>])")
# inserting a space for a TJ kern adjustment at or below this many
# thousandths of text space is the standard extractor heuristic for a
# word gap (pdftotext-family); above it the adjustment is letter kerning
_PDF_TJ_SPACE_KERN = -180.0
_PDF_MAX_INFLATE = 8_000_000  # per-stream inflate cap (zip-bomb guard)


# The single canonical whitespace policy shared by oracle and pipeline
# (risk §7.3.1 of SURVEY.md): every whitespace run collapsed to one space,
# stripped — the reference's ``re.sub(r"\s+", " ", s).strip()``
# (final_run_ocr.py:358), equal to ``" ".join(s.split())``.
normalize_ws = _lexer.normalize_ws


def normalize_maker(s: str | None) -> str | None:
    """E7 — maker normalization, exact reference semantics.

    ``_normalize_maker`` (final_run_ocr.py:353-359): uppercase, whitelist
    charset ``A-Z0-9 &'-``, collapse whitespace. Returns None for empty.
    """
    if s is None:
        return None
    s = _MAKER_STRIP_RE.sub("", s.upper())
    s = normalize_ws(s)
    return s or None


_YEAR_RES = tuple(re.compile(p) for p in YEAR_PATTERNS)


def _may_hold_year(text: str) -> bool:
    # both patterns require a literal "19"/"20" decade prefix — absent
    # those substrings no candidate exists, and the two C-level probes
    # beat the regex scan ~30× (65% of bench main texts have neither)
    return "19" in text or "20" in text


def _years(pattern: re.Pattern, text: str) -> Iterator[tuple[int, str]]:
    """``(year, matched string)`` of every in-range match of ``pattern``
    over ``text``, in document order (final_run_ocr.py:161 range check)."""
    for m in pattern.finditer(text):
        y = int(m.group(1))
        if YEAR_MIN <= y <= YEAR_MAX:
            yield y, m.group(1)


def _labeled_year(text: str) -> int | None:
    """First in-range hit of the labeled pattern, when a lowercase marker
    is present. The gate is part of the definition, not only a shortcut:
    "vıntage 2019" matches the pattern (re folds ı to i) but has no
    "vintage" marker, so it counts only as a bare year."""
    tl = text.lower()
    if ("vintage" in tl or "copyright" in tl or "©" in tl or "(c)" in tl):
        for y, _ in _years(_YEAR_RES[0], text):
            return y
    return None


def extract_year(text: str) -> int | None:
    """E4 — ordered-pattern year extraction with range check.

    Mirrors ``_extract_year_from_text`` (final_run_ocr.py:153-185): try each
    pattern in priority order; the first in-range hit wins.
    """
    if not _may_hold_year(text):
        return None
    y = _labeled_year(text)
    if y is None:
        y = next((y for y, _ in _years(_YEAR_RES[1], text)), None)
    return y


_CHARSET_ALIASES = {
    "utf-8": "utf-8", "utf8": "utf-8",
    "iso-8859-1": "latin-1", "latin-1": "latin-1", "latin1": "latin-1",
    "windows-1252": "cp1252", "cp1252": "cp1252",
    "ascii": "ascii", "us-ascii": "ascii",
}


def detect_charset(payload: bytes, http_charset: str | None = None) -> str:
    """D7 analog — pick the best decode variant of the binary payload.

    Priority order per RFC 9110 §8.3 / HTML spec §8.2.2.2: an HTTP
    ``Content-Type`` charset (``http_charset``, surfaced by the WARC
    reader's envelope strip) wins over an in-document ``charset=``
    declaration in the first 2048 bytes; absent both, tries strict utf-8
    and falls back to latin-1 (which never fails). Mirrors the
    try-variants-keep-best-score structure of ``align_vertically``
    (hybrid.py:148-170).
    """
    if http_charset:
        got = _CHARSET_ALIASES.get(http_charset.strip().lower())
        if got:
            return got
    m = _CHARSET_RE.search(payload[:2048])
    if m:
        name = m.group(1).decode("ascii", "replace").lower()
        if name in _CHARSET_ALIASES:
            return _CHARSET_ALIASES[name]
    try:
        payload.decode("utf-8")
        return "utf-8"
    except UnicodeDecodeError:
        return "latin-1"


_PDF_ESC = {0x6E: b"\n", 0x72: b"\r", 0x74: b"\t", 0x62: b"\b",
            0x66: b"\x0c"}


def _pdf_str_bytes(raw: bytes) -> bytes:
    """Resolve literal-string escapes (ISO 32000-1 §7.3.4.2) to the raw
    string bytes: \\n \\r \\t \\b \\f, octal \\ddd (1–3 digits), a
    backslash-EOL line continuation (vanishes), and any other escaped
    char standing for itself (covers \\( \\) \\\\)."""
    if 0x5C not in raw:
        return raw
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        c = raw[i]
        if c != 0x5C or i + 1 >= n:
            out.append(c)
            i += 1
            continue
        nxt = raw[i + 1]
        mapped = _PDF_ESC.get(nxt)
        if mapped is not None:
            out += mapped
            i += 2
        elif 0x30 <= nxt <= 0x37:  # octal, up to 3 digits
            j = i + 1
            while j < min(i + 4, n) and 0x30 <= raw[j] <= 0x37:
                j += 1
            out.append(int(raw[i + 1:j], 8) & 0xFF)
            i = j
        elif nxt in (0x0A, 0x0D):  # line continuation
            i += 2
            if nxt == 0x0D and i < n and raw[i] == 0x0A:
                i += 1
        else:
            out.append(nxt)
            i += 2
    return bytes(out)


def _pdf_decode_text(raw: bytes) -> str:
    """PDF text-string decode: UTF-16BE when the BOM says so (§7.9.2.2),
    else UTF-8 with replacement (the pragmatic web superset of
    PDFDocEncoding's ASCII range)."""
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", "replace")
    return raw.decode("utf-8", "replace")


def _pdf_unescape(raw: bytes) -> str:
    return _pdf_decode_text(_pdf_str_bytes(raw))


def _pdf_unhex(h: bytes) -> str:
    """Hex string (§7.3.4.3): whitespace ignored, odd length padded with
    a trailing 0."""
    compact = bytes(c for c in h if c not in b"<>\x00\t\n\x0c\r ")
    if len(compact) % 2:
        compact += b"0"
    try:
        return _pdf_decode_text(bytes.fromhex(compact.decode("ascii")))
    except ValueError:
        return ""


_PDF_LIT_STOP_RE = re.compile(rb"[()\\]")


def _pdf_scan_literal(data: bytes, start: int) -> tuple[bytes, int]:
    """Scan a literal string from the byte after its opening '(' —
    balanced unescaped parens nest (§7.3.4.2). Returns (raw escaped
    bytes, index after the closing paren); a truncated string ends at
    EOF. One forward pass, no backtracking: each step jumps to the next
    '(', ')' or backslash (an escape skips the byte after it)."""
    depth, i = 1, start
    search = _PDF_LIT_STOP_RE.search
    while (m := search(data, i)) is not None:
        i = m.start()
        c = data[i]
        if c == 0x5C:
            i += 2
            continue
        if c == 0x28:
            depth += 1
        else:
            depth -= 1
            if depth == 0:
                return data[start:i], i + 1
        i += 1
    return data[start:], len(data)


def _pdf_piece_paragraphs(piece: bytes) -> list[str]:
    """Paragraphs (one per BT..ET text object) of one decoded region, by
    a SINGLE token-level pass: `BT`/`ET` are operator tokens like any
    other, so string contents can never open or truncate a text object
    (r10 ADVICE fix — the former regex located BT..ET over raw bytes and
    a literal `ET` inside a shown string silently dropped the rest of
    the block; reference extractors tokenize before operator
    detection). Inside a block the show operators are `Tj`, `'`, `\"`
    (string operand) and `[..] TJ` (array concatenated, a kern
    adjustment ≤ _PDF_TJ_SPACE_KERN marks a word gap); positioning
    operators contribute nothing. Strings BETWEEN blocks are consumed as
    tokens (never shown, never spoofing a BT). A truncated block with no
    closing ET yields nothing, as before."""
    paras: list[str] = []
    in_bt = False
    parts: list[str] = []
    last_str: str | None = None
    arr: list[str] | None = None
    closed_arr: list[str] | None = None
    pos, n = 0, len(piece)
    while pos < n:
        if piece[pos] == 0x28:  # literal string — manual scan
            raw, pos = _pdf_scan_literal(piece, pos + 1)
            if in_bt:
                s = _pdf_unescape(raw)
                if arr is not None:
                    arr.append(s)
                else:
                    last_str = s
            continue
        m = _PDF_TOK_RE.match(piece, pos)
        if m is None:  # unscannable byte (inline image data etc.)
            pos += 1
            continue
        pos = m.end()
        kind = m.lastgroup
        if not in_bt:
            if kind == "op" and m.group("op") == b"BT":
                in_bt = True
                parts = []
                last_str = None
                arr = None
                closed_arr = None
            continue
        if kind == "hex":
            s = _pdf_unhex(m.group("hex"))
            if arr is not None:
                arr.append(s)
            else:
                last_str = s
        elif kind == "arr":
            if m.group("arr") == b"[":
                arr, closed_arr = [], None
            else:
                closed_arr, arr = arr, None
        elif kind == "num":
            if arr is not None:
                try:
                    if float(m.group("num")) <= _PDF_TJ_SPACE_KERN:
                        arr.append(" ")
                except ValueError:
                    pass
        elif kind == "op":
            op = m.group("op")
            if op == b"ET":
                paras.append(" ".join(p for p in parts if p))
                in_bt = False
            elif op in (b"Tj", b"'", b'"'):
                if last_str is not None:
                    parts.append(last_str)
                    last_str = None
            elif op == b"TJ":
                if closed_arr is not None:
                    parts.append("".join(closed_arr))
                    closed_arr = None
    return paras


def _inflate(data: bytes) -> bytes | None:
    import zlib
    try:
        out = zlib.decompressobj().decompress(data, _PDF_MAX_INFLATE)
    except zlib.error:
        return None
    return out or None


_A85_OK = frozenset(range(0x21, 0x76)) | set(b"z\x00\t\n\x0c\r ")
_HEX_OK = frozenset(b"0123456789abcdefABCDEF\x00\t\n\x0c\r ")


def _pdf_decode_stream(data: bytes) -> bytes | None:
    """Decode one stream body through the offline-decodable filter
    chains (ISO 32000-1 §7.4): FlateDecode; ASCIIHexDecode or
    ASCII85Decode (§7.4.2/7.4.3), each alone or wrapping Flate. The
    `/Filter` entry lives in the object dict OUTSIDE the captured body,
    so the chain is probed — safely: the ASCII codecs only fire when
    the body is entirely inside their charsets (with the right
    terminator), which compressed/binary bodies essentially never are,
    and a wrong guess yields garbage with no `BT` (harmless)."""
    out = _inflate(data)
    if out is not None:
        return out
    s = data.strip(b"\x00\t\n\x0c\r ")
    if s[-2:] == b"~>" and all(c in _A85_OK for c in s[:-2]):
        import base64
        try:
            dec = base64.a85decode(s[:-2].translate(None, b"\x00\t\n\x0c\r "))
        except ValueError:
            return None
        return _inflate(dec) or dec or None
    if s[-1:] == b">" and all(c in _HEX_OK for c in s[:-1]):
        compact = s[:-1].translate(None, b"\x00\t\n\x0c\r ")
        if len(compact) % 2:
            compact += b"0"  # odd length pads with 0 (§7.4.2)
        try:
            dec = bytes.fromhex(compact.decode("ascii"))
        except ValueError:
            return None
        return _inflate(dec) or dec or None
    return None


def _pdf_paragraphs(payload: bytes) -> list[str]:
    """All text-object paragraphs of a PDF payload in document order.

    Walks `stream…endstream` segments: bodies decode through
    ``_pdf_decode_stream`` (Flate / ASCIIHex / ASCII85 chains — output
    capped at _PDF_MAX_INFLATE per stream; corrupt data skipped), raw
    bodies that carry a BT are scanned as-is (uncompressed content
    streams), and the regions BETWEEN streams are scanned too —
    fixtures and hand-made PDFs put text objects at top level. Each
    BT..ET is one paragraph."""
    pieces: list[bytes] = []
    pos = 0
    for m in _PDF_STREAM_RE.finditer(payload):
        pieces.append(payload[pos:m.start()])
        data = m.group(1)
        dec = _pdf_decode_stream(data)
        if dec is not None:
            pieces.append(dec)
        # raw-body fallback (r10 ADVICE fix): scan the raw body when the
        # decode produced nothing OR when a codec probe "succeeded" on a
        # body that was really raw text (garbage decode with no BT would
        # otherwise shadow the real text object in the raw bytes)
        if (dec is None or b"BT" not in dec) and b"BT" in data:
            pieces.append(data)
        pos = m.end()
    pieces.append(payload[pos:])
    return [p for piece in pieces for p in _pdf_piece_paragraphs(piece)]


# D4 analog, the ``_lexer`` C extension: a decoded HTML document in, its
# contiguous text blocks with per-block stats out (see its docstring).
lex_blocks = _lexer.lex_blocks


def score_block(n_chars: int, link_density: float, text_density: float) -> float:
    """D2 analog — heuristic block score, hybrid.py:131 weight structure."""
    return (
        W_SIZE * min(n_chars / SIZE_NORM_CHARS, 1.0)
        + W_LINK * (1.0 - link_density)
        + W_DENSITY * text_density
    )


# [A-Za-z0-9] is counted on the UTF-8 bytes: the bytes deleted by
# bytes.translate(None, _ALNUM_BYTES) are exactly the ASCII letters and
# digits, since no byte of a multibyte UTF-8 sequence is ASCII. Equal to
# len(re.findall(r"[A-Za-z0-9]", text)), ~3.5x cheaper than str.translate
# with a deletion dict.
_ALNUM_BYTES = b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"


def _alnum_count(text: str) -> int:
    e = text.encode("utf-8", "surrogatepass")
    return len(e) - len(e.translate(None, _ALNUM_BYTES))


def _features(b: dict[str, Any]) -> tuple[float, float]:
    """(link_density, text_density) for a raw block (memoized per block)."""
    cached = b.get("_feat")
    if cached is not None:
        return cached
    n = max(b["n_chars"], 1)
    link_density = min(b["link_chars"] / n, 1.0)
    text_density = _alnum_count(b["text"]) / n
    b["_feat"] = (link_density, text_density)
    return b["_feat"]


def keep_block(b: dict[str, Any]) -> bool:
    """P5 analog — the fixed predicate gate deciding main-content membership."""
    if b["boiler"]:
        return False
    if b["n_chars"] < MIN_BLOCK_CHARS:
        return False
    link_density, text_density = _features(b)
    if link_density > MAX_LINK_DENSITY:
        return False
    return score_block(b["n_chars"], link_density, text_density) >= SCORE_THRESHOLD


def fingerprint_spans(spans: list[dict[str, Any]]) -> str:
    """E13 — layout fingerprint with pinned float formatting.

    ``generate_blob_fingerprint`` (hybrid.py:229-242): sort by position,
    normalize, round, hash. We pin explicit %-format strings (risk §7.3.1)
    instead of Python ``str()`` of rounded floats.
    """
    if not spans:
        return "empty"
    parts = []
    for s in spans:
        parts.append((
            s["start"], s["end"],
            "%.4f,%.4f,%.3f,%.3f,%.3f,%.3f"
            % (s["cx"], s["cy"], s["area"], s["aspect_ratio"],
               s["solidity"], s["extent"])))
    # sort includes the formatted features so ties on (start, end) are
    # still order-canonical (hypothesis-found; pipeline spans have unique
    # starts, so their fingerprints are unchanged)
    parts.sort()
    return hashlib.md5(";".join(p[2] for p in parts).encode("utf-8")).hexdigest()[:16]


def rec_id(key: str) -> str:
    """E12 — content-hash id, ``hash_id`` (scan_and_store.py:49-52)."""
    return hashlib.sha1(key.encode("utf-8")).hexdigest()[:12]


def _spans_from_kept(kept: list[dict[str, Any]], n_blocks_total: int,
                     texts: list[str]) -> list[dict[str, Any]]:
    """Build span structs over the joined main text (FIXTURES.md §3 schema)."""
    # length of "\n\n".join(texts), without building it again
    total_len = sum(map(len, texts)) + 2 * (len(texts) - 1)
    spans = []
    offset = 0
    denom_idx = max(n_blocks_total - 1, 1)
    for i, (b, t) in enumerate(zip(kept, texts)):
        start = offset
        end = start + len(t)
        offset = end + 2  # "\n\n" separator
        link_density, text_density = _features(b)
        # t is canonical (single spaces): sum(len(w)) == len(t) - n_spaces
        # and n_words == n_spaces + 1 — identical value, no allocation
        n_spaces = t.count(" ")
        aspect = (len(t) - n_spaces) / (n_spaces + 1)
        spans.append({
            "start": start,
            "end": end,
            "tag": b["tag"],
            "cx": b["block_index"] / denom_idx,
            "cy": start / max(total_len, 1),
            "area": float(len(t)),
            "aspect_ratio": aspect,
            "solidity": text_density,
            "extent": 1.0 - link_density,
            "score": score_block(b["n_chars"], link_density, text_density),
        })
    return spans


def extract(payload: bytes, url: str,
            http_charset: str | None = None) -> dict[str, Any]:
    """The oracle: one document in, the canonical record out.

    Returns ``{url, text, title, maker_name, year, year_candidates,
    custom_id, rec_id, barcode, spans, fingerprint, method, charset,
    n_blocks, kept_blocks, raw_chars}``. ``text`` is the byte-identity
    target; ``year`` falls back from ``text`` to the full visible text (E5
    cascade), whose length is ``raw_chars``; ``year_candidates`` are the
    in-range ``YEAR_PATTERNS[1]`` matches in ``text`` as matched strings,
    in document order; ``barcode`` is the E15 canonical link (``None`` for
    PDFs). ``http_charset`` is the transport's charset claim (WARC HTTP
    envelope), which outranks in-document declarations — see
    ``detect_charset``.
    """
    if payload[:5] == b"%PDF-":
        paras = [normalize_ws(p) for p in _pdf_paragraphs(payload)]
        paras = [p for p in paras if p]
        text = "\n\n".join(paras)
        tm = _PDF_TITLE_RE.search(payload)
        title = None
        if tm:
            raw_title = (_pdf_unescape(tm.group(1)) if tm.group(1) is not None
                         else _pdf_unhex(tm.group(2)))
            title = normalize_ws(raw_title)
        kept = [{
            "text": p, "n_chars": len(p), "link_chars": 0,
            "boiler": False, "tag": "pdf", "block_index": i,
        } for i, p in enumerate(paras)]
        spans = _spans_from_kept(kept, max(len(paras), 1), paras)
        raw_text = text
        barcode = None
        method, charset, n_blocks = "pdf", "binary", len(paras)
    else:
        charset = detect_charset(payload, http_charset)
        decoded = payload.decode(charset, "replace")
        blocks = lex_blocks(decoded)
        # keep_block's two cheap rejections, checked before the call
        kept = [b for b in blocks if not b["boiler"]
                and b["n_chars"] >= MIN_BLOCK_CHARS and keep_block(b)]
        texts = [b["text"] for b in kept]
        text = "\n\n".join(texts)
        tm = _TITLE_RE.search(decoded)
        title = normalize_ws(_htmlmod.unescape(tm.group(1))) if tm else None
        spans = _spans_from_kept(kept, max(len(blocks), 1), texts)
        raw_text = "\n".join(b["text"] for b in blocks)
        cm = _CANONICAL_RE.search(decoded, 0, 2048)
        barcode = cm.group(1) if cm else None
        method, n_blocks = "html", len(blocks)

    # E5 cascade: main text first, whole visible page as fallback. One
    # bare-pattern scan of the main text gives both the `raw` year bucket
    # (every in-range match, as matched) and extract_year's fallback hit.
    year = None
    cands: list[str] = []
    if _may_hold_year(text):
        hits = list(_years(_YEAR_RES[1], text))
        cands = [s for _, s in hits]
        year = _labeled_year(text)
        if year is None and hits:
            year = hits[0][0]
    if year is None:
        year = extract_year(raw_text)
    maker = normalize_maker(title)
    custom_id = f"{maker}|{year}" if (maker is not None and year is not None) else None
    return {
        "url": url,
        "text": text,
        "title": title,
        "maker_name": maker,
        "year": year,
        "year_candidates": cands,
        "custom_id": custom_id,
        "rec_id": rec_id(custom_id) if custom_id else None,
        "barcode": barcode,
        "spans": spans,
        "fingerprint": fingerprint_spans(spans),
        "method": method,
        "charset": charset,
        "n_blocks": n_blocks,
        "kept_blocks": len(spans),
        "raw_chars": len(raw_text),
    }


def record(rec: dict[str, Any]) -> dict[str, Any]:
    """The finished record (FIXTURES.md §2) of one ``extract`` result: every
    record column except the page's own ``url``, ``warc_ts`` and ``lang``,
    under its record name (``vintage`` is ``year``).

    ``blob_data`` is the BlobData-analog struct (FIXTURES.md §3): the span
    extent, ``[n_blocks, len(text)]``, the mask info (method, kept share of
    the visible text, charset), the kept-block count, the fingerprint and
    the spans. ``raw`` is the ocr_raw analog (final_run_ocr.py:325-340): the
    candidate buckets ``title``, ``year_candidates`` and ``blocks`` (the
    first 40 characters of the top 3 spans), in that order.
    """
    text, spans = rec["text"], rec["spans"]
    return {
        "custom_id": rec["custom_id"],
        "maker_name": rec["maker_name"],
        "vintage": rec["year"],
        "barcode": rec["barcode"],
        "fingerprint": rec["fingerprint"],
        "rec_id": rec["rec_id"],
        "text": text,
        "blob_data": {
            "roi_bbox": ([spans[0]["start"], spans[-1]["end"]] if spans
                         else [0, 0]),
            "roi_shape": [rec["n_blocks"], len(text)],
            "mask_info": {
                "method": rec["method"],
                "foreground_ratio": len(text) / max(rec["raw_chars"], 1),
                "note": rec["charset"]},
            "blob_count": rec["kept_blocks"],
            "fingerprint": rec["fingerprint"],
            "spans": spans,
        },
        "raw": {
            "title": [{"text": rec["title"] or "", "conf": 1.0}],
            "year_candidates": [{"text": c, "conf": 1.0}
                                for c in rec["year_candidates"]],
            "blocks": [{"text": text[s["start"]:s["start"] + 40],
                        "conf": s["score"]} for s in spans[:3]],
        },
    }
