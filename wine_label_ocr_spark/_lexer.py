"""The HTML block lexer and the whitespace policy, as a CPython C extension.

``oracle.lex_blocks`` and ``oracle.normalize_ws`` are the two functions
this module exports:

* ``lex_blocks(decoded)`` splits a decoded HTML document into its text
  blocks ``{text, n_chars, link_chars, boiler, tag, block_index}``.
  ``html.unescape`` is called only for text that contains ``&``.
* ``normalize_ws(s)`` collapses every whitespace run to one space and
  strips: ``" ".join(s.split())``. Whitespace is ``Py_UNICODE_ISSPACE``,
  which is ``str.isspace()`` and ``re``'s ``\\s`` on every code point.

The tag scan has the match semantics of the regular expression

    <!--.*?-->|<!\\[CDATA\\[.*?\\]\\]>|<!DOCTYPE[^>]*>
    |<(/?[a-zA-Z][a-zA-Z0-9-]*)(?:[^>"'/]++|/(?!>)|"[^"]*+"|'[^']*+')*?(/?)>

(DOTALL), applied as ``re.split`` applies it: a ``<`` that starts no
match is text. ``tests/test_properties.py`` keeps the Python lexer built
on that pattern and compares the two on generated markup.

The C source is a string here, so the package ships as ``.py`` files
only (``spark-submit --py-files`` zips). The first import on a host
compiles it with ``sysconfig``'s ``CC`` into
``tempfile.gettempdir()/wlos_lexer-<uid>/<sha256(source)[:16]><EXT_SUFFIX>``;
later imports, Spark workers included, load that file. The directory and
the file must belong to the current user and be writable by no one else,
or the import fails: a shared temp dir must not let another user choose
the code this process runs. A host without a C compiler or the Python
headers cannot import this module, and no built file is shipped: each
cluster executor compiles its own at first import.
"""

from __future__ import annotations

import hashlib
import os
import shlex
import stat
import subprocess
import sysconfig
import tempfile
from importlib.machinery import ExtensionFileLoader
from importlib.util import module_from_spec, spec_from_file_location

# Containers whose content is never main text (readability convention; the
# analog of the reference ignoring non-"bottle" classes,
# Char_Count_TurnTable.py:104-106).
BOILER_CONTAINERS = frozenset({"nav", "header", "footer", "aside"})
SKIP_CONTAINERS = frozenset({"script", "style", "head", "noscript", "template"})
BLOCK_TAGS = frozenset({
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "th",
    "article", "section", "main", "blockquote", "pre", "table", "ul", "ol",
    "tr", "br", "hr", "title", "body", "html", "figcaption", "dd", "dt",
})


def _tag_table() -> str:
    # later writes win: skip > a > boiler > block
    actions = dict.fromkeys(BLOCK_TAGS, "ACT_BLOCK")
    actions.update(dict.fromkeys(BOILER_CONTAINERS, "ACT_BOILER"))
    actions["a"] = "ACT_LINK"
    actions.update(dict.fromkeys(SKIP_CONTAINERS, "ACT_SKIP"))
    return "\n".join(f'    {{"{t}", {len(t)}, {a}, NULL}},'
                     for t, a in sorted(actions.items()))


_C_SOURCE = r"""
#define PY_SSIZE_T_CLEAN
#include <Python.h>
#include <string.h>

#define ALWAYS_INLINE static inline __attribute__((always_inline))
#if PY_VERSION_HEX < 0x030C0000
#define READY(s) PyUnicode_READY(s)
#else
#define READY(s) 0  /* every str is ready; the macro is deprecated */
#endif

enum { ACT_BLOCK = 1, ACT_LINK, ACT_SKIP, ACT_BOILER };

typedef struct { const char *name; Py_ssize_t len; int action; PyObject *str; } Tag;

/* every tag that changes the lexer state; the rest are transparent */
static Tag TAGS[] = {
@TAGS@
};
#define N_TAGS ((int)(sizeof(TAGS) / sizeof(TAGS[0])))
#define MAX_TAG_LEN 15

static PyObject *k_text, *k_n_chars, *k_link_chars, *k_boiler, *k_tag,
    *k_block_index, *s_body, *s_empty;
static PyObject *unescape;  /* html.unescape */

/* a text run between two tags: [a, b) of the document */
typedef struct { Py_ssize_t a, b; char link, amp; } Seg;

typedef struct {
    PyObject *src, *blocks, *cur_tag;
    int kind;
    const void *data;
    Py_ssize_t n;
    Seg *segs;
    Py_ssize_t nsegs, segcap;
    int seg_boiler, seg_link;
    Py_ssize_t boiler_depth, skip_depth, link_depth;
    void *buf;             /* scratch for normalized text */
    Py_ssize_t bufcap;     /* in bytes */
    Py_ssize_t last_gt;    /* no tag or doctype ends after this '>' */
    /* searches that already failed: no match starts at or after these */
    Py_ssize_t no_comment_end, no_cdata_end, no_dq, no_sq;
} Lexer;

/* ---------------------------------------------------------------- text */

typedef struct { int pending, started; } Norm;

/* Append the whitespace-normalized form of data[a:b) at out[o:] (count
   only when out is NULL); the state carries a run across calls. */
ALWAYS_INLINE Py_ssize_t
norm_k(const int kind, const void *data, Py_ssize_t a, Py_ssize_t b,
       void *out, Py_ssize_t o, Norm *st)
{
    for (Py_ssize_t i = a; i < b; i++) {
        Py_UCS4 c = PyUnicode_READ(kind, data, i);
        if (Py_UNICODE_ISSPACE(c)) {
            st->pending = st->started;
            continue;
        }
        if (st->pending) {
            if (out)
                PyUnicode_WRITE(kind, out, o, ' ');
            o++;
            st->pending = 0;
        }
        if (out)
            PyUnicode_WRITE(kind, out, o, c);
        o++;
        st->started = 1;
    }
    return o;
}

static Py_ssize_t
norm(int kind, const void *data, Py_ssize_t a, Py_ssize_t b,
     void *out, Py_ssize_t o, Norm *st)
{
    switch (kind) {
    case PyUnicode_1BYTE_KIND:
        return norm_k(PyUnicode_1BYTE_KIND, data, a, b, out, o, st);
    case PyUnicode_2BYTE_KIND:
        return norm_k(PyUnicode_2BYTE_KIND, data, a, b, out, o, st);
    default:
        return norm_k(PyUnicode_4BYTE_KIND, data, a, b, out, o, st);
    }
}

static int
reserve(Lexer *L, Py_ssize_t nbytes)
{
    if (nbytes <= L->bufcap)
        return 0;
    void *p = PyMem_Realloc(L->buf, (size_t)nbytes);
    if (p == NULL) {
        PyErr_NoMemory();
        return -1;
    }
    L->buf = p;
    L->bufcap = nbytes;
    return 0;
}

/* normalize_ws of a whole str, in L's scratch buffer */
static PyObject *
norm_str(Lexer *L, PyObject *s)
{
    int kind = PyUnicode_KIND(s);
    Py_ssize_t n = PyUnicode_GET_LENGTH(s);
    if (reserve(L, n * kind) < 0)
        return NULL;
    Norm st = {0, 0};
    Py_ssize_t o = norm(kind, PyUnicode_DATA(s), 0, n, L->buf, 0, &st);
    return PyUnicode_FromKindAndData(kind, L->buf, o);
}

/* len(normalize_ws(s)) */
static Py_ssize_t
norm_len(PyObject *s)
{
    Norm st = {0, 0};
    return norm(PyUnicode_KIND(s), PyUnicode_DATA(s), 0,
                PyUnicode_GET_LENGTH(s), NULL, 0, &st);
}

/* html.unescape(raw), consuming the reference to raw */
static PyObject *
call_unescape(PyObject *raw)
{
    if (raw == NULL)
        return NULL;
    PyObject *u = PyObject_CallOneArg(unescape, raw);
    Py_DECREF(raw);
    return u;
}

/* ---------------------------------------------------------------- blocks */

/* The block text of the pending segments: their concatenation,
   unescaped when it holds '&', whitespace-normalized. */
static PyObject *
block_text(Lexer *L)
{
    Py_ssize_t i, total = 0;
    int amp = 0;
    for (i = 0; i < L->nsegs; i++) {
        total += L->segs[i].b - L->segs[i].a;
        amp |= L->segs[i].amp;
    }
    if (!amp) {
        if (reserve(L, total * L->kind) < 0)
            return NULL;
        Norm st = {0, 0};
        Py_ssize_t o = 0;
        for (i = 0; i < L->nsegs; i++)
            o = norm(L->kind, L->data, L->segs[i].a, L->segs[i].b,
                     L->buf, o, &st);
        return PyUnicode_FromKindAndData(L->kind, L->buf, o);
    }
    /* an entity may span a transparent tag: unescape the join */
    PyObject *parts = PyList_New(L->nsegs);
    if (parts == NULL)
        return NULL;
    for (i = 0; i < L->nsegs; i++) {
        PyObject *p = PyUnicode_Substring(L->src, L->segs[i].a, L->segs[i].b);
        if (p == NULL) {
            Py_DECREF(parts);
            return NULL;
        }
        PyList_SET_ITEM(parts, i, p);
    }
    PyObject *u = call_unescape(PyUnicode_Join(s_empty, parts));
    Py_DECREF(parts);
    if (u == NULL)
        return NULL;
    PyObject *text = norm_str(L, u);
    Py_DECREF(u);
    return text;
}

/* sum of the normalized lengths of the link segments, each unescaped on
   its own */
static Py_ssize_t
link_chars(Lexer *L)
{
    Py_ssize_t total = 0;
    for (Py_ssize_t i = 0; i < L->nsegs; i++) {
        Seg *s = &L->segs[i];
        if (!s->link)
            continue;
        if (s->amp) {
            PyObject *u = call_unescape(
                PyUnicode_Substring(L->src, s->a, s->b));
            if (u == NULL)
                return -1;
            total += norm_len(u);
            Py_DECREF(u);
        }
        else {
            Norm st = {0, 0};
            total += norm(L->kind, L->data, s->a, s->b, NULL, 0, &st);
        }
    }
    return total;
}

static int
set_steal(PyObject *d, PyObject *k, PyObject *v)
{
    if (v == NULL)
        return -1;
    int r = PyDict_SetItem(d, k, v);
    Py_DECREF(v);
    return r;
}

/* Emit the pending segments as one block (if its text is not empty),
   then start the next block under next_tag. */
static int
flush(Lexer *L, PyObject *next_tag)
{
    PyObject *text = block_text(L);
    if (text == NULL)
        return -1;
    Py_ssize_t n = PyUnicode_GET_LENGTH(text);
    if (n > 0) {
        Py_ssize_t lc = 0;
        if (L->seg_link) {
            /* a lone link segment is its own block text */
            lc = L->nsegs == 1 ? n : link_chars(L);
            if (lc < 0) {
                Py_DECREF(text);
                return -1;
            }
            if (lc > n)
                lc = n;
        }
        PyObject *d = PyDict_New();
        if (d == NULL || PyDict_SetItem(d, k_text, text) < 0
            || set_steal(d, k_n_chars, PyLong_FromSsize_t(n)) < 0
            || set_steal(d, k_link_chars, PyLong_FromSsize_t(lc)) < 0
            || PyDict_SetItem(d, k_boiler,
                              L->seg_boiler ? Py_True : Py_False) < 0
            || PyDict_SetItem(d, k_tag, L->cur_tag) < 0
            || set_steal(d, k_block_index,
                         PyLong_FromSsize_t(PyList_GET_SIZE(L->blocks))) < 0
            || PyList_Append(L->blocks, d) < 0) {
            Py_XDECREF(d);
            Py_DECREF(text);
            return -1;
        }
        Py_DECREF(d);
    }
    Py_DECREF(text);
    L->nsegs = 0;
    L->seg_boiler = L->seg_link = 0;
    L->cur_tag = next_tag;
    return 0;
}

static int
push_seg(Lexer *L, Py_ssize_t a, Py_ssize_t b, int amp)
{
    if (L->nsegs == L->segcap) {
        Py_ssize_t cap = L->segcap ? 2 * L->segcap : 16;
        Seg *p = PyMem_Realloc(L->segs, (size_t)cap * sizeof(Seg));
        if (p == NULL) {
            PyErr_NoMemory();
            return -1;
        }
        L->segs = p;
        L->segcap = cap;
    }
    Seg *s = &L->segs[L->nsegs++];
    s->a = a;
    s->b = b;
    s->link = L->link_depth > 0;
    s->amp = (char)amp;
    if (s->link)
        L->seg_link = 1;
    return 0;
}

/* Text between two tags (tail: after the last one). Outside skipped
   containers it joins the pending block; whitespace-only text joins
   only a block already started, and is dropped at the tail. */
ALWAYS_INLINE int
text_k(const int kind, Lexer *L, Py_ssize_t a, Py_ssize_t b, int tail)
{
    if (a >= b || L->skip_depth > 0)
        return 0;
    int space = 1, amp = 0;
    for (Py_ssize_t i = a; i < b; i++) {
        Py_UCS4 c = PyUnicode_READ(kind, L->data, i);
        if (c == '&')
            amp = 1;
        if (space && !Py_UNICODE_ISSPACE(c))
            space = 0;
    }
    if (!space) {
        if (L->boiler_depth > 0)
            L->seg_boiler = 1;
        return push_seg(L, a, b, amp);
    }
    if (!tail && L->nsegs > 0)
        return push_seg(L, a, b, amp);
    return 0;
}

/* ---------------------------------------------------------------- tags */

static const Tag *
lookup(const char *name, Py_ssize_t len)
{
    for (int i = 0; i < N_TAGS; i++) {
        if (TAGS[i].len == len && TAGS[i].name[0] == name[0]
            && memcmp(TAGS[i].name, name, (size_t)len) == 0)
            return &TAGS[i];
    }
    return NULL;
}

/* The state machine: one tag name [a, b) (ASCII letters, digits, '-'). */
ALWAYS_INLINE int
tag_k(const int kind, Lexer *L, Py_ssize_t a, Py_ssize_t b, int closing,
      int selfclosed)
{
    char name[MAX_TAG_LEN + 1];
    Py_ssize_t len = b - a;
    if (len > MAX_TAG_LEN)
        return 0;
    for (Py_ssize_t i = 0; i < len; i++) {
        Py_UCS4 c = PyUnicode_READ(kind, L->data, a + i);
        name[i] = (char)(c >= 'A' && c <= 'Z' ? c + 32 : c);
    }
    const Tag *t = lookup(name, len);
    if (t == NULL)
        return 0;  /* transparent (span, b, em, ...) */
    PyObject *tag = t->str;
    switch (t->action) {
    case ACT_BLOCK:
        if (L->nsegs)
            return flush(L, closing ? L->cur_tag : tag);
        if (!closing)
            L->cur_tag = tag;
        return 0;
    case ACT_LINK:
        if (closing) {
            if (L->link_depth > 0)
                L->link_depth--;
        }
        else if (!selfclosed)
            L->link_depth++;
        return 0;
    case ACT_SKIP:
        if (closing && !selfclosed) {
            if (L->skip_depth > 0)
                L->skip_depth--;
        }
        else if (!selfclosed)
            L->skip_depth++;
        return L->nsegs ? flush(L, L->cur_tag) : 0;
    default:  /* ACT_BOILER */
        if (closing) {
            if (L->boiler_depth > 0)
                L->boiler_depth--;
        }
        else if (!selfclosed)
            L->boiler_depth++;
        if (L->nsegs)
            return flush(L, closing ? L->cur_tag : tag);
        if (!closing)
            L->cur_tag = tag;
        return 0;
    }
}

ALWAYS_INLINE Py_ssize_t
find_k(const int kind, const void *data, Py_ssize_t i, Py_ssize_t n,
       Py_UCS4 ch)
{
    if (kind == PyUnicode_1BYTE_KIND) {
        const Py_UCS1 *p = (const Py_UCS1 *)data;
        const Py_UCS1 *q = i < n ? memchr(p + i, (int)ch, (size_t)(n - i))
                                 : NULL;
        return q ? q - p : -1;
    }
    for (; i < n; i++)
        if (PyUnicode_READ(kind, data, i) == ch)
            return i;
    return -1;
}

/* First i >= from with data[i:i+3] == c c '>' ("-->" or "]]>"), or -1;
   *memo is a position from which the search already failed. */
ALWAYS_INLINE Py_ssize_t
find_close_k(const int kind, const void *data, Py_ssize_t from,
             Py_ssize_t n, Py_UCS4 c, Py_ssize_t *memo)
{
    if (from >= *memo)
        return -1;
    for (Py_ssize_t i = from; (i = find_k(kind, data, i, n, c)) >= 0; i++) {
        if (i + 2 < n && PyUnicode_READ(kind, data, i + 1) == c
            && PyUnicode_READ(kind, data, i + 2) == '>')
            return i;
    }
    *memo = from;
    return -1;
}

ALWAYS_INLINE Py_ssize_t
find_memo_k(const int kind, const void *data, Py_ssize_t from, Py_ssize_t n,
            Py_UCS4 c, Py_ssize_t *memo)
{
    if (from >= *memo)
        return -1;
    Py_ssize_t i = find_k(kind, data, from, n, c);
    if (i < 0)
        *memo = from;
    return i;
}

ALWAYS_INLINE int
prefix_k(const int kind, const void *data, Py_ssize_t i, Py_ssize_t n,
         const char *lit)
{
    Py_ssize_t m = (Py_ssize_t)strlen(lit);
    if (i + m > n)
        return 0;
    for (Py_ssize_t k = 0; k < m; k++)
        if (PyUnicode_READ(kind, data, i + k) != (Py_UCS4)(unsigned char)lit[k])
            return 0;
    return 1;
}

#define IS_ALPHA(c) (((c) | 0x20) >= 'a' && ((c) | 0x20) <= 'z')
#define IS_NAME(c) (IS_ALPHA(c) || ((c) >= '0' && (c) <= '9') || (c) == '-')

/* Match the tag pattern at data[j] == '<'. Returns the end of the match
   or -1; for a tag, [*na, *nb) is its name, *na < 0 otherwise. */
ALWAYS_INLINE Py_ssize_t
match_k(const int kind, Lexer *L, Py_ssize_t j, Py_ssize_t *na,
        Py_ssize_t *nb, int *closing, int *selfclosed)
{
    const void *data = L->data;
    Py_ssize_t n = L->n, k;
    *na = -1;
    if (j + 1 < n && PyUnicode_READ(kind, data, j + 1) == '!') {
        if (prefix_k(kind, data, j + 2, n, "--"))
            k = find_close_k(kind, data, j + 4, n, '-', &L->no_comment_end);
        else if (prefix_k(kind, data, j + 2, n, "[CDATA["))
            k = find_close_k(kind, data, j + 9, n, ']', &L->no_cdata_end);
        else if (prefix_k(kind, data, j + 2, n, "DOCTYPE"))
            return j + 9 > L->last_gt
                ? -1 : find_k(kind, data, j + 9, n, '>') + 1;
        else
            return -1;
        return k < 0 ? -1 : k + 3;
    }
    k = j + 1;
    *closing = 0;
    if (k < n && PyUnicode_READ(kind, data, k) == '/') {
        *closing = 1;
        k++;
    }
    if (k >= n || !IS_ALPHA(PyUnicode_READ(kind, data, k)))
        return -1;
    *na = k++;
    while (k < n && IS_NAME(PyUnicode_READ(kind, data, k)))
        k++;
    *nb = k;
    /* attributes: plain runs, a '/' not before '>', closed quotes */
    for (;;) {
        if (k > L->last_gt)
            return -1;
        Py_UCS4 c = PyUnicode_READ(kind, data, k);
        if (c == '>') {
            *selfclosed = 0;
            return k + 1;
        }
        if (c == '/') {
            if (k + 1 < n && PyUnicode_READ(kind, data, k + 1) == '>') {
                *selfclosed = 1;
                return k + 2;
            }
            k++;
        }
        else if (c == '"' || c == '\'') {
            k = find_memo_k(kind, data, k + 1, n, c,
                            c == '"' ? &L->no_dq : &L->no_sq);
            if (k < 0)
                return -1;
            k++;
        }
        else
            k++;
    }
}

ALWAYS_INLINE int
lex_k(const int kind, Lexer *L)
{
    const void *data = L->data;
    Py_ssize_t n = L->n, pos = 0, i = 0;
    while ((i = find_k(kind, data, i, n, '<')) >= 0) {
        Py_ssize_t na, nb;
        int closing = 0, selfclosed = 0;
        Py_ssize_t end = match_k(kind, L, i, &na, &nb, &closing, &selfclosed);
        if (end < 0) {
            i++;
            continue;
        }
        if (text_k(kind, L, pos, i, 0) < 0)
            return -1;
        if (na >= 0 && tag_k(kind, L, na, nb, closing, selfclosed) < 0)
            return -1;
        pos = i = end;
    }
    if (text_k(kind, L, pos, n, 1) < 0)
        return -1;
    return L->nsegs ? flush(L, L->cur_tag) : 0;
}

static PyObject *
lex_blocks(PyObject *Py_UNUSED(module), PyObject *decoded)
{
    if (!PyUnicode_Check(decoded)) {
        PyErr_SetString(PyExc_TypeError, "lex_blocks takes a str");
        return NULL;
    }
    if (READY(decoded) < 0)
        return NULL;
    Lexer L;
    memset(&L, 0, sizeof L);
    L.src = decoded;
    L.kind = PyUnicode_KIND(L.src);
    L.data = PyUnicode_DATA(L.src);
    L.n = PyUnicode_GET_LENGTH(L.src);
    L.cur_tag = s_body;
    L.no_comment_end = L.no_cdata_end = L.no_dq = L.no_sq = PY_SSIZE_T_MAX;
    L.last_gt = L.n - 1;
    while (L.last_gt >= 0 && PyUnicode_READ(L.kind, L.data, L.last_gt) != '>')
        L.last_gt--;
    L.blocks = PyList_New(0);
    if (L.blocks == NULL)
        return NULL;
    int r;
    switch (L.kind) {
    case PyUnicode_1BYTE_KIND:
        r = lex_k(PyUnicode_1BYTE_KIND, &L);
        break;
    case PyUnicode_2BYTE_KIND:
        r = lex_k(PyUnicode_2BYTE_KIND, &L);
        break;
    default:
        r = lex_k(PyUnicode_4BYTE_KIND, &L);
    }
    PyMem_Free(L.segs);
    PyMem_Free(L.buf);
    if (r < 0)
        Py_CLEAR(L.blocks);
    return L.blocks;
}

static PyObject *
normalize_ws(PyObject *Py_UNUSED(module), PyObject *s)
{
    if (!PyUnicode_Check(s)) {
        PyErr_SetString(PyExc_TypeError, "normalize_ws takes a str");
        return NULL;
    }
    if (READY(s) < 0)
        return NULL;
    int kind = PyUnicode_KIND(s);
    Py_ssize_t n = PyUnicode_GET_LENGTH(s);
    void *buf = PyMem_Malloc(n ? (size_t)(n * kind) : 1);
    if (buf == NULL)
        return PyErr_NoMemory();
    Norm st = {0, 0};
    Py_ssize_t o = norm(kind, PyUnicode_DATA(s), 0, n, buf, 0, &st);
    PyObject *r;
    if (o == n && (n == 0 || memcmp(buf, PyUnicode_DATA(s),
                                    (size_t)(n * kind)) == 0)) {
        Py_INCREF(s);  /* already normalized */
        r = s;
    }
    else
        r = PyUnicode_FromKindAndData(kind, buf, o);
    PyMem_Free(buf);
    return r;
}

static PyMethodDef methods[] = {
    {"lex_blocks", lex_blocks, METH_O,
     "lex_blocks(decoded)\n--\n\n"
     "D4 analog: split a decoded HTML document into contiguous text blocks.\n\n"
     "Returns raw blocks with per-block stats, the analog of\n"
     "connectedComponentsWithStats per-blob stats (hybrid.py:189-227):\n"
     "{text, n_chars, link_chars, boiler, tag, block_index}, in document\n"
     "order; block_index is the block's position in the returned list.\n"
     "html.unescape runs only on text that contains '&'."},
    {"normalize_ws", normalize_ws, METH_O,
     "normalize_ws(s) -> whitespace runs collapsed to one space, stripped"},
    {NULL, NULL, 0, NULL},
};

static struct PyModuleDef moddef = {
    PyModuleDef_HEAD_INIT, "_wlos_lexer", NULL, -1, methods,
    NULL, NULL, NULL, NULL,
};

static PyObject *
intern(const char *s)
{
    return PyUnicode_InternFromString(s);
}

PyMODINIT_FUNC
PyInit__wlos_lexer(void)
{
    if (!(k_text = intern("text")) || !(k_n_chars = intern("n_chars"))
        || !(k_link_chars = intern("link_chars"))
        || !(k_boiler = intern("boiler")) || !(k_tag = intern("tag"))
        || !(k_block_index = intern("block_index"))
        || !(s_body = intern("body")) || !(s_empty = intern("")))
        return NULL;
    PyObject *html = PyImport_ImportModule("html");
    if (html == NULL)
        return NULL;
    unescape = PyObject_GetAttrString(html, "unescape");
    Py_DECREF(html);
    if (unescape == NULL)
        return NULL;
    for (int i = 0; i < N_TAGS; i++) {
        if (TAGS[i].len > MAX_TAG_LEN) {
            PyErr_SetString(PyExc_ValueError, "tag name too long");
            return NULL;
        }
        if (!(TAGS[i].str = intern(TAGS[i].name)))
            return NULL;
    }
    return PyModule_Create(&moddef);
}
""".replace("@TAGS@", _tag_table())

_NAME = "_wlos_lexer"


def _compile_command(out: str) -> list[str]:
    cc = shlex.split(sysconfig.get_config_var("CC") or "cc")
    return [*cc, "-O2", "-shared", "-fPIC",
            "-I", sysconfig.get_paths()["include"], "-x", "c", "-", "-o", out]


def _build(path: str) -> None:
    """Compile the source to ``path``: to a temporary name in the same
    directory, then ``os.replace``, so importers racing on a cold cache
    each see either no file or a whole one."""
    fd, tmp = tempfile.mkstemp(prefix=os.path.basename(path) + ".",
                               suffix=".tmp", dir=os.path.dirname(path))
    os.close(fd)
    cmd = _compile_command(tmp)
    try:
        try:
            proc = subprocess.run(cmd, input=_C_SOURCE.encode(),
                                  capture_output=True)
        except OSError as e:
            raise ImportError(f"cannot build the lexer extension: "
                              f"{shlex.join(cmd)}: {e}") from e
        if proc.returncode != 0:
            raise ImportError(
                f"cannot build the lexer extension: {shlex.join(cmd)} "
                f"exited {proc.returncode}:\n"
                + proc.stderr.decode(errors="replace"))
        # the linker creates its output under the umask, which may leave
        # it group-writable; _check_private would then refuse it
        os.chmod(tmp, 0o700)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _check_private(path: str, want_dir: bool) -> None:
    """Refuse ``path`` unless it is a directory (or a regular file) that
    the current user owns and no one else can write; a symlink is
    refused too."""
    st = os.lstat(path)
    is_kind = stat.S_ISDIR(st.st_mode) if want_dir else stat.S_ISREG(st.st_mode)
    if not is_kind or st.st_uid != os.getuid() or st.st_mode & 0o022:
        raise ImportError(
            f"refusing to load the lexer extension: {path} is not a "
            f"{'directory' if want_dir else 'regular file'} owned by uid "
            f"{os.getuid()} and writable only by it (uid {st.st_uid}, "
            f"mode {stat.filemode(st.st_mode)})")


def _load():
    cache = os.path.join(tempfile.gettempdir(), f"wlos_lexer-{os.getuid()}")
    os.makedirs(cache, mode=0o700, exist_ok=True)
    _check_private(cache, want_dir=True)
    digest = hashlib.sha256(_C_SOURCE.encode()).hexdigest()[:16]
    path = os.path.join(cache, digest + sysconfig.get_config_var("EXT_SUFFIX"))
    if not os.path.exists(path):
        _build(path)
    _check_private(path, want_dir=False)
    spec = spec_from_file_location(_NAME, path,
                                   loader=ExtensionFileLoader(_NAME, path))
    mod = module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_ext = _load()
lex_blocks = _ext.lex_blocks
normalize_ws = _ext.normalize_ws
