"""Seeded benchmark inputs, cached on disk with a content digest.

Pages come from ``fixtures.make_page``, which derives each row only from
its index, so the seed picks a row-index window: seed ``s`` reads rows
``[s * WINDOW, s * WINDOW + rows)``. Every seed gives a different corpus
with the same distribution (~93% HTML, ~5% PDF, ~2% truncated, 30% of
rows on 3 hot hosts).

The dedup corpus takes the page texts of the same window as background
documents and injects near-duplicate clusters whose sizes follow a Zipf
law (size of cluster ``k`` is ``ZIPF_TOP // k``). The largest clusters
are bigger than ``DEDUP_MAX_BUCKET`` and hold whitespace-reflowed copies
of one page, like repeated boilerplate: every band bucket of such a
cluster is oversized, so the operator's skew guard drops all of them.
The smaller clusters mix reflowed copies with 1-3 word edits. Every
cluster's original is cut to ``ROOT_TOKENS`` words: the verify step's
cost grows with document length, so equal lengths keep the cost of a
seed's clusters close to that of any other seed.

Generation and the expected results (``oracle.extract`` on every page,
exact Jaccard of every injected pair) run in a spawn pool of ``nproc``
worker processes, outside any timed region. An input directory is keyed
by (workload, seed, rows) and holds ``N_FILES`` parquet files plus
``manifest.json``, which records the sha256 of the files; a directory
whose files no longer match is generated again.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing as mp
import os
import random
import re
import shutil
import time
from dataclasses import dataclass, field

WINDOW = 1_000_000
N_FILES = 16

# Dedup operator parameters and the injected-cluster layout.
DEDUP_N_PERM = 64
DEDUP_N_BANDS = 16
DEDUP_MIN_JACCARD = 0.7
DEDUP_MAX_BUCKET = 8
ZIPF_TOP = 24
N_CLUSTERS = 40
ROOT_TOKENS = 120
# Every injected pair at or above this Jaccard must be reported. With 16
# bands of 4 rows, a pair at J misses every band with probability
# (1 - J**4) ** 16, which is ~4e-8 at 0.9; unrelated pages (J < 0.1)
# almost never share a band, so nearly every candidate is injected.
DEDUP_RECALL_JACCARD = 0.9

_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def text_digest(text: str | None) -> str | None:
    """sha256 hex of the UTF-8 text, the same value as Spark's ``sha2(text, 256)``."""
    return None if text is None else hashlib.sha256(text.encode("utf-8")).hexdigest()


def table_digest(rows: dict[str, str | None]) -> str:
    """Order-free digest of a ``url -> text digest`` map."""
    h = hashlib.sha256()
    for url in sorted(rows):
        h.update(f"{url}\t{rows[url]}\n".encode())
    return h.hexdigest()


def tokens(text: str) -> list[str]:
    """Java-``\\s`` tokens, as ``textops.tokens_col``."""
    return [t for t in _JAVA_WS.split(text) if t]


def shingle_set(text: str, k: int = 3) -> frozenset[str]:
    """Distinct word k-grams, as ``dedupe.shingles``."""
    toks = tokens(text)
    if len(toks) < k:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1))


def jaccard(a: frozenset[str], b: frozenset[str]) -> float:
    return len(a & b) / max(len(a | b), 1)


@dataclass
class Input:
    """A generated input and what the benchmark knows about it."""
    rows: int
    files: list[str]
    gen_s: float
    digest: str
    meta: dict = field(default_factory=dict)


def _pages_chunk(path: str, start: int, stop: int) -> dict:
    """Write rows ``[start, stop)`` as one parquet file and extract each with the oracle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wine_label_ocr_spark.fixtures import make_page
    from wine_label_ocr_spark.oracle import extract

    rows = [make_page(i) for i in range(start, stop)]
    pq.write_table(pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
    }), path)
    expected = {r["url"]: text_digest(extract(r["html"], r["url"])["text"]) for r in rows}
    return {"expected": expected,
            "html_bytes": sum(len(r["html"]) for r in rows),
            "n_pdf": sum(r["html"][:5] == b"%PDF-" for r in rows)}


def _page_texts(start: int, stop: int) -> list[str]:
    from wine_label_ocr_spark.fixtures import make_page
    return [make_page(i)["text"] for i in range(start, stop)]


def _variant(rng: random.Random, text: str, reflow_only: bool) -> str:
    """A near duplicate: whitespace reflow (same shingles) or 1-3 word edits."""
    toks = text.split(" ")
    if reflow_only or rng.random() < 0.25:
        return "".join(t + rng.choice((" ", "  ", "\n")) for t in toks[:-1]) + toks[-1]
    for _ in range(rng.randint(1, 3)):
        j = rng.randrange(len(toks))
        toks[j] = toks[rng.randrange(len(toks))] + "x"
    return " ".join(toks)


def _pair_jaccards(members: list[tuple[int, str]]) -> list[tuple[int, int, float]]:
    sets = [(i, shingle_set(t)) for i, t in members]
    # member ids ascend, so every pair comes out as (id_a < id_b)
    return [(a, b, jaccard(sa, sb))
            for x, (a, sa) in enumerate(sets) for b, sb in sets[x + 1:]]


def _cluster_sizes() -> list[int]:
    return [max(ZIPF_TOP // k, 2) for k in range(1, N_CLUSTERS + 1)]


def _write_corpus(pool, tmp: str, seed: int, rows: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = seed * WINDOW
    n_bg = rows - sum(_cluster_sizes())
    if n_bg < 0:
        raise ValueError(f"dedup_near needs at least {sum(_cluster_sizes())} rows")
    # each cluster original takes two consecutive pages: a page has 2-6
    # paragraphs of 30-80 words, so two hold at least ROOT_TOKENS words
    bounds = _split(base, base + n_bg + 2 * N_CLUSTERS, N_FILES)
    texts = [t for part in pool.starmap(_page_texts, bounds) for t in part]
    rng = random.Random(seed)
    docs = [(base + j, texts[j]) for j in range(n_bg)]
    clusters, members = [], []
    next_id = base + WINDOW // 2
    for k, size in enumerate(_cluster_sizes()):
        root = " ".join(tokens(texts[n_bg + 2 * k] + " " + texts[n_bg + 2 * k + 1])
                        [:ROOT_TOKENS])
        guarded = size > DEDUP_MAX_BUCKET
        docs_k = [(next_id, root)] + [(next_id + m, _variant(rng, root, guarded))
                                      for m in range(1, size)]
        next_id += size
        members.append(docs_k)
        clusters.append({"ids": [i for i, _ in docs_k], "guarded": guarded})
    docs.extend(d for docs_k in members for d in docs_k)
    pairs = pool.map(_pair_jaccards, members)
    rng.shuffle(docs)
    for f, (lo, hi) in enumerate(_split(0, len(docs), N_FILES)):
        part = docs[lo:hi]
        pq.write_table(pa.table({
            "doc_id": pa.array([d[0] for d in part], pa.int64()),
            "text": pa.array([d[1] for d in part], pa.string()),
        }), os.path.join(tmp, f"part-{f:03d}.parquet"))
    for c, p in zip(clusters, pairs):
        c["pairs"] = p
    return {"clusters": clusters}


def _split(lo: int, hi: int, n: int) -> list[tuple[int, int]]:
    step = hi - lo
    return [(lo + step * f // n, lo + step * (f + 1) // n) for f in range(n)]


def _write_pages(pool, tmp: str, seed: int, rows: int) -> dict:
    base = seed * WINDOW
    jobs = [(os.path.join(tmp, f"part-{f:03d}.parquet"), lo, hi)
            for f, (lo, hi) in enumerate(_split(base, base + rows, N_FILES))]
    parts = pool.starmap(_pages_chunk, jobs)
    expected = {u: d for p in parts for u, d in p["expected"].items()}
    return {"expected": expected,
            "expected_digest": table_digest(expected),
            "html_bytes": sum(p["html_bytes"] for p in parts),
            "n_pdf": sum(p["n_pdf"] for p in parts)}


def _files_digest(files: list[str]) -> str:
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def load_or_make(cache_root: str, workload: str, kind: str, seed: int,
                 rows: int, nproc: int) -> Input:
    """The input for (workload, seed, rows), generated if the cache lacks it.

    ``kind`` is ``"pages"`` or ``"corpus"``.
    """
    path = os.path.join(cache_root, f"{workload}-seed{seed}-rows{rows}")
    manifest = os.path.join(path, "manifest.json")
    files = [os.path.join(path, f"part-{f:03d}.parquet") for f in range(N_FILES)]
    if os.path.exists(manifest):
        with open(manifest, encoding="utf-8") as fh:
            m = json.load(fh)
        if all(os.path.exists(f) for f in files) and _files_digest(files) == m["digest"]:
            return Input(rows, files, m["gen_s"], m["digest"], m["meta"])
    tmp = f"{path}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    with mp.get_context("spawn").Pool(nproc) as pool:
        write = _write_pages if kind == "pages" else _write_corpus
        meta = write(pool, tmp, seed, rows)
    gen_s = time.perf_counter() - t0
    digest = _files_digest([os.path.join(tmp, os.path.basename(f)) for f in files])
    with open(os.path.join(tmp, "manifest.json"), "w", encoding="utf-8") as fh:
        json.dump({"workload": workload, "seed": seed, "rows": rows,
                   "gen_s": gen_s, "digest": digest, "meta": meta}, fh)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return Input(rows, files, gen_s, digest, meta)
