"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(seed, size)``.  Inputs are written
once as multi-file parquet under the work directory and reused by later
runs with the same seed and size; the program under test only ever
sees the parquet files.

* pages      — ``webpeel_spark.sources.corpus`` rows (html templates,
  pdf, json, rss, plus appended docx payloads).
* documents  — ``(doc_id, text, lang)`` with a Zipf vocabulary, planted
  near-duplicate clusters and small exact-copy groups; the hot-key
  variant adds one boilerplate tail shared by many documents (the
  viral shingle) and one large exact-copy group.
* embeddings — ``(vec_id, embedding)`` Gaussian vectors plus planted
  clones (positively scaled copies, cosine exactly 1.0).
"""

from __future__ import annotations

import os
import shutil
from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARTS = 8  # files per input table: the scan gets one split per file

LANGS = ("en", "de", "fr")
LANG_WEIGHTS = (0.8, 0.1, 0.1)


def _write_parts(table: pa.Table, path: str) -> None:
    """Write ``table`` as PARTS parquet files, atomically (tmp + rename)."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    per = -(-table.num_rows // PARTS)
    for i in range(PARTS):
        chunk = table.slice(i * per, per)
        if chunk.num_rows:
            pq.write_table(chunk, os.path.join(tmp, f"part-{i:02d}.parquet"),
                           row_group_size=256)
    os.replace(tmp, path)


def _cached(root: str, name: str, build) -> str:
    path = os.path.join(root, name)
    if not os.path.isdir(path):
        os.makedirs(root, exist_ok=True)
        _write_parts(build(), path)
    return path


# ── pages ────────────────────────────────────────────────────────────────

def pages_table(n: int, seed: int) -> pa.Table:
    from webpeel_spark.sources.corpus import generate_rows

    rows = generate_rows(n, seed=seed, docx_fraction=0.02)
    return pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
    })


def pages(root: str, n: int, seed: int) -> str:
    return _cached(root, f"pages-s{seed}-n{n}", lambda: pages_table(n, seed))


# ── documents ────────────────────────────────────────────────────────────

def _vocabulary(rng: np.random.Generator, size: int) -> List[str]:
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
            "qu", "de", "fi", "go", "hu", "ja", "be", "co", "ly", "wu"]
    words, seen = [], set()
    while len(words) < size:
        k = int(rng.integers(2, 5))
        w = "".join(syll[int(i)] for i in rng.integers(0, len(syll), k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def documents_rows(n: int, seed: int, hot: bool
                   ) -> Tuple[List[Dict], List[Tuple[int, int]]]:
    """``n`` documents and the planted near-duplicate (source, variant)
    id pairs.

    Layout: ~8% of ids are near-duplicate variants (3 per cluster, a few
    word substitutions each), ~4% are members of exact-copy groups of 2
    to 4, the rest are independent Zipf draws.  With ``hot`` a 20-word
    boilerplate tail is appended to 12% of the documents and 5% of the
    ids form one exact-copy group.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocabulary(rng, 20000), dtype=object)
    # Zipf-Mandelbrot weights 1/(rank+50)^1.05: a long Zipf tail, but no
    # word common enough that a 3-word shingle recurs across documents
    # by chance — only the planted tail makes a viral shingle
    weights = (np.arange(1, len(vocab) + 1, dtype=np.float64) + 50) ** -1.05
    cdf = np.cumsum(weights / weights.sum())

    def draw(length: int) -> List[str]:
        idx = np.minimum(np.searchsorted(cdf, rng.random(length)), len(vocab) - 1)
        return list(vocab[idx])

    texts: List[List[str]] = []
    planted: List[Tuple[int, int]] = []
    n_big = int(n * 0.05) if hot else 0
    while len(texts) < n - n_big:
        roll = rng.random()
        words = draw(int(rng.integers(40, 140)))
        if roll < 0.03 and len(texts) + 4 <= n - n_big:
            src = len(texts)
            texts.append(words)
            for _ in range(3):
                variant = list(words)
                for pos in rng.choice(len(words), size=max(1, len(words) // 40),
                                      replace=False):
                    variant[int(pos)] = vocab[int(rng.integers(0, 300))]
                planted.append((src, len(texts)))
                texts.append(variant)
        elif roll < 0.045:
            for _ in range(int(rng.integers(2, 5))):
                if len(texts) < n - n_big:
                    texts.append(words)
        else:
            texts.append(words)
    if hot:
        tail = draw(20)
        for i in rng.choice(len(texts), size=int(n * 0.12), replace=False):
            texts[int(i)] = texts[int(i)] + tail
        big = draw(60)
        texts.extend([big] * n_big)
    # shuffle ids so clusters and groups are spread over the id range
    order = rng.permutation(len(texts))
    new_id = np.empty(len(texts), dtype=np.int64)
    new_id[order] = np.arange(len(texts))
    langs = rng.choice(len(LANGS), size=len(texts), p=LANG_WEIGHTS)
    rows = [None] * len(texts)
    for old, words in enumerate(texts):
        i = int(new_id[old])
        # a near-duplicate variant keeps its source's language
        rows[i] = {"doc_id": i, "text": " ".join(words),
                   "lang": LANGS[int(langs[old])]}
    for src, var in planted:
        rows[int(new_id[var])]["lang"] = rows[int(new_id[src])]["lang"]
    pairs = sorted((min(int(new_id[a]), int(new_id[b])),
                    max(int(new_id[a]), int(new_id[b]))) for a, b in planted)
    return rows, pairs


def documents(root: str, n: int, seed: int, hot: bool) -> Tuple[str, list]:
    rows, pairs = documents_rows(n, seed, hot)
    name = f"docs{'-hot' if hot else ''}-s{seed}-n{n}"

    def build():
        return pa.table({
            "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        })

    return _cached(root, name, build), rows, pairs


# ── embeddings ───────────────────────────────────────────────────────────

CLONE_OFFSET = 1_000_000


def embeddings_array(n: int, seed: int, dim: int = 32
                     ) -> Tuple[np.ndarray, np.ndarray]:
    """(ids, vectors): ``n`` Gaussian vectors plus one clone scaled by
    0.5 (exact in float32) for every 50th vector."""
    rng = np.random.default_rng(seed + 1)
    base = rng.standard_normal((n, dim)).astype(np.float32)
    src = np.arange(0, n, 50)
    vecs = np.vstack([base, base[src] * np.float32(0.5)])
    ids = np.concatenate([np.arange(n), src + CLONE_OFFSET]).astype(np.int64)
    return ids, vecs


def embeddings(root: str, n: int, seed: int) -> Tuple[str, np.ndarray, np.ndarray]:
    ids, vecs = embeddings_array(n, seed)

    def build():
        return pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        })

    return _cached(root, f"emb-s{seed}-n{n}", build), ids, vecs
