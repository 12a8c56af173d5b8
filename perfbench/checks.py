"""Correctness checks, run outside every timed region.

Each check returns a list of failure messages (empty when it passes).
References are independent of the code under test where possible: the
DuckDB oracle SQL the contract queries use, pure-Python brute force,
or the Spark-free ``pure.pipeline.extract_page``.
"""

from __future__ import annotations

import hashlib
import random
import re
from decimal import ROUND_HALF_UP, Decimal
from typing import Dict, Iterable, List, Sequence, Set, Tuple

import numpy as np

_WS = re.compile(r"\s+")


def sample(items: Sequence, k: int, seed: int) -> list:
    return random.Random(seed).sample(list(items), min(k, len(items)))


# ── extraction ───────────────────────────────────────────────────────────

def fingerprints(spark_rows: Iterable, pages: Dict[str, bytes]) -> List[str]:
    """Spark ``(url, status, fingerprint)`` rows against sha256 of the
    Spark-free ``extract_page`` content, one row per sampled url."""
    from webpeel_spark.pure.pipeline import extract_page

    got = {r["url"]: r for r in spark_rows}
    failures = []
    for url, payload in pages.items():
        r = got.get(url)
        if r is None:
            failures.append(f"missing row for {url}")
            continue
        want = hashlib.sha256(
            extract_page(url, payload)["content"].encode("utf-8")).hexdigest()
        if r["status"] != "ok" or r["fingerprint"] != want:
            failures.append(f"fingerprint mismatch for {url}")
    return failures


# ── dedup ────────────────────────────────────────────────────────────────

def shingles(text: str, k: int = 3) -> Set[str]:
    """Python twin of ``word_shingles``: distinct k-word shingles of the
    lower-cased, trimmed, whitespace-split text."""
    words = _WS.split(text.strip().lower())
    if len(words) < k:
        return {" ".join(words)}
    return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}


def exact_groups(spark_rows: Iterable, docs: List[dict],
                 max_exemplars: int = 16) -> List[str]:
    groups: Dict[str, List[int]] = {}
    for d in docs:
        h = hashlib.md5(d["text"].encode("utf-8")).hexdigest()
        groups.setdefault(h, []).append(d["doc_id"])
    want = {h: (len(ids), sorted(ids)[:max_exemplars])
            for h, ids in groups.items() if len(ids) > 1}
    got = {r["content_hash"]: (r["dup_count"], list(r["doc_ids"]))
           for r in spark_rows}
    if got != want:
        return [f"exact groups differ: {len(got)} returned, {len(want)} expected"]
    return []


def oracle_pairs(subset: List[dict], sql: str) -> Dict[Tuple[int, int], float]:
    """Run a DuckDB oracle over a ``documents`` table holding ``subset``."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    try:
        con.register("documents", pd.DataFrame(subset))
        return {(int(a), int(b)): float(v)
                for a, b, v in con.execute(sql).fetchall()}
    finally:
        con.close()


def jaccard_pairs(subset: List[dict], threshold: float,
                  same_col: str) -> Dict[Tuple[int, int], float]:
    """Pure-Python all-pairs shingle Jaccard, rounded half-up to 4
    decimals as Spark's ``round`` does, over pairs agreeing on
    ``same_col`` (the brute force ``jaccard_pairs_oracle_sql`` states
    in SQL, at a fraction of its cost)."""
    docs = sorted(subset, key=lambda d: d["doc_id"])
    sh = [shingles(d["text"]) for d in docs]
    out = {}
    for i, a in enumerate(docs):
        for j in range(i + 1, len(docs)):
            b = docs[j]
            if a[same_col] != b[same_col]:
                continue
            inter = len(sh[i] & sh[j])
            if not inter:
                continue
            exact = Decimal(inter) / Decimal(len(sh[i]) + len(sh[j]) - inter)
            value = float(exact.quantize(Decimal("0.0001"), ROUND_HALF_UP))
            if value >= threshold:
                out[(a["doc_id"], b["doc_id"])] = value
    return out


def pairs_on_subset(spark_pairs: Dict[Tuple[int, int], float],
                    subset: List[dict], want: Dict[Tuple[int, int], float],
                    name: str) -> List[str]:
    """The operator's pairs between subset members must equal the
    reference's all-pairs answer ``want`` on the subset (pairwise-exact
    operators only: whether a pair is returned depends on its two
    documents alone)."""
    ids = {d["doc_id"] for d in subset}
    got = {p: v for p, v in spark_pairs.items() if p[0] in ids and p[1] in ids}
    if set(got) != set(want):
        return [f"{name}: {len(got)} pairs on the subset, reference has "
                f"{len(want)} ({len(set(got) ^ set(want))} differ)"]
    bad = [p for p in got if abs(got[p] - want[p]) > 1e-9]
    return [f"{name}: {len(bad)} pair values differ from the reference"] if bad else []


def minhash_pairs(spark_pairs: Dict[Tuple[int, int], float],
                  texts: Dict[int, str], threshold: float) -> List[str]:
    """Every returned pair's reported Jaccard must match the exact
    shingle Jaccard (to the 4-decimal rounding) and clear the threshold."""
    cache: Dict[int, Set[str]] = {}

    def sh(i: int) -> Set[str]:
        if i not in cache:
            cache[i] = shingles(texts[i])
        return cache[i]

    bad = 0
    for (a, b), j in spark_pairs.items():
        sa, sb = sh(a), sh(b)
        exact = len(sa & sb) / len(sa | sb)
        if j < threshold or abs(exact - j) > 0.5e-4 + 1e-12:
            bad += 1
    return [f"minhash: {bad} pairs fail the exact Jaccard check"] if bad else []


def planted_recall(spark_pairs: Dict[Tuple[int, int], float],
                   texts: Dict[int, str], planted: List[Tuple[int, int]],
                   threshold: float) -> Tuple[int, int]:
    """(found, eligible): planted pairs whose exact Jaccard clears the
    threshold, and how many of them the operator returned."""
    eligible = [p for p in planted
                if len(shingles(texts[p[0]]) & shingles(texts[p[1]]))
                / len(shingles(texts[p[0]]) | shingles(texts[p[1]])) >= threshold]
    return sum(p in spark_pairs for p in eligible), len(eligible)


def cosine_pairs(spark_pairs: Dict[Tuple[int, int], float], ids: np.ndarray,
                 vecs: np.ndarray, threshold: float) -> List[str]:
    """All-pairs numpy brute force over the full embedding table."""
    v = vecs.astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    cos = np.round(v @ v.T, 4)
    ii, jj = np.nonzero(np.triu(cos >= threshold, k=1))
    want = {}
    for i, j in zip(ii, jj):
        a, b = int(ids[i]), int(ids[j])
        want[(min(a, b), max(a, b))] = float(cos[i, j])
    if set(spark_pairs) != set(want):
        return [f"cosine: {len(spark_pairs)} pairs returned, brute force "
                f"has {len(want)}"]
    bad = [p for p in want if abs(spark_pairs[p] - want[p]) > 1e-4]
    return [f"cosine: {len(bad)} pair values differ"] if bad else []
