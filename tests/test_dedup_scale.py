"""Scale-safety of the dedup/similarity candidate generation.

The round-1 LSH operators collected per-bucket id arrays
(collect_set), which OOMs one reducer on a degenerate bucket — the
normal case on a Common-Crawl corpus where cookie-wall/404 boilerplate
is mass-duplicated.  These tests build degenerate corpora and assert:

* exact-duplicate mass collapses BEFORE the LSH stages (the heavy
  plan never sees it);
* over-cap buckets are dropped with a REPORTED metric, never silently;
* the re-expanded pair output still matches the brute-force answer.
"""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def spark():
    from webpeel_spark.session import get_spark

    s = get_spark(app_name="test-dedup-scale", cores=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


BOILERPLATE = "access denied please enable cookies to continue to the site"


def test_minhash_degenerate_corpus_collapses(spark):
    """Byte-identical boilerplate mass: the exact-collapse pre-pass must
    leave the LSH stages exactly ONE representative (the banded
    candidate set is empty — no O(n^2) bucket anywhere in the heavy
    plan; the only quadratic piece is the pair OUTPUT expansion, which
    a 10^12-row run would skip by keeping the member table instead)."""
    from pyspark.sql import functions as F

    from webpeel_spark.operators.dedup import minhash_near_duplicates

    n = 2_000
    df = (
        spark.range(n)
        .select(F.col("id").alias("doc_id"), F.lit(BOILERPLATE).alias("text"))
    )
    metrics = {}
    pairs = minhash_near_duplicates(df, min_jaccard=0.5, metrics=metrics,
                                    bucket_cap=100)
    assert pairs.count() == n * (n - 1) // 2
    # nothing was dropped: the single representative fills no bucket
    # above the cap (with 10k identical docs and NO collapse, every
    # band bucket would hold all 10k ids)
    assert metrics["dropped_buckets"] == 0
    one = pairs.filter((F.col("id_a") == 0) & (F.col("id_b") == 1)).first()
    assert one["jaccard"] == 1.0


def test_exact_dup_mass_is_one_group(spark):
    """10k identical docs reduce to a single group in one hash-agg."""
    from pyspark.sql import functions as F

    from webpeel_spark.operators.dedup import exact_duplicate_groups

    n = 10_000
    df = spark.range(n).select(F.col("id").alias("doc_id"),
                               F.lit(BOILERPLATE).alias("text"))
    groups = exact_duplicate_groups(df).collect()
    assert len(groups) == 1 and groups[0]["dup_count"] == n


def test_exact_dup_group_row_size_is_bounded(spark):
    """A 10^5-copy viral duplicate yields ONE bounded row: exact
    dup_count, <= max_exemplars ids, the omission reported (r9 verdict
    item #3 — the old collect_list materialized all 10^5 ids in one
    reducer array)."""
    from pyspark.sql import functions as F

    from webpeel_spark.operators.dedup import exact_duplicate_groups

    n = 100_000
    df = spark.range(n).select(F.col("id").alias("doc_id"),
                               F.lit(BOILERPLATE).alias("text"))
    [g] = exact_duplicate_groups(df, max_exemplars=16).collect()
    assert g["dup_count"] == n
    assert g["doc_ids"] == list(range(16))      # smallest ids, ascending
    assert g["omitted_ids"] == n - 16
    # uniques are never reported, and a custom cap is honored
    mixed = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 30, F.lit(BOILERPLATE))
         .otherwise(F.concat(F.lit("unique "), F.col("id"))).alias("text"))
    [m] = exact_duplicate_groups(mixed, max_exemplars=5).collect()
    assert m["dup_count"] == 30 and len(m["doc_ids"]) == 5
    assert m["omitted_ids"] == 25


def test_capped_bucket_pairs_reports_drops(spark):
    """A bucket over the cap is dropped and the drop is reported."""
    from pyspark.sql import functions as F

    from webpeel_spark.operators.dedup import capped_bucket_pairs

    # one giant bucket (key=0, 50 members) + one small (key=1, 3 members)
    keyed = spark.range(53).select(
        F.col("id"),
        F.when(F.col("id") < 50, F.lit(0)).otherwise(F.lit(1)).alias("k"),
    )
    metrics = {}
    pairs = capped_bucket_pairs(keyed, ["k"], bucket_cap=10, metrics=metrics)
    rows = pairs.collect()
    assert len(rows) == 3  # C(3,2) from the small bucket only
    assert metrics["dropped_buckets"] == 1
    assert metrics["dropped_rows"] == 50
    assert metrics["max_dropped_bucket"] == 50
    assert all(r["id_a"] < r["id_b"] for r in rows)


def test_minhash_near_dup_corpus_matches_bruteforce(spark):
    """Mixed corpus (exact dups + near dups + distinct) — the capped,
    collapsed plan returns the same pairs as brute-force Jaccard.  The
    near dup has an exact copy too, so a representative pair expands
    on both sides."""
    from itertools import combinations

    from webpeel_spark.operators.dedup import minhash_near_duplicates

    base = ("spark reads the pages table and extracts main content "
            "with a vectorized arrow udf stage per partition")
    texts = {
        0: base,
        1: base,                                # exact dup of 0
        2: base + " extra trailing words here", # near dup of 0/1
        3: "completely different document about cooking rice and beans "
           "with a pinch of salt and some olive oil in a big pan",
        4: base,                                # exact dup of 0
        5: base + " extra trailing words here", # exact dup of 2
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")

    def shingles(t, k=3):
        w = t.lower().split()
        return set(" ".join(w[i:i + k]) for i in range(max(len(w) - k + 1, 1)))

    expect = {}
    for a, b in combinations(sorted(texts), 2):
        sa, sb = shingles(texts[a]), shingles(texts[b])
        j = round(len(sa & sb) / len(sa | sb), 4)
        if j >= 0.5:
            expect[(a, b)] = j

    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in minhash_near_duplicates(df, min_jaccard=0.5).collect()}
    assert got == expect


def test_simhash_bands_cover_max_hamming(spark):
    """max_hamming=6 now uses 8 bands (pigeonhole-exact): a pair at
    Hamming 5-6 must be found."""
    from webpeel_spark.operators.dedup import simhash_near_duplicates

    a = "the quick brown fox jumps over the lazy dog near the river bank"
    b = a + " tonight"   # small perturbation -> small hamming distance
    df = spark.createDataFrame([(0, a), (1, b), (2, "unrelated cooking "
                                                    "recipe text entirely")],
                               "doc_id long, text string")
    rows = simhash_near_duplicates(df, max_hamming=16).collect()
    found = {(r["id_a"], r["id_b"]) for r in rows}
    assert (0, 1) in found


def test_simhash_degenerate_corpus_collapses(spark):
    """Byte-identical boilerplate mass (the round-2 scale-killer): the
    md5 collapse pre-pass must leave the banding stage exactly ONE
    representative, so no bucket ever exceeds the cap and the full
    Hamming-0 pair set is still produced by the group re-expansion."""
    from pyspark.sql import functions as F

    from webpeel_spark.operators.dedup import simhash_near_duplicates

    n = 2_000
    df = (
        spark.range(n)
        .select(F.col("id").alias("doc_id"), F.lit(BOILERPLATE).alias("text"))
    )
    metrics = {}
    pairs = simhash_near_duplicates(df, max_hamming=6, metrics=metrics,
                                    bucket_cap=100)
    assert metrics["dropped_buckets"] == 0
    assert pairs.count() == n * (n - 1) // 2
    one = pairs.filter((F.col("id_a") == 0) & (F.col("id_b") == 1)).first()
    assert one["hamming"] == 0


def test_simhash_band_plan_shapes():
    """Manku band-combination parameters: Hamming≤6 → C(8,2)=28 tables
    on 16-bit keys; lower budgets widen keys; h≥8 falls back to more,
    narrower bands (still pigeonhole-exact)."""
    from webpeel_spark.operators.dedup import _simhash_band_plan

    width, combos = _simhash_band_plan(6)
    assert (width, len(combos)) == (8, 28)
    assert all(len(c) == 2 for c in combos)

    width, combos = _simhash_band_plan(4)
    assert (width, len(combos)) == (8, 70)      # r=4 → 32-bit keys
    assert all(len(c) == 4 for c in combos)

    width, combos = _simhash_band_plan(16)
    assert width == 2 and len(combos) == 32     # single-band fallback


def test_simhash_band_plan_adapts_to_corpus_size():
    """r4: below _SIMHASH_SMALL_N the plan stays at single-band tables
    (8 × 8-bit keys — lossless for h ≤ 7, 3.5× fewer banding rows);
    above, the Manku pair-tables return.  Unknown size keeps the
    at-scale plan."""
    from webpeel_spark.operators.dedup import (_SIMHASH_SMALL_N,
                                               _simhash_band_plan)

    width, combos = _simhash_band_plan(6, n_docs=_SIMHASH_SMALL_N)
    assert (width, len(combos)) == (8, 8)
    assert all(len(c) == 1 for c in combos)

    width, combos = _simhash_band_plan(6, n_docs=_SIMHASH_SMALL_N + 1)
    assert (width, len(combos)) == (8, 28)

    width, combos = _simhash_band_plan(6, n_docs=None)
    assert (width, len(combos)) == (8, 28)


def test_simhash_regimes_agree(spark, monkeypatch):
    """The single-band and pair-table regimes must return the SAME
    pair set — exactness is the invariant the adaptive switch may not
    touch.  Force each regime via the threshold constant."""
    import webpeel_spark.operators.dedup as dedup

    rows = [(i, f"planted simhash doc {i % 7} body words " * 6)
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run():
        return sorted(
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dedup.simhash_near_duplicates(
                df, max_hamming=6).collect())

    monkeypatch.setattr(dedup, "_SIMHASH_SMALL_N", 10**9)
    small_plan = run()
    monkeypatch.setattr(dedup, "_SIMHASH_SMALL_N", 0)
    large_plan = run()
    assert small_plan == large_plan and len(small_plan) > 0


def test_simhash_matches_bruteforce_mixed_corpus(spark):
    """Mixed corpus (exact dups + perturbations + distinct): the
    collapsed, band-pair plan returns exactly the brute-force
    Hamming-≤6 pair set.  A perturbation has an exact copy too, so a
    representative pair expands on both sides."""
    from collections import Counter
    from hashlib import md5 as _md5
    from itertools import combinations

    import numpy as np

    from webpeel_spark.operators.dedup import simhash_near_duplicates

    base = ("spark reads the pages table and extracts main content "
            "with a vectorized arrow udf stage per partition today")
    texts = {
        0: base,
        1: base,                          # exact dup
        2: base + " extra",               # small perturbation
        3: "completely different document about cooking rice and beans "
           "with a pinch of salt and some olive oil in a big pan",
        4: base,                          # exact dup
        5: base.replace("table", "tables"),
        6: base + " extra",               # exact dup of 2
    }

    def sig(t):
        toks = t.lower().split()
        votes = np.zeros(64, dtype=np.int64)
        for tok, c in Counter(toks).items():
            h = int.from_bytes(_md5(tok.encode()).digest()[:8], "little")
            for k in range(64):
                votes[k] += c if (h >> k) & 1 else -c
        out = np.uint64(0)
        for k in range(64):
            if votes[k] > 0:
                out |= np.uint64(1) << np.uint64(k)
        return int(out)

    expect = {}
    for a, b in combinations(sorted(texts), 2):
        h = bin(sig(texts[a]) ^ sig(texts[b])).count("1")
        if h <= 6:
            expect[(a, b)] = h

    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_near_duplicates(df, max_hamming=6).collect()}
    assert got == expect
    assert (0, 1) in got and got[(0, 1)] == 0


def test_embedding_near_dups_banded_tables(spark):
    """Planted scaled duplicates are found with probability 1 (signs
    invariant under positive scaling), and bits derives from corpus
    size when not given."""
    import numpy as np

    from webpeel_spark.operators.similarity import (
        cosine_near_duplicate_pairs, derive_srp_bits,
    )

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((40, 16)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    rows += [(100 + i, [float(x) * 0.5 for x in vecs[i]]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    metrics = {}
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in cosine_near_duplicate_pairs(
               df, threshold=0.99, tables=6, metrics=metrics).collect()}
    assert set(got) == {(i, 100 + i) for i in range(10)}
    assert all(abs(v - 1.0) < 1e-3 for v in got.values())
    assert metrics["dropped_buckets"] == 0
    assert derive_srp_bits(100) == 4
    assert derive_srp_bits(1_000_000) == 17   # 2^17 ≈ 1M/8
    assert derive_srp_bits(10**12, hi=24) == 24


def test_derive_srp_tables_holds_boundary_recall():
    """tables = ln(1-R)/ln(1-p^bits): grows with bits so the recall
    target at the cosine threshold survives corpus growth (round-10
    soak: fixed 6 tables measured 0.82 at bits=13 vs 0.91 with 8)."""
    import math

    from webpeel_spark.operators.similarity import derive_srp_tables

    # closed-form spot values at threshold 0.95, R=0.9
    assert derive_srp_tables(0, bits=10) == 6
    assert derive_srp_tables(0, bits=12) == 8
    assert derive_srp_tables(0, bits=14) == 10
    # monotone in bits, clamped at both ends
    ts = [derive_srp_tables(0, bits=b) for b in range(4, 25)]
    assert ts == sorted(ts)
    assert derive_srp_tables(0, bits=4) == 4            # lo clamp
    assert derive_srp_tables(0, bits=24) == 29          # deep-bits growth
    assert derive_srp_tables(0, bits=24, hi=16) == 16   # hi clamp
    # bits=None derives from n like the operator does
    from webpeel_spark.operators.similarity import derive_srp_bits
    n = 33_000
    assert derive_srp_tables(n) == derive_srp_tables(
        0, bits=derive_srp_bits(n))
    # the derived count actually meets the target at the threshold
    for b in (10, 13, 17):
        t = derive_srp_tables(0, bits=b)
        p = 1 - math.acos(0.95) / math.pi
        assert 1 - (1 - p ** b) ** t >= 0.9
    # r11 (ADVICE): p^bits underflow (threshold <= cos(pi/2), or huge
    # bits) makes the miss probability exactly 1.0 — the guard returns
    # hi instead of dividing by log(1.0) == 0
    assert derive_srp_tables(1000, threshold=-1.0) == 32
    assert derive_srp_tables(1000, threshold=0.5, bits=2000) == 32
    assert derive_srp_tables(1000, threshold=0.0, bits=4, hi=16) == 16


def test_dedup_clusters_transitive(spark):
    """A~B and B~C must cluster {A,B,C} even when A~C alone misses the
    threshold; representative = min id; singletons keep themselves."""
    from webpeel_spark.operators.dedup import dedup_clusters

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliett kilo lima mike november oscar papa quebec romeo")
    w = base.split()
    texts = {
        0: " ".join(w),                 # A
        1: " ".join(w[:-3] + ["x", "y", "z"]),   # B ~ A
        2: " ".join(w[3:] + ["x", "y", "z"]),    # C ~ B, farther from A
        3: "completely unrelated text about cooking rice and beans ok",
    }
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    rows = {r["doc_id"]: r
            for r in dedup_clusters(df, min_jaccard=0.3).collect()}
    assert rows[0]["cluster_id"] == rows[1]["cluster_id"] \
        == rows[2]["cluster_id"] == 0
    assert rows[0]["keep"] is True
    assert rows[1]["keep"] is False and rows[2]["keep"] is False
    assert rows[3]["cluster_id"] == 3 and rows[3]["keep"] is True


def test_connected_components_long_chain_fails_loudly(spark):
    """Pathological path graphs (diameter > max_iterations) must raise,
    not silently return unconverged labels (min-label propagation moves
    one hop per round)."""
    import pytest as _pytest

    from webpeel_spark.operators.dedup import connected_components

    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    vertices = spark.createDataFrame([(i,) for i in range(n)], "id long")

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, vertices, max_iterations=3)

    # and with enough rounds the same chain converges to one cluster
    rows = connected_components(edges, vertices,
                                max_iterations=n).collect()
    assert {r["cluster"] for r in rows} == {0}


def _lsh_docs(spark):
    """40 docs in 4 byte-identical groups of 10, plus 20 unique docs."""
    rows = [(i, f"alpha beta gamma delta epsilon zeta {i % 4} common tail "
                f"words shared across near duplicate documents {i % 4}")
            for i in range(40)]
    rows += [(40 + i, " ".join(f"u{i}w{j}" for j in range(15)))
             for i in range(20)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_operators_release_caches(spark):
    """The LSH operators persist their signature, shingle and SRP
    vector and bucket tables; they must unpersist them before
    returning — a leaked .persist() accumulates blocks across repeated
    calls in a long-lived session (ADVICE r4).  The exact-dup collapse
    persists nothing.  dedup_clusters adds connected_components'
    per-round checkpoints."""
    from webpeel_spark.operators.dedup import (
        dedup_clusters,
        minhash_near_duplicates,
        ngram_jaccard_pairs,
        simhash_near_duplicates,
    )
    from webpeel_spark.operators.similarity import cosine_near_duplicate_pairs

    docs = _lsh_docs(spark)
    vecs = spark.createDataFrame(
        [(i, [1.0, float(i % 4), 0.5, -1.0]) for i in range(40)],
        "vec_id long, embedding array<double>")

    spark.catalog.clearCache()  # caches from earlier tests in the module
    cm = spark._jsparkSession.sharedState().cacheManager()
    for op, df in ((minhash_near_duplicates, docs),
                   (simhash_near_duplicates, docs),
                   (ngram_jaccard_pairs, docs),
                   (cosine_near_duplicate_pairs, vecs),
                   (dedup_clusters, docs)):
        out = op(df)
        assert out.count() > 0  # materialized results must still be actionable
        assert cm.isEmpty(), f"{op.__name__} leaked cached plans"


def test_lsh_operators_job_budget(spark):
    """Spark jobs per ``count()`` of minhash and simhash on exact-dup
    groups plus singletons.  Measured on 4 cores: 25-26 and 19-21 jobs.
    A persisted group map with its own size and min-id aggs and member
    joins ran 49 and 43, so each budget fails if such steps return."""
    from tests.test_spark_integration import _jobs_run_by
    from webpeel_spark.operators.dedup import (
        minhash_near_duplicates,
        simhash_near_duplicates,
    )

    docs = _lsh_docs(spark)
    for op, budget in ((minhash_near_duplicates, 35),
                       (simhash_near_duplicates, 30)):
        n, jobs = _jobs_run_by(spark, lambda: op(docs).count())
        assert n > 0
        assert jobs <= budget, f"{op.__name__} ran {jobs} jobs"


def test_connected_components_job_budget(spark):
    """Spark jobs per ``connected_components`` call (a 6-vertex chain,
    a 3-vertex chain, a pair and a singleton: 6 rounds) and per
    ``dedup_clusters`` ``count()``.  Measured on 4 cores: 44 and 40-41
    jobs.  A join and ``count()`` of new against old labels per round,
    in place of the observed count, ran 74 and 50-52."""
    from tests.test_spark_integration import _jobs_run_by
    from webpeel_spark.operators.dedup import (
        connected_components,
        dedup_clusters,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)] + [(10, 11), (11, 12), (20, 21)],
        "id_a long, id_b long")
    vertices = spark.createDataFrame(
        [(i,) for i in [0, 1, 2, 3, 4, 5, 10, 11, 12, 20, 21, 30]], "id long")
    rows, jobs = _jobs_run_by(
        spark, lambda: connected_components(edges, vertices).collect())
    assert {(r["id"], r["cluster"]) for r in rows} == (
        {(i, 0) for i in range(6)} | {(i, 10) for i in (10, 11, 12)}
        | {(20, 20), (21, 20), (30, 30)})
    assert jobs <= 55, f"connected_components ran {jobs} jobs"

    n, jobs = _jobs_run_by(spark, lambda: dedup_clusters(_lsh_docs(spark)).count())
    assert n == 60
    assert jobs <= 45, f"dedup_clusters ran {jobs} jobs"


def _compiles_by(spark, fn):
    """``(fn(), number of generated classes compiled while fn ran)``:
    the JVM-wide count of Janino compilations (code-cache misses)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = metrics.METRIC_COMPILATION_TIME()
    before = compiled.getCount()
    result = fn()
    return result, compiled.getCount() - before


def _hot_docs(spark, n=300, seed=11):
    """``n`` docs in three languages: random words, near-duplicate
    variants, small exact groups, a shared 20-word tail on 12% of them
    and one 15-copy exact group."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(3000)]
    texts = []
    while len(texts) < n - 15:
        words = rng.choices(vocab, k=rng.randint(40, 120))
        texts.append(words)
        roll = rng.random()
        if roll < 0.05:  # a near-duplicate variant
            texts.append([rng.choice(vocab) if rng.random() < 0.03 else w
                          for w in words])
        elif roll < 0.08:  # an exact copy
            texts.append(words)
    tail = rng.choices(vocab, k=20)
    for i in rng.sample(range(len(texts)), len(texts) * 12 // 100):
        texts[i] = texts[i] + tail
    texts += [rng.choices(vocab, k=60)] * 15
    langs = ("en", "de", "fr")
    rows = [(i, " ".join(t), langs[i % 3]) for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_dedup_round_reuses_generated_code(spark):
    """A second round of the five dedup and similarity calls reuses the
    classes the first compiled.  A round needs ~230 distinct classes:
    with Spark's default codegen cache of 100 entries every round
    compiled ~230 again, with get_spark's 1000 a repeated round
    compiles 0-55 (4 cores), mostly minhash and simhash classes whose
    whole-stage codegen id, part of the class name, follows the order
    in which AQE plans their query stages."""
    import random

    from webpeel_spark.operators.dedup import (
        exact_duplicate_groups,
        minhash_near_duplicates,
        ngram_jaccard_pairs,
        simhash_near_duplicates,
    )
    from webpeel_spark.operators.similarity import cosine_near_duplicate_pairs

    docs = _hot_docs(spark)
    rng = random.Random(12)
    vecs = [[rng.gauss(0.0, 1.0) for _ in range(16)] for _ in range(294)]
    vecs += [[0.5 * x for x in v] for v in vecs[::50]]  # scaled clones
    emb = spark.createDataFrame(list(enumerate(vecs)),
                                "vec_id long, embedding array<double>")
    calls = (lambda: exact_duplicate_groups(docs),
             lambda: minhash_near_duplicates(docs, min_jaccard=0.3),
             lambda: simhash_near_duplicates(docs, max_hamming=6),
             lambda: ngram_jaccard_pairs(docs, min_jaccard=0.35,
                                         block_col="lang"),
             lambda: cosine_near_duplicate_pairs(emb, threshold=0.95))

    def one_round():
        return [len(call().collect()) for call in calls]

    first, _ = _compiles_by(spark, one_round)
    again, compiles = _compiles_by(spark, one_round)
    assert again == first and all(first)
    assert compiles < 100, f"a repeated round compiled {compiles} classes"


NULL_TEXT_DOCS = [(0, None), (1, None), (2, "a b c d e f"),
                  (3, "a b c d e f g"), (4, None), (5, ""), (6, "")]


def test_null_texts_match_oracles(spark):
    """NULL texts share no shingle, so minhash and ngram pair them with
    nothing, as jaccard_pairs_oracle_sql does; ngram rejects t ≈ 0,
    where zero-overlap pairs would qualify.  simhash signs a NULL
    text as '' (signature 0), as simhash_oracle_sql does, so the NULL
    and empty docs are all Hamming-0 pairs of each other."""
    import duckdb
    import pandas as pd

    from webpeel_spark.operators.dedup import (
        jaccard_pairs_oracle_sql,
        minhash_near_duplicates,
        ngram_jaccard_pairs,
        simhash_near_duplicates,
        simhash_oracle_sql,
    )

    df = spark.createDataFrame(NULL_TEXT_DOCS, "doc_id long, text string")
    con = duckdb.connect()
    con.register("documents",
                 pd.DataFrame(NULL_TEXT_DOCS, columns=["doc_id", "text"]))

    def oracle(sql):
        return {(a, b): float(v) for a, b, v in con.execute(sql).fetchall()}

    def pairs(out, col):
        return {(r["id_a"], r["id_b"]): float(r[col]) for r in out.collect()}

    jaccard = oracle(jaccard_pairs_oracle_sql(0.5))
    assert jaccard == {(2, 3): 0.8, (5, 6): 1.0}
    assert pairs(minhash_near_duplicates(df, min_jaccard=0.5),
                 "jaccard") == jaccard
    assert pairs(ngram_jaccard_pairs(df, min_jaccard=0.5),
                 "jaccard") == jaccard
    for t in (0.0, 1e-4):
        with pytest.raises(ValueError, match="min_jaccard"):
            ngram_jaccard_pairs(df, min_jaccard=t)

    hamming = oracle(simhash_oracle_sql(3))
    blank = [0, 1, 4, 5, 6]
    assert all(hamming[(a, b)] == 0
               for i, a in enumerate(blank) for b in blank[i + 1:])
    assert pairs(simhash_near_duplicates(df, max_hamming=3),
                 "hamming") == hamming


def test_ngram_jaccard_boundary_rounding_pair_kept(spark):
    """The output filter is round(jaccard,4) >= t (matching the DuckDB
    oracle), so every size-based prune must use the slackened bound
    t - 0.5e-4: with t=0.5, |A|=9999 shingles ⊂ |B|=20000 gives
    J=0.49995, which rounds to 0.5000 — the unrounded prefilter
    (9999 >= 20000*0.5) used to drop it before the comparison."""
    from webpeel_spark.operators.dedup import ngram_jaccard_pairs

    words = [f"w{i}" for i in range(20002)]
    doc_b = " ".join(words)                # 20000 distinct 3-shingles
    doc_a = " ".join(words[:10001])        # 9999, all ⊂ B's
    df = spark.createDataFrame(
        [(1, doc_a), (2, doc_b)], "doc_id long, text string")
    rows = ngram_jaccard_pairs(df, min_jaccard=0.5).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in rows] == \
        [(1, 2, 0.5)]


def test_cosine_near_dups_empty_and_all_null(spark):
    """The fused dim/count probe (one agg job) must take the empty-
    result exit both when the corpus is empty and when every vector is
    NULL (count > 0 but no dim to derive) — the old first()-based probe
    crashed on len(None) for the all-null case."""
    from webpeel_spark.operators.similarity import cosine_near_duplicate_pairs

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert cosine_near_duplicate_pairs(empty).count() == 0

    all_null = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id long, embedding array<float>")
    assert cosine_near_duplicate_pairs(all_null).count() == 0


def test_srp_index_empty_corpus(spark):
    """An empty corpus (upstream filter matched nothing) and an all-NULL
    vector column both yield an empty result: NULL vectors are dropped
    before the bucket UDF sees them."""
    from webpeel_spark.operators.similarity import srp_lsh_topk

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>")
    assert srp_lsh_topk(empty, [0.1, 0.2, 0.3], k=5).count() == 0
    all_null = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id long, embedding array<float>")
    assert srp_lsh_topk(all_null, [0.1, 0.2, 0.3], k=5).count() == 0


def test_srp_lsh_topk_builds_without_a_job(spark):
    """The planes come from the query's length, so building the top-k
    frame runs no Spark job (a dimension probe over the corpus ran
    one), and a corpus with some NULL vectors still ranks the rest."""
    import numpy as np

    from tests.test_spark_integration import _jobs_run_by
    from webpeel_spark.operators.similarity import cosine_topk, srp_lsh_topk

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((60, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)]
        + [(60, None)], "vec_id long, embedding array<float>")
    q = [float(x) for x in vecs[5]]
    top, jobs = _jobs_run_by(spark, lambda: srp_lsh_topk(df, q, k=3, bits=4))
    assert jobs == 0
    got = top.collect()
    assert got[0]["vec_id"] == 5 and got[0]["cosine"] == 1.0
    # every returned row carries its exact cosine
    exact = {r["vec_id"]: r["cosine"]
             for r in cosine_topk(df.where("embedding IS NOT NULL"), q,
                                  k=61).collect()}
    assert all(exact[r["vec_id"]] == r["cosine"] for r in got)


def test_salted_key_agg_tolerates_map_columns(spark):
    """The salt is row-local round-robin, not a hash of every column —
    a MapType column in the frame used to crash xxhash64(*df.columns)."""
    from pyspark.sql import functions as F

    from webpeel_spark.plans.partitioning import salted_key_agg

    df = spark.createDataFrame(
        [("k1", 1, {"m": 1}), ("k1", 2, {"m": 2}), ("k2", 3, {"m": 3})],
        "k string, v long, meta map<string,int>")
    out = {r["k"]: (r["n"], r["s"]) for r in salted_key_agg(
        df, "k", {"n": ("count", "*"), "s": ("sum", "v")},
        hot_keys=["k1"], k=4).collect()}
    assert out == {"k1": (2, 3), "k2": (1, 3)}


def test_word_shingles_zip_construction_parity(spark):
    """r11: word_shingles builds shingles via arrays_zip of k shifted
    slices (4x cheaper than per-position slice at sf1.0).  The strings
    must be byte-identical to the legacy per-position construction on
    every edge shape: n < k, n == k, multi-whitespace runs, unicode
    words, k=1, k=5."""
    from pyspark.sql import functions as F

    from webpeel_spark.operators.dedup import word_shingles

    def legacy(col, k):
        words = F.split(F.lower(F.trim(col)), r"\s+")
        n = F.size(words)
        idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
        shingle = F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(words, i, k)))
        return F.array_distinct(
            F.when(n >= k, shingle)
            .otherwise(F.array(F.concat_ws(" ", words))))

    texts = [
        "", " ", "one", "one two", "one two three",
        "one two three four five six seven",
        "  Leading  and   trailing   runs  ",
        "repeat repeat repeat repeat repeat",
        "中文 测试 句子 更多 词", "Ümlaut wörds hérе tóo",
        "tab\tand\nnewline separated words here",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    for k in (1, 2, 3, 5):
        rows = df.select(
            F.array_sort(word_shingles(F.col("text"), k)).alias("new"),
            F.array_sort(legacy(F.col("text"), k)).alias("old"),
        ).collect()
        for r in rows:
            assert r["new"] == r["old"], (k, r)


def test_ngram_inverted_index_matches_bruteforce(spark):
    """r11: the inverted-index overlap count must reproduce the exact
    all-pairs shingle Jaccard (round-4 comparison, lossless size prune)
    on a mixed corpus — near-dup clusters, exact dups, shared
    boilerplate shingles, short docs below k words — both blocked and
    unblocked."""
    import itertools
    import random

    from pyspark.sql import functions as F

    from webpeel_spark.operators.dedup import ngram_jaccard_pairs

    rng = random.Random(11)
    vocab = [f"tok{i}" for i in range(60)]
    rows = []
    for i in range(90):
        base = rng.randrange(12)
        words = [vocab[(base * 5 + j) % len(vocab)]
                 for j in range(8 + base % 5)]
        if rng.random() < 0.4:  # mutate → near-dup, not exact
            words[rng.randrange(len(words))] = rng.choice(vocab)
        if rng.random() < 0.2:
            words += ["shared", "boilerplate", "tail"]
        rows.append((i, " ".join(words), "g%d" % (i % 2)))
    rows += [(90, "tiny", "g0"), (91, "two words", "g1"),
             (92, rows[0][1], rows[0][2])]  # exact dup of doc 0

    def shingles(text):
        ws = text.lower().split()
        if len(ws) >= 3:
            return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}
        return {" ".join(ws)}

    def brute(t, blocked):
        exp = set()
        for (ia, ta, ba), (ib, tb, bb) in itertools.combinations(rows, 2):
            if blocked and ba != bb:
                continue
            sa, sb = shingles(ta), shingles(tb)
            inter = len(sa & sb)
            # HALF_UP on the shortest decimal repr = Spark F.round on
            # a double (python's built-in round is banker's)
            from decimal import ROUND_HALF_UP, Decimal
            j = float(Decimal(repr(inter / (len(sa) + len(sb) - inter)))
                      .quantize(Decimal("0.0001"), ROUND_HALF_UP))
            if j >= t:
                exp.add((ia, ib, j))
        return exp

    df = spark.createDataFrame(rows, "doc_id long, text string, blk string")
    for t, blocked in ((0.35, True), (0.5, False), (0.9, False)):
        got = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
               ngram_jaccard_pairs(
                   df, min_jaccard=t,
                   block_col="blk" if blocked else None).collect()}
        assert got == brute(t, blocked), (t, blocked)
