"""Similarity search over embedding columns (array<float>).

Two paths:

* ``cosine_topk``     — brute-force exact top-k against one query
                        vector.  The dot product is a builtin
                        ``aggregate(zip_with(...))`` expression
                        (JVM-side); top-k is orderBy+limit which Spark
                        executes as per-partition TakeOrdered + driver
                        merge — no full sort, no shuffle of the data.
* ``srp_lsh_topk``    — the scale path: signed-random-projection LSH.
                        A seeded hyperplane matrix (numpy, broadcast in
                        the UDF closure) maps vectors to b-bit buckets
                        with one vectorized matmul per Arrow batch;
                        search touches only the query's bucket (plus
                        multiprobe neighbours), so cost per query drops
                        from O(N) to O(N / 2^bits) expected.

Also ``cosine_near_duplicate_pairs`` — embedding near-dup detection for
training-data dedup (bucket join + exact verify).
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity_col(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(df: DataFrame, query_vec: Sequence[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id",
                round_digits: int = 4) -> DataFrame:
    """Exact top-k by cosine against a literal query vector."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col),
        F.round(cosine_similarity_col(F.col(vec_col), q), round_digits).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def _srp_planes(dim: int, bits: int, seed: int) -> "object":
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, bits)).astype("float64")


def srp_index(df: DataFrame, vec_col: str = "embedding",
              bits: int = 8, seed: int = 13) -> DataFrame:
    """Materialize the SRP bucket column ONCE as an index table.

    For a query workload, write this out partitioned by ``__bucket``
    (``write_partitioned_index(indexed, path, "__bucket")``) so each
    probe is a partition-pruned scan instead of re-hashing the corpus
    per query — the round-1 exposure recomputed buckets for every
    query, which is the wrong shape for repeated lookups."""
    first = (df.select(vec_col)
             .where(F.col(vec_col).isNotNull()).first())
    if first is None:
        # empty corpus (or all-null vectors): no dimensionality to
        # hash against — keep the schema, bucket nothing
        return df.withColumn("__bucket", F.lit(None).cast("long"))
    dim = len(first[0])
    return df.withColumn(
        "__bucket",
        srp_multi_bucket_udf(dim, bits, 1, seed)(F.col(vec_col))[0])


def srp_query_buckets(query_vec: Sequence[float], bits: int = 8,
                      seed: int = 13, multiprobe: int = 1) -> List[int]:
    """Bucket ids to probe for a query vector (own bucket + neighbours
    at sign-flip Hamming distance ≤ multiprobe)."""
    import numpy as np

    dim = len(query_vec)
    planes = _srp_planes(dim, bits, seed)
    qsig = (np.asarray(query_vec, dtype="float64") @ planes) > 0
    powers = (1 << np.arange(bits)).astype("int64")
    qbucket = int(qsig @ powers)

    probe_buckets = {qbucket}
    if multiprobe >= 1:
        for i in range(bits):
            probe_buckets.add(qbucket ^ (1 << i))
    if multiprobe >= 2:
        for i in range(bits):
            for j in range(i + 1, bits):
                probe_buckets.add(qbucket ^ (1 << i) ^ (1 << j))
    return sorted(probe_buckets)


def srp_lsh_topk(df: DataFrame, query_vec: Sequence[float], k: int = 10,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 bits: int = 8, seed: int = 13,
                 multiprobe: int = 1,
                 indexed: bool = False) -> DataFrame:
    """Approximate top-k: search only the query's SRP bucket (+ neighbours
    at Hamming distance ≤ multiprobe).

    With ``indexed=True``, ``df`` already carries the ``__bucket``
    column from srp_index() (the right shape for a query WORKLOAD:
    bucket once, probe many times via partition pruning); otherwise the
    bucket UDF runs over the corpus for this one query."""
    bucketed = df if indexed else srp_index(df, vec_col, bits, seed)
    probe = srp_query_buckets(query_vec, bits, seed, multiprobe)
    candidates = bucketed.filter(F.col("__bucket").isin(probe))
    return cosine_topk(candidates, query_vec, k, vec_col, id_col)


def srp_multi_bucket_udf(dim: int, bits: int, tables: int, seed: int = 13):
    """pandas_udf: array<float> → array<long> of ``tables`` bucket ids.

    One numpy matmul per Arrow batch computes all tables' projections
    (dim × tables·bits planes); each table's ``bits`` signs pack into
    one bucket id.  Positive scaling of a vector never changes a sign,
    so exact duplicates and scaled copies collide in EVERY table."""
    import numpy as np

    planes = np.concatenate(
        [_srp_planes(dim, bits, seed + t) for t in range(tables)], axis=1)
    powers = (1 << np.arange(bits)).astype("int64")

    @pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        import webpeel_spark  # noqa: F401 — stat-keys zip rescans per task

        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        mat = np.vstack([np.asarray(v, dtype="float64") for v in vecs])
        signs = ((mat @ planes) > 0).reshape(len(vecs), tables, bits)
        ids = signs @ powers  # (n, tables)
        return pd.Series(list(ids))

    return buckets


def derive_srp_bits(n: int, target_bucket: int = 8,
                    lo: int = 4, hi: int = 24) -> int:
    """Bucket-count sizing: 2^bits ≈ n / target_bucket so expected
    bucket occupancy stays constant as the corpus grows (fixed bits is
    O(N²/2^b) — the round-1 scale flaw).

    Candidate volume per table ≈ buckets × C(occupancy, 2) ≈
    n × (target_bucket-1)/2, so target_bucket=8 keeps the verify join
    at ~3.5n pairs per table (measured at 64 it was ~31n per table —
    the bucket join itself became the quadratic).  Smaller buckets
    lower per-table recall for non-identical near-dups; compensate
    with ``tables`` (recall = 1-(1-p^bits)^tables), not with fatter
    buckets.  Exact/scaled duplicates collide in every table at any
    ``bits`` (sign-invariance), so THEIR recall is always 1."""
    import math

    if n <= target_bucket:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n / target_bucket))))


def derive_srp_tables(n: int, threshold: float = 0.95,
                      bits: Optional[int] = None,
                      target_recall: float = 0.9,
                      lo: int = 4, hi: int = 32) -> int:
    """Table-count sizing for a boundary-recall target.

    ``derive_srp_bits`` grows bits ~ log2(n) to keep the bucket join
    O(n) — but per-table collision probability for a pair AT the
    cosine threshold is p^bits with p = 1 - acos(threshold)/π, so a
    FIXED table count silently loses boundary recall as the corpus
    grows.  Round-10 soak measurement (BENCH_dedup_scale_r10.json,
    planted pairs with construction-exact cosines in [0.94, 0.96]):
    at 33k vectors (bits=13) recall at the 0.95 gate was 0.8155 with
    6 tables vs 0.9107 with 8 — within noise of the closed-form
    1-(1-p^bits)^tables prediction (0.822 / 0.900); at 8.2k vectors
    (bits=11, only 39 expected pairs) both measured 1.0.  The fixed-
    tables cliff is real and the formula predicts it.

    This inverts the formula: tables = ln(1-R) / ln(1-p^bits),
    clamped to [lo, hi].  At threshold 0.95 / R=0.9: 6 tables at
    bits=10, 8 at bits=12, 10 at bits=14 — the cost of holding
    recall grows only ~linearly in bits while the bucket join stays
    O(n) per table.  Pairs above the threshold saturate much earlier
    (the 0.987-cosine cohort measured 0.98+ even at 6 tables); the
    target is honest for the WORST pair the threshold admits."""
    import math

    if bits is None:
        bits = derive_srp_bits(n)
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    p_table = p ** bits
    if p_table >= 1.0:
        return lo
    miss = 1.0 - p_table
    # r11 (ADVICE): p_table can underflow to ~0 (threshold <= cos(pi/2)
    # or huge bits), making miss == 1.0 and log(miss) == 0 — the target
    # recall is then unreachable at any table count, so return hi (the
    # max) instead of dividing by zero.
    if miss >= 1.0 or p_table < 1e-15:
        return hi
    tables = math.ceil(math.log(1.0 - target_recall) / math.log(miss))
    return max(lo, min(hi, tables))


# ── IVF (inverted-file) ANN — the k-means-cell scale path ──────────────

def _l2_normalize(col: Column) -> Column:
    n = _norm(col)
    return F.transform(col, lambda x: x.cast("double") / n)


def ivf_index(df: DataFrame, k: Optional[int] = None,
              vec_col: str = "embedding", id_col: str = "vec_id",
              seed: int = 29, max_iter: int = 10):
    """Build an IVF index: k-means cells over L2-NORMALIZED vectors
    (normalized euclidean ≡ cosine ordering), returning
    (assigned_df with __cell, centroids ndarray).

    At 10^12 rows: train on a sample (KMeans fits on a fraction), write
    ``assigned`` partitioned by __cell, and each query scans only
    nprobe cell-partitions — the classic FAISS IVF layout expressed as
    partition-pruned parquet instead of an in-memory index.  k defaults
    to ~sqrt(n) (cells ≈ probe cost balance)."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if k is None:
        import math

        k = max(2, int(math.isqrt(df.count())))
    feats = df.withColumn("__nv", _l2_normalize(F.col(vec_col))) \
              .withColumn("__features", array_to_vector(F.col("__nv")))
    model = KMeans(k=k, seed=seed, maxIter=max_iter,
                   featuresCol="__features",
                   predictionCol="__cell").fit(feats)
    assigned = model.transform(feats).drop("__features")
    centroids = np.vstack([np.asarray(c) for c in model.clusterCenters()])
    return assigned, centroids


def write_partitioned_index(df: DataFrame, path: str,
                            partition_col: str) -> DataFrame:
    """Materialize an ANN index as cell-partitioned parquet and return
    the read-back frame — the FAISS-IVF layout expressed as storage.

    ``ivf_index`` / ``srp_index`` docstrings have always described
    this shape ("write assigned partitioned by __cell, each query
    scans only nprobe cell-partitions"); this makes it one call.  A
    probe over the returned frame (``ivf_topk`` / ``srp_lsh_topk``
    with ``indexed=True``) compiles to a partition-PRUNED scan: the
    ``__cell``/``__bucket`` IN-filter lands in the FileSourceScan's
    PartitionFilters, so only the probed directories are listed and
    read — ~nprobe/k of the corpus touches disk, no re-hashing, and
    the index is shared across queries, jobs, and restarts (the
    repeated-lookup shape a cached in-session frame cannot give a
    100 TB deployment).  Pinned by a plan-shape test.
    """
    df.write.partitionBy(partition_col).mode("error").parquet(path)
    return df.sparkSession.read.parquet(path)


def ivf_topk(assigned: DataFrame, centroids, query_vec: Sequence[float],
             topk: int = 10, nprobe: int = 4,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Approximate top-k by cosine: probe the ``nprobe`` cells whose
    centroids are nearest the (normalized) query, exact cosine within
    them.  Probe-cell choice is a tiny driver-side numpy argsort over k
    centroids; the scan touches ~nprobe/k of the corpus."""
    import numpy as np

    q = np.asarray(query_vec, dtype="float64")
    qn = q / (np.linalg.norm(q) or 1.0)
    d2 = ((centroids - qn) ** 2).sum(axis=1)
    cells = [int(c) for c in np.argsort(d2)[:nprobe]]
    return cosine_topk(assigned.filter(F.col("__cell").isin(cells)),
                       query_vec, topk, vec_col, id_col)


def cosine_near_duplicate_pairs(df: DataFrame, threshold: float = 0.95,
                                vec_col: str = "embedding",
                                id_col: str = "vec_id",
                                bits: Optional[int] = None,
                                tables: Optional[int] = None,
                                seed: int = 13,
                                bucket_cap: int = 5000,
                                metrics: Optional[dict] = None) -> DataFrame:
    """Embedding near-dup pairs: banded multi-table SRP LSH + exact
    cosine verify.

    Round-1 flaws fixed: ``bits`` now derives from the corpus size
    (2^bits ≈ n/8 via derive_srp_bits, so the bucket join stays O(n) instead of
    O(N²/2^const)); a single SRP table's recall cliff is addressed by
    ``tables`` independent hash tables (a pair is a candidate if it
    collides in ANY table — the MinHash-band construction applied to
    random hyperplanes); degenerate buckets are capped with a reported
    metric (capped_bucket_pairs — no collect_set, no per-reducer
    arrays).

    Note exact duplicates and positively-scaled copies agree with
    every hyperplane sign, so they collide in all tables: recall for
    cosine == 1.0 pairs is structurally 1.0 regardless of tuning.
    The plan already has the 10^12-row shape: only (id, table, bucket)
    rides the explode/candidate stages, and the verify step joins the
    float arrays back BY ID from the narrow persisted vector table —
    vectors are stored once and never shuffle through the pair-dedupe.
    Measured at 4×/16× bench scale with planted ground truth in
    BENCH_dedup_scale_r10.json: clone recall 1.0, sub-linear wall,
    and — new in round 10 — NEAR-THRESHOLD recall on pairs planted at
    cosine [0.94, 0.96]: 0.82 (6 tables) vs 0.91 (8) at 33k vectors,
    matching the closed-form 1-(1-p^bits)^tables.  ``tables=None``
    (default) therefore derives the count from the corpus size via
    ``derive_srp_tables`` so boundary recall holds as bits grows with
    n; pass an explicit ``tables`` to pin cost instead.
    """
    # dim + corpus size in ONE control-plane job (was first() + count():
    # two full-scan jobs on arbitrary upstream lineage)
    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.size(vec_col)).alias("dim"),
    ).first()
    # dim <= 0 guard (r10 ADVICE): `max(size(col))` is NULL for an
    # all-null vector column only under ANSI/sizeOfNull=false semantics
    # (true on the pinned Spark 4.1.2); Spark 3.x defaults return -1,
    # which must also take the empty exit, not build hyperplanes.
    if not stats["n"] or stats["dim"] is None or stats["dim"] <= 0:
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    from ..plans.partitioning import fan_out

    from .dedup import _finalize_pairs, capped_bucket_pairs

    dim = int(stats["dim"])
    if bits is None:
        bits = derive_srp_bits(int(stats["n"]))
    if tables is None:
        # hold boundary recall as bits grows with n (round-10 soak:
        # fixed tables lose recall at the threshold as the corpus
        # scales — see derive_srp_tables)
        tables = derive_srp_tables(int(stats["n"]), threshold, bits)

    # vectors persist ONCE (narrow table); the exploded bucket table
    # carries only (id, table, bucket) — shipping the vector through
    # the explode would store it ``tables``× and, worse, shuffle the
    # float arrays through the candidate pair-dedupe (the same
    # array-through-dropDuplicates cost that dominated ngram_jaccard)
    # __nrm: the per-vector L2 norm, computed ONCE here rather than
    # twice per verified pair (r11, guide §1.2 per-task work): the
    # verify join's cosine previously evaluated three interpreted
    # higher-order aggregates per candidate pair (dot + both norms,
    # 3 × dim lambda steps over 434k sf1.0 candidates — measured as
    # the operator's dominant cost).  The norm is the identical
    # expression on the identical vector, so dot/(nrm_a*nrm_b) is
    # bit-for-bit the old dot/(norm(a)*norm(b)) — oracle-checked.
    vecs = fan_out(df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )).withColumn("__nrm", _norm(F.col("v"))).persist()
    buckets = vecs.select(
        "id",
        F.posexplode(
            srp_multi_bucket_udf(dim, bits, tables, seed)(F.col("v"))
        ).alias("table", "bucket"),
    ).persist()  # consumed 3× in capped_bucket_pairs (sizes + two sides)

    candidates = capped_bucket_pairs(buckets, ["table", "bucket"],
                                     bucket_cap, metrics=metrics)
    left = vecs.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"),
                       F.col("__nrm").alias("__nrm_a"))
    right = vecs.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"),
                        F.col("__nrm").alias("__nrm_b"))
    out = (
        candidates.join(left, "id_a").join(right, "id_b")
        .withColumn("cosine", F.round(
            _dot(F.col("v_a"), F.col("v_b"))
            / (F.col("__nrm_a") * F.col("__nrm_b")), 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
    # same cache-release contract as the dedup LSH operators: the two
    # persisted intermediates would otherwise pin blocks for the
    # session lifetime on every call (_finalize_pairs docstring)
    return _finalize_pairs(out, vecs, buckets)
