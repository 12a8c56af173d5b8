"""Deduplication operators for training-data pipelines.

Four families, all designed for 100 TB scale:

* exact          — md5 duplicate groups (one shuffle, capped exemplars);
* MinHash + LSH  — shingle → minhash signature → banded bucket join →
                   verified Jaccard.  Signatures and bands are built
                   with builtin Catalyst expressions (xxhash64,
                   transform, array_min, slice) — fully JVM-side, no
                   Python in the hot path.  The only shuffles are the
                   band-bucket groupBy and the verify join;
* SimHash        — 64-bit signature via a vectorized numpy pandas_udf
                   (bit-counting is not expressible efficiently in
                   Catalyst); near-dups = signatures at Hamming
                   distance ≤ t found by banding the 64 bits;
* n-gram Jaccard — exact pairwise verification used by both families
                   (array_intersect/array_union sizes).

The reference engine has no corpus-level dedup (its JS ``Set`` dedups
links per page, metadata.ts:253) — these operators are the scale
additions the north rule's training-data use case needs.
"""

from __future__ import annotations

from typing import List, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# Mersenne prime for the universal-hash family.  31-bit so that
# (h mod p) * a + b stays < 2^63 (Spark ANSI mode rejects overflow).
_MERSENNE = (1 << 31) - 1


def exact_duplicate_groups(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           max_exemplars: int = 16) -> DataFrame:
    """Groups of byte-identical documents:
    (content_hash, dup_count, doc_ids, omitted_ids).

    ``dup_count`` is EXACT; ``doc_ids`` holds at most ``max_exemplars``
    exemplar ids (the smallest, ascending).  The round-1 shape
    aggregated ALL ids of a group into one ``collect_list`` array — at
    100 TB a viral boilerplate page (10^7 identical copies) made that a
    single multi-GB array on one reducer (the same degenerate-bucket
    failure ``capped_bucket_pairs`` guards against).  A ``slice`` after
    the collect would not help: the full array still materializes in
    the aggregation buffer.  Instead the cap is applied BEFORE any
    array exists, via window functions that stream each hash partition
    with disk spill:

    * ``count(*)  OVER (PARTITION BY hash)``      — exact group size,
      frame-less (streams each hash group, no sort);
    * filter ``__n > 1`` BETWEEN the two windows — uniques (the bulk
      of any real corpus) never reach the sort;
    * ``row_number OVER (PARTITION BY hash ORDER BY id) <= cap``
      — keeps the N smallest ids, so the later ``collect_list`` is
      bounded by ``max_exemplars`` per group.

    The second window and the follow-up ``groupBy(content_hash)``
    reuse the first window's hash partitioning (one shuffle total),
    and the drop is REPORTED, never silent:
    ``omitted_ids = dup_count - size(doc_ids)``.

    Residual skew caveat: a 10^7-copy group still streams through ONE
    task (window semantics), but as narrow (hash, id) rows — ~50 B
    each, spill-backed — so it is a slow task, not an OOM; bounding
    the WALL of that task too would take a salted two-level top-N
    (3 shuffles) that this reporting query does not justify.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("content_hash")
    hashed = df.select(
        F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
    ranked = (
        hashed.withColumn("__n", F.count("*").over(w))
        .filter(F.col("__n") > 1)
        .withColumn("__rn", F.row_number().over(w.orderBy(id_col)))
        .filter(F.col("__rn") <= max_exemplars)
    )
    return (
        ranked.groupBy("content_hash")
        .agg(F.max("__n").alias("dup_count"),
             F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .withColumn("omitted_ids",
                    F.col("dup_count") - F.size(F.col("doc_ids")))
    )


def word_shingles(col, k: int = 3) -> Column:
    """Distinct k-word shingles as an array<string> (JVM-side).

    r11 construction: ``arrays_zip`` of k shifted ``slice`` copies of
    the word array, then one ``concat_ws`` per position — k whole-array
    copies instead of the previous per-position ``slice`` inside
    ``transform`` (which re-materialized a k-element array per shingle
    and measured 4.1 s for the sf1.0 corpus vs 1.0 s for this shape;
    the strings produced are byte-identical, pinned by test).  The
    n < k fallback branch is unchanged.
    """
    words = F.split(F.lower(F.trim(col)), r"\s+")
    n = F.size(words)
    m = n - F.lit(k - 1)
    z = F.arrays_zip(*[F.slice(words, i + 1, m) for i in range(k)])
    shingle = F.transform(
        z, lambda x: F.concat_ws(" ", *[x[str(i)] for i in range(k)]))
    return F.array_distinct(
        F.when(n >= k, shingle).otherwise(F.array(F.concat_ws(" ", words)))
    )


def _hash_params(num_hashes: int, seed: int = 7) -> List:
    """Deterministic (a, b) pairs for the universal hash family."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE - 1), rng.randrange(0, _MERSENNE - 1))
            for _ in range(num_hashes)]


def minhash_signature(col, num_hashes: int = 32, seed: int = 7) -> Column:
    """array<bigint> MinHash signature over an array column of shingle
    hashes (``xxhash64`` of each shingle).

    h_i(s) = (a_i * s + b_i) mod p, signature_i = min over
    shingles — all builtin expressions.  One nested ``transform`` over
    literal (a, b) arrays instead of 32 separate projection columns:
    measured equal-or-faster warm AND ~10% faster cold (smaller codegen
    surface) on sf0.1; a zip_with reformulation, by contrast, measured
    10× SLOWER — don't revisit that one.
    """
    params = _hash_params(num_hashes, seed)
    a_arr = F.array(*[F.lit(a) for a, _ in params])
    b_arr = F.array(*[F.lit(b) for _, b in params])
    base = F.transform(col, lambda h: F.pmod(h, F.lit(_MERSENNE)))
    return F.transform(
        F.sequence(F.lit(1), F.lit(num_hashes)),
        lambda i: F.array_min(
            F.transform(base, lambda h: F.pmod(
                h * F.element_at(a_arr, i) + F.element_at(b_arr, i),
                F.lit(_MERSENNE)))),
    )


def capped_bucket_pairs(keyed: DataFrame, key_cols: List[str],
                        bucket_cap: int,
                        metrics: Optional[dict] = None,
                        extra_cols: Optional[List[str]] = None,
                        pair_filter: Optional[Column] = None,
                        pair_project: Optional[List[Column]] = None
                        ) -> DataFrame:
    """Candidate pairs from a (id, *key_cols) table without any array agg.

    The round-1 shape — ``groupBy(keys).agg(collect_set(id))`` then an
    all-pairs array expression — OOMs one reducer on a degenerate
    bucket (mass-duplicated boilerplate is the NORM in Common Crawl:
    cookie walls, 404 templates).  Here no per-bucket array ever
    materializes:

    1. bucket sizes via a count agg (map-side combine, bytes per
       bucket, skew-proof);
    2. buckets with 1 member (no pair) or > ``bucket_cap`` members
       (degenerate) are dropped — the drop is REPORTED, never silent:
       pass ``metrics`` to get dropped-bucket count/max size;
    3. surviving rows self-join on the keys — each bucket contributes
       ≤ cap² rows, so the join output is bounded by buckets × cap².

    Returns (id_a, id_b) distinct with id_a < id_b, plus ``extra_cols``
    from each side suffixed _a/_b.

    ``pair_filter`` (r11, guide §2.3 — shuffle fewer bytes): a
    deterministic per-pair predicate over id/extra columns, applied to
    the raw self-join output BEFORE the pair-dedupe exchange.  For a
    verify predicate that needs only carried scalars (simhash's
    ``bit_count(xor) <= h``), this moves verification map-side: only
    true pairs reach the dedupe shuffle.  Measured at sf1.0 the
    simhash banding emits 87.2M raw candidate rows that dedupe to
    646k verified pairs — filtering first shuffles ~13M rows instead
    of 87M.  ``filter ∘ distinct ≡ distinct ∘ filter`` for a
    deterministic per-row predicate, so results are identical.

    ``pair_project`` (r11): aliased columns computed from the raw join
    row (ids + extras) that REPLACE the ``extra_cols`` in the output,
    evaluated before the dedupe exchange.  Lets a caller shuffle a
    derived scalar (simhash's 4-byte hamming) instead of the inputs it
    derives from (two 8-byte signatures) — guide §2.3, narrower rows
    through the exchange.  Deterministic projections only: the value
    must be a function of the pair so the arbitrary dedupe survivor is
    well-defined.
    """
    extra = extra_cols or []
    sizes = keyed.groupBy(*key_cols).agg(F.count("*").alias("__n"))
    if metrics is not None:
        over = sizes.filter(F.col("__n") > bucket_cap).agg(
            F.count("*").alias("dropped_buckets"),
            F.sum("__n").alias("dropped_rows"),
            F.max("__n").alias("max_bucket_size"),
        ).first()
        metrics["dropped_buckets"] = over["dropped_buckets"] or 0
        metrics["dropped_rows"] = over["dropped_rows"] or 0
        metrics["max_dropped_bucket"] = over["max_bucket_size"] or 0
    eligible = sizes.filter((F.col("__n") > 1) & (F.col("__n") <= bucket_cap)) \
                    .select(*key_cols)
    small = keyed.join(eligible, key_cols)
    x = small.select(*key_cols, F.col("id").alias("id_a"),
                     *[F.col(c).alias(f"{c}_a") for c in extra])
    y = small.select(*key_cols, F.col("id").alias("id_b"),
                     *[F.col(c).alias(f"{c}_b") for c in extra])
    out = x.join(y, key_cols).filter(F.col("id_a") < F.col("id_b"))
    if pair_filter is not None:
        out = out.filter(pair_filter)
    if pair_project is not None:
        out = out.select("id_a", "id_b", *pair_project)
    else:
        out = out.select("id_a", "id_b",
                         *[f"{c}_a" for c in extra], *[f"{c}_b" for c in extra])
    return out.dropDuplicates(["id_a", "id_b"])


def _finalize_pairs(out: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize the (small) verified-pairs result and release the
    operator's internal caches.

    The LSH operators persist the signature or shingle table that
    several downstream joins consume; left persisted, repeated calls
    in a long-lived session accumulate cached blocks until eviction
    pressure degrades the very joins the caches speed up.
    ``localCheckpoint(eager=True)`` cuts the result free of that
    lineage so the caches can be dropped immediately — and unlike
    ``persist``, checkpoint blocks are reclaimed by the ContextCleaner
    when the returned DataFrame is garbage-collected.  Pair output is
    orders of magnitude smaller than the corpus.
    """
    out = out.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()
    return out


def _collapse_exact_groups(df: DataFrame, text_col: str, id_col: str):
    """Exact-duplicate collapse pre-pass shared by the LSH operators, so
    the heavy LSH stages never see the boilerplate mass-duplicates
    (cookie walls, 404 templates) that create degenerate buckets.
    Returns (docs, members): docs = (id, __text), one smallest-id row
    per distinct text; members = (__rep, __member) for every member of
    a group of two or more.  Both md5 aggs combine map-side."""
    hashed = df.select(F.col(id_col).alias("id"),
                       F.col(text_col).alias("__text")) \
        .withColumn("__g", F.md5("__text"))
    # the only shuffle that carries text; it is also the fan-out, so a
    # repartition ahead of it would shuffle every text twice
    docs = (
        hashed.groupBy("__g")
        .agg(F.min_by(F.struct("id", "__text"), F.col("id")).alias("__r"))
        .select(F.col("__r.id").alias("id"),
                F.col("__r.__text").alias("__text"))
    )
    members = (hashed.groupBy("__g")
               .agg(F.min("id").alias("__rep"), F.count("*").alias("__n"))
               .filter(F.col("__n") > 1)
               .join(hashed.select("id", "__g"), "__g")
               .select("__rep", F.col("id").alias("__member")))
    return docs, members


def _expand_group_pairs(rep_pairs: DataFrame, members: DataFrame,
                        value_col: str, within_value) -> DataFrame:
    """Re-expand exact-dup groups into the pair-level output, the set a
    naive engine would produce (what the exact oracles check).

    Within-group pairs (one self-join of ``members``) get
    ``within_value`` (J=1.0 / Hamming=0 by definition); cross-group
    pairs inherit the representative pair's value (identical texts ⇒
    identical signatures, so this is exact).  A singleton is in no
    group of ``members``: the left-join + coalesce fallback expands its
    representative to itself.  The output is quadratic in group size;
    at 10^12 rows keep ``members`` and rep_pairs instead.
    """
    a, b = members.alias("a"), members.alias("b")
    within = (
        a.join(b, "__rep")
        .filter(F.col("a.__member") < F.col("b.__member"))
        .select(F.col("a.__member").alias("id_a"),
                F.col("b.__member").alias("id_b"),
                F.lit(within_value).alias(value_col))
    )
    cross = (
        rep_pairs
        .join(members.select(F.col("__rep").alias("id_a"),
                             F.col("__member").alias("__m_a")),
              "id_a", "left")
        .join(members.select(F.col("__rep").alias("id_b"),
                             F.col("__member").alias("__m_b")),
              "id_b", "left")
        .select(F.least(F.coalesce("__m_a", "id_a"),
                        F.coalesce("__m_b", "id_b")).alias("id_a"),
                F.greatest(F.coalesce("__m_a", "id_a"),
                           F.coalesce("__m_b", "id_b")).alias("id_b"),
                value_col)
    )
    return cross.unionByName(within)


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    min_jaccard: float = 0.7,
    seed: int = 7,
    bucket_cap: int = 2000,
    metrics: Optional[dict] = None,
) -> DataFrame:
    """Near-duplicate pairs: (id_a, id_b, jaccard) with jaccard ≥ threshold.

    Plan shape (all joins/aggs, no array collection anywhere):

    0. exact-dup collapse (_collapse_exact_groups) — one md5 hash-agg
       keeps one representative per byte-identical group, so the heavy
       LSH stages never see the boilerplate mass-duplicates that create
       degenerate buckets; member pairs are re-expanded at the end
       (within-group J = 1.0, cross-group pairs inherit the
       representative pair's jaccard).  NULL texts have no shingles
       and are dropped first, as in jaccard_pairs_oracle_sql.
    1. one narrow stage builds hashed shingles + signature per doc
       (builtin Catalyst only);
    2. banding explode → bucket-size count agg → cap filter →
       self-join (capped_bucket_pairs: no collect_set, no per-reducer
       arrays, dropped buckets reported via ``metrics``);
    3. exact shingle-Jaccard verify join on the surviving candidates.

    Scales linearly in corpus size for corpora whose NEAR-duplicate
    cluster sizes are bounded by ``bucket_cap`` (exact duplicates are
    unbounded and fine — step 0 collapses them).
    """
    rows_per_band = num_hashes // bands
    docs, members = _collapse_exact_groups(
        df.filter(F.col(text_col).isNotNull()), text_col, id_col)
    sigs = (
        docs.select(
            "id",
            # hashed distinct shingles: verify-join Jaccard on bigints is
            # ~5× cheaper than on the original shingle strings, and the
            # signature needs only the hashes anyway
            F.array_distinct(
                F.transform(word_shingles(F.col("__text"), shingle_k),
                            lambda s: F.xxhash64(s))
            ).alias("shingles"),
        )
        .withColumn("sig", minhash_signature(F.col("shingles"), num_hashes, seed))
    )
    # consumed 3x below (banding + both verify sides)
    sigs = sigs.persist()

    banded = sigs.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")

    candidates = capped_bucket_pairs(banded, ["band", "bucket"], bucket_cap,
                                     metrics=metrics)

    left = sigs.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    right = sigs.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter  # |A∪B| without a 2nd array op
    rep_pairs = (
        candidates.join(left, "id_a").join(right, "id_b")
        .withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )
    return _finalize_pairs(
        _expand_group_pairs(rep_pairs, members, "jaccard", 1.0), sigs)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    min_jaccard: float = 0.5,
    block_col: Optional[str] = None,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard via an inverted shingle index.

    r11 plan shape (guide §2.3/§8 — shuffle narrow keys, never
    payloads): the overlap |A∩B| is COUNTED on an inverted index —
    explode (id, n, blk, shingle-hash), self-join on (blk, hash),
    count shared hashes per (id_a, id_b) — instead of joining whole
    size-band blocks and shipping both shingle ARRAYS for every
    size-compatible pair.  The old band join was quadratic in block
    size (measured 121 s at sf1.0, where one lang×band block holds
    ~15k docs → ~10⁸ array-carrying pairs); the index join only ever
    materializes pairs that actually SHARE a shingle (30.5M narrow
    4-int rows at sf1.0), and jaccard = i/(n_a+n_b-i) needs no
    array_intersect at all.  Sets are distinct-hash arrays, so the
    shared-hash count equals the old ``size(array_intersect)`` exactly
    and the output is row-identical (oracle-verified).

    Pairs sharing zero shingles have J = 0 and cannot pass a positive
    rounded threshold, so min_jaccard must exceed 1e-4 (ValueError
    otherwise): at t ≈ 0 zero-overlap pairs would qualify, and the
    index never sees them.  A NULL text shares no shingle and pairs
    with nothing.

    Worst case is still inherently quadratic — this is exact pairwise
    verification: a shingle shared by m docs contributes C(m,2) joined
    rows.  That strictly improves on the block join (byte-identical
    docs share every shingle AND land in one size band), but a viral
    boilerplate SHINGLE still fans out; minhash_near_duplicates (whose
    exact-collapse + capped buckets bound that case) remains the
    sub-quadratic scale path.  Size-ratio pruning runs on two int
    columns before the overlap agg, with the same t_eff slack the
    rounded output filter requires.
    """
    if min_jaccard <= 1e-4:
        raise ValueError(f"min_jaccard must exceed 1e-4: {min_jaccard}")

    from ..plans.partitioning import fan_out

    # The output filter compares ROUND(jaccard, 4) >= t (as does the
    # DuckDB oracle), so a pair whose true jaccard sits up to half a
    # grid step BELOW t still passes.  Every size-based prune must
    # therefore use the slackened bound t_eff = t - 0.5e-4, or it
    # drops boundary pairs the rounded comparison keeps (e.g. t=0.5,
    # |A|=9999 ⊂ |B|=20000: J=0.49995 rounds to 0.5000 and must
    # survive, but 9999 >= 20000*0.5 fails).
    t_eff = min_jaccard - 0.5e-4

    # a NULL text has no shingles (word_shingles gives it [''])
    src = df.select(F.col(id_col), F.col(text_col),
                    *([F.col(block_col)] if block_col else [])) \
        .filter(F.col(text_col).isNotNull())
    sh = F.array_distinct(
        F.transform(word_shingles(F.col(text_col), shingle_k),
                    lambda s: F.xxhash64(s)))
    base = fan_out(src).select(
        F.col(id_col).alias("id"),
        sh.alias("sh"),
        (F.col(block_col) if block_col else F.lit(0)).alias("blk"),
    ).withColumn("n", F.size("sh")).persist()

    # inverted-index overlap count (see docstring): every row past
    # this point is (blk, hash, id, n) — 4 scalars, no arrays
    tok = base.select("id", "n", "blk", F.explode("sh").alias("s"))
    a = tok.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"),
                   "blk", "s")
    b = tok.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"),
                   "blk", "s")
    overlaps = (
        a.join(b, ["blk", "s"])
        .filter(F.col("id_a") < F.col("id_b"))
        # lossless two-int size prune (t_eff slack): cuts the agg
        # input, never a qualifying pair
        .filter((F.col("n_a") >= F.col("n_b") * t_eff)
                & (F.col("n_b") >= F.col("n_a") * t_eff))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    inter = F.col("__i")
    union = F.col("n_a") + F.col("n_b") - inter
    out = (
        overlaps.withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )
    return _finalize_pairs(out, base)


def connected_components(edges: DataFrame, vertices: DataFrame,
                         id_col: str = "id",
                         max_iterations: int = 50) -> DataFrame:
    """Min-label connected components over an undirected edge list —
    (id, cluster) where cluster = smallest member id.

    Iterative label propagation: each round every vertex takes the min
    of its own label and its neighbours' labels (one join + one
    hash-agg per round), stopping when a round changes nothing.
    Rounds needed = graph diameter; near-duplicate clusters are
    near-cliques (diameter ≤ ~3), so this converges in 2-4 rounds at
    any corpus size — the standard large-scale CC recipe.  Each round
    shuffles only (id, label) pairs; the loop is driver-side control
    flow over lazily-built plans; the convergence check is an observed
    count of moved labels on the round's checkpoint job, so a round
    runs no extra action.

    Long-chain caveat: propagation moves labels ONE hop per round, so
    a pathological path-shaped graph of diameter d needs d rounds.
    Dedup similarity graphs never look like that (similarity is
    near-transitive), but if this operator is ever pointed at a
    general graph with diameter > ``max_iterations``, it raises
    RuntimeError instead of silently returning unconverged labels —
    switch to the alternating large-star/small-star algorithm
    (Kiveris et al., "Connected Components in MapReduce and Beyond"),
    which contracts chains in O(log d) rounds, if that ever fires.
    """
    sym = edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")) \
        .unionByName(edges.select(F.col("id_b").alias("src"),
                                  F.col("id_a").alias("dst")))
    # checkpoint (not persist) per round: iterative plans otherwise
    # grow one join-layer of LINEAGE per round, and past ~10 rounds the
    # driver dies just materializing the plan tree.  Checkpointing
    # truncates lineage so every round's plan is constant-size.
    labels = vertices.select(F.col(id_col).alias("id"),
                             F.col(id_col).alias("label")) \
        .localCheckpoint(eager=True)
    changed = 0
    for _round in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.src == labels.id)
            .groupBy("dst").agg(F.min("label").alias("nlabel"))
        )
        # a label changes exactly when nlabel < label; the count is
        # observed on the checkpoint's own job
        moved = Observation()
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.dst, "left")
            .observe(moved, F.count_if(F.col("nlabel") < F.col("label"))
                     .alias("changed"))
            .select(labels.id,
                    F.least("label", F.coalesce("nlabel", "label"))
                    .alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = moved.get["changed"]
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        labels.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"rounds ({changed} labels still moving) — graph diameter "
            "exceeds the dedup-clique assumption; use an "
            "alternating-star variant for general graphs")
    return labels.select("id", F.col("label").alias("cluster"))


def dedup_clusters(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   min_jaccard: float = 0.7, **minhash_kwargs) -> DataFrame:
    """Full dedup decision table: near-duplicate pairs (minhash LSH,
    exact-verified) unioned into clusters via connected components,
    one representative (min id) kept per cluster —
    (doc_id, cluster_id, keep).  Transitive: A~B and B~C puts A,B,C in
    one cluster even when A~C itself misses the threshold (the
    FineWeb/RefinedWeb dedup semantics)."""
    pairs = minhash_near_duplicates(df, text_col, id_col,
                                    min_jaccard=min_jaccard,
                                    **minhash_kwargs)
    comps = connected_components(pairs, df.select(id_col), id_col=id_col)
    return comps.select(
        F.col("id").alias(id_col),
        F.col("cluster").alias("cluster_id"),
        (F.col("id") == F.col("cluster")).alias("keep"),
    )


def dedup_clusters_oracle_sql(min_jaccard: float,
                              shingle_k: int = 3) -> str:
    """DuckDB twin of dedup_clusters: the same exact all-pairs Jaccard
    edge set, components via a recursive reachability CTE (fine at
    oracle scale; clusters are tiny), cluster = min reachable id."""
    return f"""
        WITH RECURSIVE sh AS ({_shingles_sql(shingle_k)}),
        p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 len(list_intersect(a.sh, b.sh)) AS i,
                 len(a.sh) AS na, len(b.sh) AS nb
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        ),
        edges AS (
          SELECT id_a, id_b FROM p
          WHERE round(i * 1.0 / (na + nb - i), 4) >= {min_jaccard}
        ),
        sym AS (
          SELECT id_a AS src, id_b AS dst FROM edges
          UNION ALL
          SELECT id_b AS src, id_a AS dst FROM edges
        ),
        reach AS (
          SELECT doc_id AS v, doc_id AS l FROM documents
          UNION
          SELECT s.dst AS v, r.l
          FROM reach r JOIN sym s ON s.src = r.v
        )
        SELECT v AS doc_id,
               min(l) AS cluster_id,
               v = min(l) AS keep
        FROM reach GROUP BY v ORDER BY v
    """


# ── DuckDB oracles (exact all-pairs formulations of the LSH operators) ──

def _shingles_sql(shingle_k: int = 3, with_cols: str = "") -> str:
    """DuckDB CTE body producing (doc_id, sh) — the exact string-level
    twin of word_shingles(); Jaccard over distinct shingle STRINGS
    equals Jaccard over their xxhash64 images (no collisions)."""
    km1 = shingle_k - 1
    return f"""
      SELECT doc_id{with_cols},
        CASE WHEN len(words) >= {shingle_k} THEN
          list_distinct(list_transform(
            generate_series(1, greatest(len(words) - {km1}, 1)),
            i -> array_to_string(words[i:i+{km1}], ' ')))
        ELSE [array_to_string(words, ' ')] END AS sh
      FROM (SELECT doc_id{with_cols},
                   string_split_regex(lower(trim(text)), '\\s+') AS words
            FROM documents)
    """


def jaccard_pairs_oracle_sql(min_jaccard: float, shingle_k: int = 3,
                             same_col: Optional[str] = None) -> str:
    """Brute-force all-pairs shingle Jaccard ≥ threshold.  Exact oracle
    for BOTH minhash_near_duplicates (whose banding has recall ≈ 1 for
    the high-J pairs the verify threshold keeps) and ngram_jaccard_pairs
    (whose size-band blocking is lossless by construction)."""
    extra = f", {same_col}" if same_col else ""
    cond = f" AND a.{same_col} = b.{same_col}" if same_col else ""
    return f"""
        WITH sh AS ({_shingles_sql(shingle_k, extra)}),
        p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 len(list_intersect(a.sh, b.sh)) AS i,
                 len(a.sh) AS na, len(b.sh) AS nb
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id{cond}
        )
        SELECT id_a, id_b,
               round(i * 1.0 / (na + nb - i), 4) AS jaccard
        FROM p
        WHERE round(i * 1.0 / (na + nb - i), 4) >= {min_jaccard}
        ORDER BY id_a, id_b
    """


def simhash_oracle_sql(max_hamming: int) -> str:
    """Brute-force all-pairs SimHash Hamming distance in DuckDB.

    Recomputes the _make_simhash_udf signature bit-for-bit:
    ``md5_number_upper(tok)`` == Python
    ``int.from_bytes(md5(tok).digest()[:8], 'little')`` (verified), the
    weighted bit votes use token counts, and the 64-bit signature is
    assembled in BIGINT-safe halves with an explicit two's-complement
    fold for bit 63 (matching numpy int64 wraparound).
    """
    vote = ("2 * list_sum(list_transform(th, s -> s.c * "
            "CAST((s.h >> CAST({k} AS UBIGINT)) & 1 AS BIGINT))) - n_tok > 0")
    lo = ("list_sum(list_transform(range(0, 32), k -> CASE WHEN "
          + vote.format(k="k")
          + " THEN (CAST(1 AS BIGINT) << CAST(k AS INT)) ELSE 0 END))")
    mid = ("list_sum(list_transform(range(32, 63), k -> CASE WHEN "
           + vote.format(k="k")
           + " THEN (CAST(1 AS BIGINT) << CAST(k - 32 AS INT)) ELSE 0 END))")
    b63 = "CASE WHEN " + vote.format(k="63") + " THEN 1 ELSE 0 END"
    return f"""
        WITH tk AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(coalesce(text, '')),
                                                '\\s+'),
                             x -> x <> '') AS toks
          FROM documents
        ), u AS (
          SELECT doc_id, len(toks) AS n_tok,
                 list_transform(list_distinct(toks),
                   t -> struct_pack(h := md5_number_upper(t),
                                    c := len(list_filter(toks, x -> x = t))))
                   AS th
          FROM tk
        ), sig AS (
          -- CAST to BIGINT: the arithmetic widens to HUGEINT, and
          -- xor/bit_count on HUGEINT is 128-bit two's complement —
          -- a mixed-sign pair would gain 64 phantom differing bits
          SELECT doc_id,
                 CAST(CASE WHEN n_tok = 0 THEN 0 ELSE
                   coalesce({lo}, 0)
                   + coalesce({mid}, 0) * 4294967296
                   + ({b63}) * (-9223372036854775807 - 1)
                 END AS BIGINT) AS simhash
          FROM u
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
        ORDER BY id_a, id_b
    """


# ── SimHash ──────────────────────────────────────────────────────────────

def _make_simhash_udf():
    """64-bit SimHash pandas_udf — created lazily so the module imports
    cleanly on executors (no DDL parsing at import time).

    Token hashing is md5-truncated-to-64-bits (C speed, deterministic
    across processes — Python's hash() is per-run salted; two crc32
    passes are NOT independent: CRC is affine, so the high word would
    be a deterministic function of the low word and SimHash quality
    collapses — measured as a 3× near-dup-pair explosion).  Weighted
    votes come from token COUNTS so each distinct token hashes once."""

    def simhash(texts: pd.Series) -> pd.Series:
        import webpeel_spark  # noqa: F401 — stat-keys zip rescans per task
        from collections import Counter
        from hashlib import md5

        import numpy as np

        out = np.zeros(len(texts), dtype=np.int64)
        # batch-level token vocabulary: corpus tokens repeat heavily
        # (stopwords), so each distinct token is md5-hashed and
        # bit-expanded ONCE per Arrow batch, not once per document —
        # measured ~3× on the sf0.1 documents table
        toks_per_doc = [t.lower().split() if t else [] for t in texts]
        vocab: dict = {}
        for toks in toks_per_doc:
            for tok in toks:
                if tok not in vocab:
                    vocab[tok] = len(vocab)
        if not vocab:
            return pd.Series(out)
        hashes = np.fromiter(
            (int.from_bytes(md5(tok.encode("utf-8")).digest()[:8], "little")
             for tok in vocab),
            dtype=np.uint64, count=len(vocab),
        )
        bits = ((hashes[:, None] >> np.arange(64, dtype=np.uint64)) & 1
                ).astype(np.int64)                      # (V, 64)
        powers = np.uint64(1) << np.arange(64, dtype=np.uint64)
        for row_i, toks in enumerate(toks_per_doc):
            if not toks:
                continue
            counts = Counter(toks)
            idx = np.fromiter((vocab[t] for t in counts),
                              dtype=np.int64, count=len(counts))
            weights = np.fromiter(counts.values(),
                                  dtype=np.int64, count=len(counts))
            votes = weights @ bits[idx] * 2 - len(toks)
            # uint64 sum wraps like the reference's per-bit OR loop
            sig = ((votes > 0).astype(np.uint64) * powers).sum(
                dtype=np.uint64)
            out[row_i] = np.int64(sig)
        return pd.Series(out)

    return pandas_udf(simhash, "long")



def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """(id, simhash) per row, in ``df``'s partitioning.  No fan-out:
    simhash_near_duplicates feeds it the exact-collapse aggregate,
    whose shuffle already spreads the rows, and under AQE the
    ``getNumPartitions()`` probe of ``fan_out`` would run that shuffle
    as an extra job."""
    simhash64 = _make_simhash_udf()
    return df.select(
        F.col(id_col).alias("id"), simhash64(F.col(text_col)).alias("simhash"))


# below this corpus size the single-band plan (r=1: 8 tables × 8-bit
# keys) is used: worst-case candidate volume n²/256 per table stays
# ≤ ~12M rows total at n=20k, far under shuffle pain, and banding
# explodes 3.5× fewer rows than the 28 pair-tables (the r3 bench paid
# +13% warm for pair-tables on a 5k-doc corpus that never needed
# them).  Both regimes are pigeonhole-exact for Hamming ≤ n_bands − r.
_SIMHASH_SMALL_N = 20_000


def _simhash_band_plan(max_hamming: int, max_tables: int = 128,
                       max_r: int = 4, n_docs: Optional[int] = None):
    """Manku-style band-combination plan for exact Hamming-≤h recall.

    Split the 64 bits into ``n_bands`` equal bands.  A pair at Hamming
    ≤ h differs in at most h bands, so ≥ n_bands − h bands are intact
    (pigeonhole); any pair therefore shares the exact key of at least
    one r-subset of bands for every r ≤ n_bands − h.  Keying tables on
    r-subsets instead of single bands widens the key space from
    2^width to 2^(r·width) — for h=6 that is C(8,2)=28 tables with
    16-bit keys instead of 8 tables with 8-bit keys, cutting worst-case
    candidate volume ~256× while staying lossless (Manku, Jain &
    Sarma, "Detecting Near-Duplicates for Web Crawling", WWW'07 §3).

    Returns (width, combos): combos is the list of band-index tuples;
    r is chosen as the largest value with r ≤ n_bands − h,
    C(n_bands, r) ≤ max_tables and r ≤ max_r.

    r4: when ``n_docs`` is known and small (≤ _SIMHASH_SMALL_N) the
    plan stays at r=1 — single-band tables are already lossless
    (h ≤ n_bands − 1) and the wider key space buys nothing at toy
    scale while tripling the banding-explode volume.  Recovers the
    r3 +13% warm regression without giving up the at-scale guarantee.
    """
    from itertools import combinations
    from math import comb

    n_bands = 8
    while n_bands <= max_hamming and n_bands < 64:
        n_bands *= 2
    width = 64 // n_bands
    if n_docs is not None and n_docs <= _SIMHASH_SMALL_N:
        max_r = 1
    r = 1
    while (r + 1 <= max_r and r + 1 <= n_bands - max_hamming
           and comb(n_bands, r + 1) <= max_tables):
        r += 1
    return width, list(combinations(range(n_bands), r))


def simhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            max_hamming: int = 3,
                            bucket_cap: int = 10000,
                            metrics: Optional[dict] = None) -> DataFrame:
    """Near-dup pairs by SimHash banding, then exact popcount verify.

    Scale shape (the round-2 8×8-bit single-band keys were the last
    remaining scale-killer — only 256 key values per band meant
    O(n²/256) candidates and every bucket blowing past ``bucket_cap``
    at ≥10⁶ docs):

    0. exact-dup collapse (_collapse_exact_groups, shared with
       minhash) — identical texts are Hamming-0 pairs and the single
       biggest bucket flooders; one md5 hash-agg keeps one
       representative per group, re-expanded at the end.  A NULL text
       collapses as '' (signature 0, as in simhash_oracle_sql);
    1. Manku band-pair tables — see _simhash_band_plan: for
       Hamming ≤ 6 that is C(8,2)=28 tables keyed on 16 intact bits
       (65,536-value key space), still pigeonhole-exact, so the output
       EQUALS the brute-force all-pairs result, which is what the
       DuckDB oracle checks;
    2. candidates via capped_bucket_pairs (count-agg + self-join — no
       collect_set, degenerate buckets dropped with a REPORTED metric);
    3. exact bit_count verify on the surviving candidates.

    Measured caveat (round-9 soak, BENCH_dedup_scale_r09.json): on a
    shared-vocabulary corpus the simhash BIT POPULATION is biased
    (common terms dominate the per-bit sums — per-bit means up to
    0.955 vs the nominal 0.5), so some band keys hold a constant
    FRACTION of the corpus at any scale and always exceed the cap;
    the drop is reported and cost 0.2-0.4% recall on planted one-word
    edits at 4×/16× bench scale, while minhash (one min per hash over
    DISTINCT shingles — immune to population bias) measured 1.0.
    Prefer minhash when recall matters; simhash's advantage is the
    8-byte fingerprint.

    The band plan adapts to corpus size: single-band tables below
    _SIMHASH_SMALL_N docs, Manku pair-tables above — both lossless,
    same output either way.  The size comes from counting the
    PERSISTED signature table (computed once, needed anyway), not the
    raw input — a df.count() on arbitrary upstream lineage (e.g. text
    straight out of the extraction UDF) would re-execute that whole
    lineage as an extra job.
    """
    docs, members = _collapse_exact_groups(
        df.select(F.col(id_col),
                  F.coalesce(F.col(text_col), F.lit("")).alias(text_col)),
        text_col, id_col)
    sigs = simhash_signatures(docs, text_col="__text", id_col="id").persist()
    # materializes the signature UDF exactly once; banding + the
    # candidate self-join below all reuse the cached (id, simhash)
    # rows (narrow: 2 longs/row)
    n_docs = sigs.count()
    width, combos = _simhash_band_plan(max_hamming, n_docs=n_docs)
    mask = (1 << width) - 1

    def band_key(i: int) -> Column:
        return F.shiftrightunsigned(F.col("simhash"), i * width) \
            .bitwiseAND(F.lit(mask))

    def combo_key(combo) -> Column:
        # concatenated intact-band bits: key = Σ band_key(b_p) << p·width
        key = band_key(combo[0])
        for p, i in enumerate(combo[1:], start=1):
            key = key.bitwiseOR(F.shiftleft(band_key(i), p * width))
        return key

    keyed = sigs.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("band"), combo_key(c).alias("key"))
            for t, c in enumerate(combos)
        ])).alias("bb"),
    ).select("id", "simhash", "bb.band", "bb.key")
    # no second persist needed: keyed recomputes as a narrow explode
    # of the already-cached sigs rows, so the multi-consumer self-join
    # never re-runs the SimHash UDF

    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    # the popcount verify needs only the two carried simhash scalars,
    # so it runs as the map-side pair_filter BEFORE the pair-dedupe
    # exchange (r11: the biased-bit buckets emit 87M raw candidate
    # rows at sf1.0 that verify down to 646k pairs — shuffling the
    # unverified volume through dropDuplicates was the operator's
    # dominant cost).  Identical output: the predicate is a
    # deterministic function of the pair, so filter∘distinct ≡
    # distinct∘filter.
    candidates = capped_bucket_pairs(keyed, ["band", "key"], bucket_cap,
                                     metrics=metrics,
                                     extra_cols=["simhash"],
                                     pair_filter=hamming <= max_hamming,
                                     pair_project=[hamming.alias("hamming")])
    # the popcount already ran as pair_filter and rides the dedupe as
    # the projected 4-byte hamming (not the two 8-byte signatures) —
    # functionally dependent on the pair, so the dedupe survivor is
    # deterministic and the output identical (same-window A/B:
    # 7.61 -> 6.92 s at sf1.0)
    rep_pairs = candidates.select("id_a", "id_b", "hamming")
    return _finalize_pairs(
        _expand_group_pairs(rep_pairs, members, "hamming", 0), sigs)
