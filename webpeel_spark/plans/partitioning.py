"""Partitioning, skew and salting strategies.

North-rule requirements: explicit repartitioning by hash(url) with
salting for skewed hosts, AQE-managed shuffles.  At 10^12 documents a
handful of hosts (wikipedia, amazon, …) dominate a Common-Crawl-style
table; any *host-keyed* shuffle (per-host stats, host-keyed joins)
hot-spots without salting.  Document-keyed work does NOT need salting —
``xxhash64(url)`` is uniform — so the extraction stage itself
repartitions by url hash only (operators/extract.py).

This module provides the host-keyed machinery:

* ``url_host`` — host from url via built-in ``parse_url`` (JVM-side).
* ``find_hot_keys`` — pre-pass hash-agg ``groupBy(key).count()``
  returning keys above a frequency threshold (a real partial+final
  combine; the result is a tiny driver-side list → broadcast).
* ``salted_key_agg`` — two-stage aggregation: partial by (key, salt),
  final by key, where salt is ``pmod(xxhash64(...), k)`` for hot keys
  and 0 otherwise.  Turns one k-times-skewed reducer into k uniform
  ones.
* ``find_hot_hosts`` / ``salted_host_agg`` — the same two over the
  ``url_host`` column, salted by the url.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def url_host(col: str = "url"):
    return F.lower(F.parse_url(F.col(col), F.lit("HOST")))


def fan_out(df: DataFrame) -> DataFrame:
    """Ensure enough partitions ahead of a CPU-heavy narrow stage.

    A small single-file parquet scans as ONE split (one task — observed:
    a 5k-doc minhash running 55 s single-threaded).  On a real many-file
    100 TB table the scan is already wide and this is a no-op; the
    explicit round-robin repartition is also the correct cluster
    pattern when a cheap scan feeds an expensive per-row stage (shuffle
    cost ≪ stage cost).  Explicit numPartitions is NOT coalesced by AQE.

    The partition probe has a cost: under AQE, ``df.rdd`` on a plan
    that contains an exchange runs that exchange as a job of its own,
    before the real plan runs it again.
    """
    partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    if df.rdd.getNumPartitions() >= partitions:
        return df
    return df.repartition(partitions)


def find_hot_keys(df: DataFrame, key_col: str,
                  threshold_fraction: float = 0.01) -> List:
    """Generic hot-key pre-pass: keys holding more than the threshold
    fraction of rows (hash-agg with map-side combine, tiny output).
    One pass: the total comes from the aggregated table, not a second
    full scan."""
    counts = df.groupBy(key_col).count().persist()
    try:
        total = counts.agg(F.sum("count")).first()[0] or 0
        if total == 0:
            return []
        threshold = max(1, int(total * threshold_fraction))
        rows = counts.filter(F.col("count") > threshold).collect()
    finally:
        counts.unpersist()
    return [r[key_col] for r in rows if r[key_col] is not None]


def salted_key_agg(df: DataFrame, key_col: str, agg_exprs: dict,
                   hot_keys: Sequence, k: int = 16,
                   salt_col=None) -> DataFrame:
    """Two-stage skew-safe aggregation on an arbitrary key column.

    Hot keys get a salt derived from a uniform row hash so one
    k-times-skewed reducer becomes k uniform ones; stage 2 combines
    partials by key.  ``agg_exprs`` maps output column →
    ('sum'|'count'|'max'|'min', input col).

    The salt MUST be deterministic: a shuffle key built from a
    nondeterministic expression (monotonically_increasing_id, rand) can
    re-salt rows differently when a map task is recomputed after a
    shuffle-fetch failure, double-counting or dropping rows in the
    hot-key partials (the SPARK-23207 failure class).  Default: hash
    the key plus the non-count agg input expressions — stable columns
    the aggregation reads anyway (cheap scalars, never the multi-KB
    payload columns a full-row hash would burn).  ``salt_col`` names
    an explicit cheap stable column/expression instead (required when
    every agg is a count, where no scalar input exists to vary on).
    """
    if hot_keys:
        is_hot = F.col(key_col).isin(list(hot_keys))
    else:
        is_hot = F.lit(False)
    if salt_col is None:
        scalar_inputs = [F.col(c) if isinstance(c, str) else c
                         for fn, c in agg_exprs.values()
                         if fn != "count"]
        if not scalar_inputs:
            raise ValueError(
                "salted_key_agg: count-only aggregations carry no "
                "scalar input to derive a deterministic salt from; "
                "pass salt_col= a cheap stable column (e.g. an id or "
                "timestamp column of df)")
        salt_src = F.xxhash64(F.col(key_col), *scalar_inputs)
    else:
        salt_src = F.xxhash64(
            F.col(salt_col) if isinstance(salt_col, str) else salt_col)
    salt = F.when(is_hot, F.pmod(salt_src, F.lit(k))).otherwise(F.lit(0))
    salted = df.withColumn("__salt", salt.cast("int"))
    partial_aggs, final_aggs = _two_stage_aggs(agg_exprs)
    partial = salted.groupBy(key_col, "__salt").agg(*partial_aggs)
    return partial.groupBy(key_col).agg(*final_aggs)


def _two_stage_aggs(agg_exprs: dict):
    partial_aggs = []
    final_aggs = []
    for out, (fn, col) in agg_exprs.items():
        if fn == "count":
            partial_aggs.append(F.count(col if col != "*" else F.lit(1)).alias(out))
            final_aggs.append(F.sum(out).alias(out))
        elif fn == "sum":
            partial_aggs.append(F.sum(col).alias(out))
            final_aggs.append(F.sum(out).alias(out))
        elif fn == "max":
            partial_aggs.append(F.max(col).alias(out))
            final_aggs.append(F.max(out).alias(out))
        elif fn == "min":
            partial_aggs.append(F.min(col).alias(out))
            final_aggs.append(F.min(out).alias(out))
        else:
            raise ValueError(f"unsupported agg {fn}")
    return partial_aggs, final_aggs


def find_hot_hosts(df: DataFrame, threshold_fraction: float = 0.01,
                   url_col: str = "url") -> List[str]:
    """Hosts holding more than ``threshold_fraction`` of all rows;
    an empty or NULL host is never hot."""
    hosts = df.select(url_host(url_col).alias("host"))
    return [h for h in find_hot_keys(hosts, "host", threshold_fraction) if h]


def salted_host_agg(df: DataFrame, agg_exprs: dict, hot_hosts: Sequence[str],
                    k: int = 16, url_col: str = "url") -> DataFrame:
    """Two-stage skew-safe per-host aggregation: ``salted_key_agg`` on
    ``host``, where hot hosts split k ways on a salt hashed from the url.
    avg = sum/count composed by the caller.
    """
    return salted_key_agg(df.withColumn("host", url_host(url_col)), "host",
                          agg_exprs, hot_hosts, k, salt_col=url_col)
