"""SparkSession factory tuned for the extraction workload.

Scale rationale (100 TB / 1000-executor target, tested on local[N]):

* AQE on — runtime coalescing + skew-split of shuffle partitions.
* ``spark.sql.execution.arrow.maxRecordsPerBatch`` tuned LOW (128):
  html payloads are multi-KB..MB blobs; the default 10k-record batches
  would hold GBs per Python worker.  128 rows × ~50 KB ≈ 6 MB/batch.
* ``spark.sql.files.maxPartitionBytes`` 64 MB so a parquet scan of big
  binary blobs yields enough input splits to feed all cores.
* ``spark.sql.parquet.compression.codec`` zstd for the output tables.
* ``spark.sql.codegen.cache.maxEntries`` 1000 (default 100): the JVM
  keeps the classes it compiled from generated code in one LRU of this
  size.  One round of the five dedup and similarity calls (exact,
  minhash, simhash, ngram, cosine) needs ~230 distinct classes, so at
  100 each class is evicted before its next use and every round
  compiles ~200 classes again; an extraction pass needs 19.  1000 is
  ~4x the dedup working set.  It is a static SQL conf: the code
  generator reads it once, when the JVM's first session generates
  code, so it belongs in the builder — ``spark.conf.set`` cannot change
  it, nor can a later session in the same JVM.
"""

from __future__ import annotations

import os
from pyspark.sql import SparkSession


def get_spark(app_name: str = "webpeel-spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              state_store: str = "hdfs") -> SparkSession:
    """``state_store="rocksdb"`` selects the RocksDB state-store
    provider with changelog checkpointing — the configuration the
    streaming change tracker documents for 10^12-url state (the
    default in-memory HDFS-backed store holds every key on-heap;
    RocksDB spills to local disk and checkpoints deltas).  The
    provider conf is re-asserted on the returned session (not only on
    the builder): ``getOrCreate`` reuses an existing session and
    ignores builder confs on it, so without the explicit ``conf.set``
    a ``state_store="rocksdb"`` call would leak RocksDB into every
    later default-``hdfs`` call in the same process — and a stateful
    query resuming a checkpoint under the wrong provider fails to
    load its state.  The provider is read per-query at query start."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores * 2, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "128")
        .config("spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if state_store == "rocksdb":
        provider = ("org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider")
    elif state_store == "hdfs":
        provider = ("org.apache.spark.sql.execution.streaming.state."
                    "HDFSBackedStateStoreProvider")
    else:
        raise ValueError(f"unknown state_store: {state_store!r}")
    spark = builder.getOrCreate()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                   provider)
    if state_store == "rocksdb":
        # checkpoint per-batch deltas instead of full snapshots — at
        # 10^12 keys a full-snapshot upload per micro-batch is the
        # bottleneck, changelogs are O(batch), not O(state)
        spark.conf.set("spark.sql.streaming.stateStore.rocksdb."
                       "changelogCheckpointing.enabled", "true")
    return spark
