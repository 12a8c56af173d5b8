"""WARC files → the engine's pages table (url, warc_ts, html).

Real Common Crawl arrives as millions of ~1 GB ``.warc.gz`` segments.
The scale-correct Spark shape is NOT ``binaryFile`` (which
materializes a whole segment as one row): distribute the *paths* and
stream-parse each file inside an Arrow-batched stage, yielding pages
in bounded batches — one task per segment, constant memory per task,
scan parallelism = number of segments (millions at 10^12 rows).

    pages = read_warc(spark, "/data/cc/segments/*.warc.gz")
    out = extract_pages(pages)

Composes directly with ``extract_pages`` / the checkpointed runner;
``warc_ts`` parses the ISO WARC-Date so event-time streaming rollups
work unchanged.
"""

from __future__ import annotations

import glob as _glob
import zlib
from typing import Iterator, List, Optional, Union

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_PAGES_SCHEMA = "url string, warc_ts timestamp, html binary"
_BATCH = 64  # pages per yielded Arrow batch — bounds task memory


def _remote_manifest_lines(spark: SparkSession, path: str) -> List[str]:
    """Read a small manifest file from any Hadoop-visible filesystem
    (s3a://, hdfs://, file://) on the driver — CC's warc.paths.gz is a
    few MB, so one driver-side read is the right shape; the segments
    it lists stay executor-side."""
    import gzip

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    stream = fs.open(p)
    baos = jvm.java.io.ByteArrayOutputStream()
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536, True)
    data = bytes(baos.toByteArray())
    if path.endswith(".gz"):
        data = gzip.decompress(data)
    return [l.strip() for l in data.decode("utf-8").splitlines()
            if l.strip()]


def _expand(paths: Union[str, List[str]],
            manifest_prefix: str = "",
            spark: Optional[SparkSession] = None) -> List[str]:
    """Segment list from path specs.

    - ``warc.paths`` / ``*.paths.gz`` entries are Common-Crawl-style
      MANIFESTS (one segment path per line, rebased onto
      ``manifest_prefix``) — the object-store-correct listing at real
      CC scale, where millions of segments live behind ``s3a://`` and
      a filesystem glob cannot enumerate them;
    - entries with a ``://`` scheme pass through verbatim (resolved by
      whatever filesystem the executor's opener reaches);
    - local glob patterns expand; a pattern matching NOTHING raises
      instead of silently producing an empty pages table (a typo'd
      path must fail the run, not succeed with zero rows);
    - literal local paths pass through — a missing file now fails at
      open time inside the task (the corruption guard no longer
      swallows ``FileNotFoundError``).
    """
    if isinstance(paths, str):
        paths = [paths]
    out: List[str] = []
    for p in paths:
        base = p[:-3] if p.endswith(".gz") else p
        if base.endswith(".paths"):
            # manifest check comes BEFORE the scheme passthrough: a
            # remote manifest (s3a://…/warc.paths.gz) is read on the
            # driver via the Hadoop FS API, local ones with gzip/open
            if "://" in p:
                if spark is None:
                    raise ValueError(
                        f"remote manifest {p!r} needs a SparkSession "
                        f"(Hadoop FS read) — call through read_warc")
                out.extend(manifest_prefix + l
                           for l in _remote_manifest_lines(spark, p))
            else:
                from webpeel_spark.pure.warc import read_manifest
                out.extend(read_manifest(p, manifest_prefix))
        elif "://" in p:
            out.append(p)
        elif _glob.has_magic(p):
            hits = sorted(_glob.glob(p))
            if not hits:
                raise FileNotFoundError(
                    f"WARC glob matched no files: {p!r}")
            out.extend(hits)
        else:
            out.append(p)
    return out


def read_warc(spark: SparkSession, paths: Union[str, List[str]],
              num_partitions: Optional[int] = None,
              manifest_prefix: str = "") -> DataFrame:
    """(url, warc_ts, html) rows from .warc / .warc.gz files.

    Each input file is one unit of parallelism; ``num_partitions``
    spreads files across tasks (default: one partition per file, the
    right shape when files are segment-sized).  ``paths`` may include
    ``warc.paths(.gz)`` manifest files (Common Crawl's published
    segment listing) — local or behind any Hadoop filesystem — whose
    entries are rebased onto ``manifest_prefix`` (e.g.
    ``s3a://commoncrawl/``)."""
    files = _expand(paths, manifest_prefix, spark)
    if not files:
        return spark.createDataFrame([], _PAGES_SCHEMA)
    n = num_partitions or len(files)
    paths_df = spark.createDataFrame([(p,) for p in files], "path string") \
        .repartition(n, "path")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from webpeel_spark.pure.warc import iter_warc_responses

        import gzip
        import logging

        cols = ["url", "warc_ts", "html"]
        for pdf in it:
            rows = []
            for path in pdf["path"]:
                # open EAGERLY, outside the corruption guard: a
                # missing/unreadable segment (FileNotFoundError /
                # PermissionError — OSError subclasses, like
                # BadGzipFile) must FAIL the task, not be mistaken for
                # corruption and skipped into an empty pages table.
                records = iter_warc_responses(path)
                # a corrupted gzip member surfaces mid-iteration — as
                # BadGzipFile for header corruption, zlib.error for
                # corrupted deflate data, EOFError for truncation.
                # Records read before the corruption point are kept,
                # the rest of the segment is skipped WITH A LOG LINE,
                # and the task survives.
                try:
                    for rec in records:
                        ts = pd.to_datetime(rec.warc_date, utc=True,
                                            errors="coerce")
                        rows.append((rec.target_uri,
                                     None if ts is pd.NaT
                                     else ts.tz_localize(None),
                                     rec.body))
                        if len(rows) >= _BATCH:
                            yield pd.DataFrame(rows, columns=cols)
                            rows = []
                except (gzip.BadGzipFile, zlib.error, EOFError) as e:
                    logging.getLogger("webpeel_spark.warc").warning(
                        "skipping corrupted tail of WARC segment %s "
                        "(%s: %s)", path, type(e).__name__, e)
                    continue
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return paths_df.mapInPandas(batches, _PAGES_SCHEMA)
