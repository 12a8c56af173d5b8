#!/usr/bin/env python3
"""The repository benchmark: seeded workloads on ``local[nproc]``.

Run from the repository root:

    python3 perfbench/run.py --workload extract --seed 1 \\
        --seconds 5 --trace 0

One driver process runs one workload as a closed loop with a single
client: a pass (the workload's operator calls, in order) starts only
when the previous one has finished.  ``--trace 0`` prints the
end-to-end metrics of BENCHMARK.json; ``--trace 1`` is the separate
traced run that prints the per-layer metrics.  Both check the outputs
against independent references (see checks.py) outside every timed
region.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
are a readable report.

Everything the run writes (inputs cached per seed and size, Spark
scratch, event logs, spans) goes under ``.perfbench_work/`` in the
repository root.  README.md in this directory lists the workloads, the
metrics and which end-to-end metric each layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
from typing import Dict, List, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
NPROC = len(os.sched_getaffinity(0))
PARTITIONS = 2 * NPROC  # extraction fan-out, as bench.py uses
SETUPS = 3  # session set-ups per run; setup_s reports their median


def _configure_environment() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    WORK, and let the workers import the package from ROOT."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # measure the default executor-cache mode of the LSH operators
    os.environ.pop("SPARK_GRAFT_SPILL_DIR", None)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(java),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote("spark.sql.warehouse.dir="
                              + os.path.join(WORK, "warehouse")),
        "--conf", shlex.quote(f"spark.hadoop.hadoop.tmp.dir={tmp}"),
        "pyspark-shell",
    ])


def start_session(properties: Optional[Dict[str, str]] = None):
    """``get_spark`` at ``local[nproc]``.  ``properties`` are set as JVM
    system properties first, which a new SparkContext reads as config —
    how the traced half of a run turns on the event log in the JVM the
    untraced half already warmed."""
    from pyspark import SparkContext

    from webpeel_spark.session import get_spark

    for key, value in (properties or {}).items():
        SparkContext._jvm.java.lang.System.setProperty(key, value)
    spark = get_spark(app_name="perfbench", cores=NPROC)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark) -> None:
    """Start a Python worker in every task slot: an Arrow UDF job with
    two tasks per slot."""

    def identity(batches):
        yield from batches

    spark.sparkContext.setJobDescription("warmup")
    spark.range(0, PARTITIONS, 1, PARTITIONS).mapInPandas(identity, "id long").collect()
    spark.sparkContext.setJobDescription(None)


def stop_jvm() -> None:
    """Stop the active session, shut the JVM down and wait for it (its
    Python workers end with it)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def host_canary() -> float:
    """Spark-free single-core ``extract_page`` docs/s over 64 fixed
    pages: host weather, recorded as context and never as a metric."""
    from webpeel_spark.pure.pipeline import extract_page
    from webpeel_spark.sources.corpus import generate_rows

    rows = generate_rows(64, seed=7)
    for r in rows:
        extract_page(r["url"], r["html"])
    t0 = time.perf_counter()
    for r in rows:
        extract_page(r["url"], r["html"])
    return len(rows) / (time.perf_counter() - t0)


# ── workloads ────────────────────────────────────────────────────────────

class Workload:
    """One seeded workload.  ``run_pass`` makes the pass's operator calls
    as spans and returns (attempted, failed) for it; the first measured
    pass also keeps what ``check`` needs."""

    docs = 0
    warmups = 1  # untimed warm-up passes after the last set-up

    def __init__(self, seed: int):
        self.seed = seed
        self.inputs = os.path.join(WORK, "inputs")
        self.start_measuring()

    def start_measuring(self) -> None:
        """Forget the passes so far: ``keep`` and the per-call series
        (reported as medians) then describe measured passes only."""
        self.keep: Optional[dict] = None
        self.series: Dict[str, List[float]] = {}

    def record(self, name: str, seconds: float) -> None:
        self.series.setdefault(name, []).append(seconds)

    def prepare(self) -> None:
        raise NotImplementedError

    def run_pass(self, spark, spans, traced: bool) -> tuple:
        raise NotImplementedError

    def check(self, spark) -> List[str]:
        raise NotImplementedError

    def instrument(self, spans) -> None:
        """Install workload-specific spans for the traced passes."""

    def layer_metrics(self, log, spans, pass_id: int) -> Dict[str, float]:
        raise NotImplementedError

    def report(self) -> List[str]:
        return [f"{name} {statistics.median(v):.4f} s"
                for name, v in self.series.items()]


def _read(path: str, column: str) -> list:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=[column]).column(column).to_pylist()


def _page_sample(path: str, k: int, seed: int) -> Dict[str, bytes]:
    from checks import sample

    pages = dict(zip(_read(path, "url"), _read(path, "html")))
    return {u: pages[u] for u in sample(sorted(pages), k, seed)}


class Extract(Workload):
    """Each pass runs the two extraction paths over one page table:
    extract_pages + extraction_metrics (one Arrow UDF stage and a light
    rollup), then run_extraction_checkpointed into a fresh directory and
    a no-op resume over the finished directory."""

    pages_n = 800
    buckets = 8
    per_commit = 4

    def prepare(self) -> None:
        import inputs

        self.path = inputs.pages(self.inputs, self.pages_n, self.seed)
        self.docs = int(self.pages_n * 1.02)  # generate_rows appends 2% docx
        self.out_root = os.path.join(WORK, "ckpt")
        shutil.rmtree(self.out_root, ignore_errors=True)
        self.html_bytes = sum(len(h) for h in _read(self.path, "html"))
        self.traced: List[dict] = []

    def _checkpointed(self, spark, out_dir):
        from webpeel_spark.plans.checkpoint import run_extraction_checkpointed

        # an explicit snapshot id, as a deployment passes its table
        # snapshot: the default id hashes the analyzed plan, whose
        # expression ids differ between two reads of the same files, so
        # a resume through a fresh read would re-extract every bucket
        return run_extraction_checkpointed(
            spark, spark.read.parquet(self.path), out_dir, "bench",
            num_buckets=self.buckets, buckets_per_commit=self.per_commit,
            input_snapshot_id=os.path.basename(self.path))

    def run_pass(self, spark, spans, traced):
        from procs import cpu_delta, worker_cpu_seconds

        from webpeel_spark.operators.extract import extract_pages, extraction_metrics

        pages = spark.read.parquet(self.path)
        cpu0 = worker_cpu_seconds(os.getpid()) if traced else None
        t0 = time.perf_counter()
        rows = spans.call("extract", lambda: extraction_metrics(
            extract_pages(pages, num_partitions=PARTITIONS)).collect())
        t1 = time.perf_counter()
        cpu1 = worker_cpu_seconds(os.getpid()) if traced else None
        out_dir = os.path.join(self.out_root, "first" if self.keep is None else "pass")
        shutil.rmtree(out_dir, ignore_errors=True)
        summary = spans.call("ckpt.run", self._checkpointed, spark, out_dir)
        t2 = time.perf_counter()
        resume = spans.call("ckpt.resume", self._checkpointed, spark, out_dir)
        t3 = time.perf_counter()
        self.record("extract_s", t1 - t0)
        self.record("ckpt_s", t2 - t1)
        self.record("resume_s", t3 - t2)
        docs = sum(r["docs"] for r in rows)
        errors = sum(r["docs"] for r in rows if r["status"] == "error")
        if self.keep is None:
            self.keep = {"dir": out_dir, "resume": resume}
        if traced:
            self.traced.append({
                "rows_out": docs, "errors": errors,
                "cpu": cpu_delta(cpu0, cpu1), "size": _dir_size(out_dir)})
        failed = errors + abs(self.docs - docs)
        failed += summary["errors"] + abs(self.docs - summary["rows"])
        failed += bool(resume["processed_buckets"])
        return 2 * self.docs + 1, failed

    def check(self, spark) -> List[str]:
        import checks
        from pyspark.sql import functions as F

        from webpeel_spark.plans.checkpoint import read_progress

        failures = []
        out_dir = self.keep["dir"]
        progress = read_progress(spark, out_dir).agg(
            F.sum("row_count").alias("rows"), F.count("*").alias("buckets")).first()
        data = spark.read.parquet(os.path.join(out_dir, "data"))
        committed = data.count()
        if progress["rows"] != committed or committed != self.docs:
            failures.append(f"progress rows {progress['rows']}, committed "
                            f"{committed}, input {self.docs}")
        if progress["buckets"] != self.buckets:
            failures.append(f"{progress['buckets']} progress rows for "
                            f"{self.buckets} buckets")
        resume = self.keep["resume"]
        if resume["processed_buckets"] or len(resume["skipped_buckets"]) != self.buckets:
            failures.append("resume did not skip every bucket")
        # the committed rows are extract_pages output, written
        sample = _page_sample(self.path, 32, self.seed)
        rows = data.filter(F.col("url").isin(list(sample))) \
            .select("url", "status", "fingerprint").collect()
        return failures + checks.fingerprints(rows, sample)

    def instrument(self, spans) -> None:
        """Spans for the checkpoint plan's phases inside ``ckpt.run``:
        resume-state reads, each group's output write, the lineage
        read-back collect and the progress append."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from webpeel_spark.plans import checkpoint

        def top(*names):
            return lambda sp, *a, **k: bool(sp.stack) and \
                sp.records[sp.stack[-1]]["name"] in names

        for fn in ("completed_buckets", "stale_buckets"):
            spans.wrap(checkpoint, fn, "ckpt.state", top("ckpt.run", "ckpt.resume"))
        spans.wrap(DataFrameWriter, "parquet",
                   lambda w, path, *a, **k: "ckpt.write"
                   if os.path.basename(path) == "data" else "ckpt.progress",
                   top("ckpt.run"))
        spans.wrap(DataFrame, "collect", "ckpt.readback", top("ckpt.run"))

    def layer_metrics(self, log, spans, pass_id):
        s = log.summary(log.jobs("extract", pass_id))
        t = self.traced[pass_id]
        span_s = {"ckpt.run": 0.0, "ckpt.write": 0.0, "ckpt.readback": 0.0,
                  "ckpt.progress": 0.0}
        groups = 0
        for r in spans.records:
            if r["pass"] == pass_id and r["name"] in span_s:
                span_s[r["name"]] += r["end"] - r["start"]
                groups += r["name"] == "ckpt.write"
        written, files = t["size"]
        return {
            "scan.rows": s["scan_rows"], "scan.bytes": s["scan_bytes"],
            "scan.task_s": s["scan_task_s"],
            "extract.udf_task_s": s["heaviest_task_s"],
            "extract.udf_cpu_s": t["cpu"],
            "extract.skew_ratio": s["skew_ratio"],
            "extract.rows_in": s["scan_rows"], "extract.rows_out": t["rows_out"],
            "extract.error_rows": t["errors"],
            "extract.exchange_bytes": s["shuffle_bytes"],
            "extract.jobs": s["jobs"], "extract.stages": s["stages"],
            "ckpt.groups": groups,
            "ckpt.jobs": len(log.jobs("ckpt.run", pass_id)),
            "ckpt.group_s": span_s["ckpt.run"] / max(groups, 1),
            "ckpt.write_s": span_s["ckpt.write"],
            "ckpt.readback_s": span_s["ckpt.readback"],
            "ckpt.progress_s": span_s["ckpt.progress"],
            "ckpt.bytes_written": written,
            "ckpt.write_amp": written / self.html_bytes,
            "ckpt.files": files,
            "ckpt.resume_jobs": len(log.jobs("ckpt.resume", pass_id)),
            "ckpt.resume_s": self.series["resume_s"][pass_id],
        }


def _dir_size(path: str) -> tuple:
    """(bytes, files) of the data files under ``path`` (checksums and
    markers excluded)."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


DEDUP_OPS = ["exact", "minhash", "simhash", "ngram", "cosine"]
MINHASH_T = 0.3
NGRAM_T = 0.35
HAMMING = 6
COSINE_T = 0.95


class DedupHotkeys(Workload):
    """The dedup and similarity operators on a corpus with planted hot
    keys: exact_duplicate_groups, minhash, simhash and ngram over
    documents, cosine near-duplicates over embeddings."""

    docs_n = 2000
    vectors_n = 2000
    # the many-stage LSH plans keep getting faster (JIT) over several
    # executions: on a 4-core host the second pass still ran 9% slower
    # than the third, and passes three to five agreed within 5%
    warmups = 2

    def prepare(self) -> None:
        import inputs

        self.path, self.rows, self.planted = inputs.documents(
            self.inputs, self.docs_n, self.seed, hot=True)
        self.emb_path, self.ids, self.vecs = inputs.embeddings(
            self.inputs, self.vectors_n, self.seed)
        self.docs = self.docs_n
        self.traced: List[dict] = []
        self.recall: Optional[tuple] = None  # (found, eligible) planted pairs

    def run_pass(self, spark, spans, traced):
        from webpeel_spark.operators.dedup import (
            exact_duplicate_groups, minhash_near_duplicates, ngram_jaccard_pairs,
            simhash_near_duplicates)
        from webpeel_spark.operators.similarity import cosine_near_duplicate_pairs

        docs = spark.read.parquet(self.path)
        emb = spark.read.parquet(self.emb_path)
        m = {op: ({} if traced else None) for op in DEDUP_OPS}
        calls = {
            "exact": lambda: exact_duplicate_groups(docs),
            "minhash": lambda: minhash_near_duplicates(
                docs, min_jaccard=MINHASH_T, metrics=m["minhash"]),
            "simhash": lambda: simhash_near_duplicates(
                docs, max_hamming=HAMMING, metrics=m["simhash"]),
            "ngram": lambda: ngram_jaccard_pairs(
                docs, min_jaccard=NGRAM_T, block_col="lang"),
            "cosine": lambda: cosine_near_duplicate_pairs(
                emb, threshold=COSINE_T, metrics=m["cosine"]),
        }
        outputs, failed = {}, 0
        for op in DEDUP_OPS:
            t0 = time.perf_counter()
            try:
                outputs[op] = spans.call(op, lambda: calls[op]().collect())
            except Exception as e:  # noqa: BLE001 — a failed call is counted
                print(f"error {op}: {type(e).__name__}: {e}", file=sys.stderr)
                failed += 1
                continue
            self.record(f"{op}_s", time.perf_counter() - t0)
        if self.keep is None:
            self.keep = outputs
        elif any(len(outputs.get(op, ())) != len(self.keep.get(op, ()))
                 for op in DEDUP_OPS):
            failed += 1  # a pass disagreeing with the first is a failed op
        if traced:
            self.traced.append({op: (len(outputs.get(op, ())),
                                     (m[op] or {}).get("dropped_buckets", 0))
                                for op in DEDUP_OPS})
        return len(DEDUP_OPS), failed

    def check(self, spark) -> List[str]:
        import checks
        from webpeel_spark.operators.dedup import simhash_oracle_sql

        out = self.keep
        texts = {r["doc_id"]: r["text"] for r in self.rows}

        def pairs(op):
            return {(r[0], r[1]): float(r[2]) for r in out[op]}

        failures = []
        if "exact" in out:
            failures += checks.exact_groups(out["exact"], self.rows)
        # pairwise-exact operators: references over a seeded subset (a
        # random quarter of the docs, so hot-tail documents and exact
        # copies, plus both members of 40 planted near-duplicate pairs)
        subset_ids = set(checks.sample(range(self.docs_n), 500, self.seed))
        for a, b in checks.sample(self.planted, 40, self.seed):
            subset_ids.update((a, b))
        subset = [r for r in self.rows if r["doc_id"] in subset_ids]
        if "ngram" in out:
            failures += checks.pairs_on_subset(
                pairs("ngram"), subset, checks.jaccard_pairs(subset, NGRAM_T, "lang"),
                "ngram")
        if "simhash" in out:
            failures += checks.pairs_on_subset(
                pairs("simhash"), subset,
                checks.oracle_pairs(subset, simhash_oracle_sql(HAMMING)), "simhash")
        if "minhash" in out:
            mp = pairs("minhash")
            failures += checks.minhash_pairs(mp, texts, MINHASH_T)
            self.recall = checks.planted_recall(mp, texts, self.planted, MINHASH_T)
        if "cosine" in out:
            failures += checks.cosine_pairs(pairs("cosine"), self.ids, self.vecs,
                                            COSINE_T)
        return failures

    def layer_metrics(self, log, spans, pass_id):
        out = {}
        for op in DEDUP_OPS:
            s = log.summary(log.jobs(op, pass_id))
            n_pairs, dropped = self.traced[pass_id][op]
            out.update({
                f"{op}.jobs": s["jobs"], f"{op}.stages": s["stages"],
                f"{op}.task_s": s["task_s"],
                f"{op}.shuffle_bytes": s["shuffle_bytes"],
                f"{op}.spill_bytes": s["spill_bytes"],
                f"{op}.skew_ratio": s["skew_ratio"],
                f"{op}.candidate_rows": s["join_rows"],
                f"{op}.pairs": n_pairs,
                f"{op}.verify_yield": n_pairs / s["join_rows"] if s["join_rows"] else 0.0,
                f"{op}.dropped_buckets": dropped,
            })
        if self.recall is not None:
            out["minhash.planted_found"], out["minhash.planted_total"] = self.recall
        return out

    def report(self):
        lines = super().report()
        if self.recall is not None:
            lines.append("minhash planted pairs found %d of %d" % self.recall)
        return lines


WORKLOADS = {"extract": Extract, "dedup_hotkeys": DedupHotkeys}


# ── measurement loop ─────────────────────────────────────────────────────

def _metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {"end_to_end": spec["end_to_end"], "per_layer": spec["per_layer"]}


def _measure(workload, spark, seconds: float, spans) -> tuple:
    """Closed loop: passes back to back until ``seconds`` have elapsed
    (at least one).  Returns (pass seconds, attempted, failed)."""
    times, attempted, failed = [], 0, 0
    start = time.perf_counter()
    while not times or time.perf_counter() - start < seconds:
        spans.pass_id = len(times)
        t0 = time.perf_counter()
        a, f = workload.run_pass(spark, spans, traced=spans.spark is not None)
        times.append(time.perf_counter() - t0)
        attempted += a
        failed += f
    return times, attempted, failed


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _traced_half(workload, log_dir: str, seconds: float, times: List[float]) -> tuple:
    """Traced passes in a fresh SparkContext with the event log on.
    Returns (per-layer metrics, attempted, failed)."""
    from trace import EventLog, Spans, eventlog_properties, pure_profile

    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    spark = start_session(eventlog_properties(log_dir))
    warm_workers(spark)
    spans = Spans(spark)
    workload.start_measuring()
    workload.instrument(spans)
    try:
        traced_times, attempted, failed = _measure(workload, spark, seconds, spans)
    finally:
        spans.restore()
    spark.stop()  # closes the event log
    (log_file,) = [os.path.join(log_dir, n) for n in os.listdir(log_dir)]
    log = EventLog.read(log_file)
    per_pass = [workload.layer_metrics(log, spans, p) for p in range(len(traced_times))]
    layers = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    layers["trace.spark_overhead"] = (statistics.median(traced_times)
                                      / statistics.median(times) - 1.0)
    spans.write(os.path.join(log_dir, "spans.jsonl"))
    if isinstance(workload, Extract):
        prof = pure_profile(_page_sample(workload.path, 150, workload.seed))
        layers.update(prof["metrics"])
        prof["spans"].write(os.path.join(log_dir, "pure_spans.jsonl"))
    return layers, attempted, failed


def run(workload_name: str, seed: int, seconds: float, traced: bool) -> dict:
    from procs import PeakRss
    from trace import Spans

    specs = _metric_specs()
    workload = WORKLOADS[workload_name](seed)
    workload.prepare()
    print(f"context nproc={NPROC} loadavg={os.getloadavg()[0]:.2f} "
          f"canary_docs_per_s={host_canary():.1f}")
    starts = []
    for i in range(SETUPS):
        if i:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session()
        warm_workers(spark)
        starts.append(time.perf_counter() - t0)
    _log(f"set-ups {['%.2f' % s for s in starts]} s")
    t0 = time.perf_counter()
    for _ in range(workload.warmups):
        workload.run_pass(spark, Spans(), traced=False)
    warm_s = time.perf_counter() - t0
    _log(f"warm-up {warm_s:.2f} s")
    workload.start_measuring()
    with PeakRss() as rss:
        times, attempted, failed = _measure(
            workload, spark, seconds / 2 if traced else seconds, Spans())
    _log(f"passes {['%.2f' % t for t in times]} s")
    failures = workload.check(spark)
    attempted += 1
    failed += bool(failures)
    for msg in failures:
        print(f"check failed: {msg}")
    layers: Dict[str, float] = {}
    if traced:
        spark.stop()
        log_dir = os.path.join(WORK, "eventlog", f"{workload_name}-s{seed}")
        layers, a, f = _traced_half(workload, log_dir, seconds / 2, times)
        attempted += a
        failed += f
    values = {
        "setup_s": statistics.median(starts) + warm_s,
        "docs_per_s": workload.docs / statistics.median(times),
        "peak_rss_mb": rss.peak / 2**20,
        "session.start_s": statistics.median(starts),
        "session.jvm_s": starts[0],
        "session.warm_s": warm_s,
        **layers,
    }
    for line in workload.report():
        print(line)
    print(f"passes {len(times)} median_pass_s {statistics.median(times):.4f} "
          f"failed_frac {failed / attempted:.6f}")
    kind = "per_layer" if traced else "end_to_end"
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in specs[kind]}
    if traced:
        with open(os.path.join(log_dir, "layers.json"), "w") as f:
            json.dump(metrics, f, indent=1, sort_keys=True)
        print(f"trace files in {log_dir}")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv: Optional[List[str]] = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    import webpeel_spark  # noqa: F401 — fails fast, before any output, without the package

    _configure_environment()
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        stop_jvm()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
