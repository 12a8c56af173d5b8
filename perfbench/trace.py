"""Traced-run machinery: spans around layer calls, the pure-layer
profile and the Spark event-log parser.

Spans are kept in memory and written when the run ends.  A span's self
time is its duration minus the durations of its direct children.  Spark
jobs started inside a span carry the span path as their job description
(``outer/inner#pass``), which is how the event-log parser attributes
stages and tasks to layers.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import time
from typing import Callable, Dict, Iterable, List, Optional


class Spans:
    """In-memory span recorder with a parent stack."""

    def __init__(self, spark=None):
        self.spark = spark
        self.records: List[dict] = []
        self.stack: List[int] = []
        self.pass_id = 0
        self.page: Optional[str] = None
        self._patches: List[tuple] = []

    def path(self) -> str:
        return "/".join(self.records[i]["name"] for i in self.stack)

    def _label(self) -> None:
        if self.spark is not None:
            desc = f"{self.path()}#{self.pass_id}" if self.stack else None
            self.spark.sparkContext.setJobDescription(desc)

    def open(self, name: str) -> int:
        parent = self.stack[-1] if self.stack else None
        self.records.append({"name": name, "parent": parent, "page": self.page,
                             "pass": self.pass_id, "start": time.perf_counter(),
                             "end": None})
        self.stack.append(len(self.records) - 1)
        self._label()
        return self.stack[-1]

    def close(self, idx: int) -> None:
        self.records[idx]["end"] = time.perf_counter()
        self.stack.pop()
        self._label()

    def call(self, name: str, fn: Callable, *args, **kwargs):
        idx = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(idx)

    def wrap(self, owner, attr: str, name, when=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper until ``restore``.
        ``name`` may be a function of the call arguments; ``when`` may
        veto the span for a call."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if when is not None and not when(self, *args, **kwargs):
                return orig(*args, **kwargs)
            label = name(*args, **kwargs) if callable(name) else name
            return self.call(label, orig, *args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def self_times(self) -> Dict[str, float]:
        """Self seconds summed per span name."""
        child = [0.0] * len(self.records)
        for r in self.records:
            if r["parent"] is not None:
                child[r["parent"]] += r["end"] - r["start"]
        out: Dict[str, float] = {}
        for r, c in zip(self.records, child):
            out[r["name"]] = out.get(r["name"], 0.0) + (r["end"] - r["start"]) - c
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, r in enumerate(self.records):
                f.write(json.dumps({"id": i, **r}) + "\n")


# ── pure layer ───────────────────────────────────────────────────────────

_P = "webpeel_spark.pure."
# (module, attribute, layer): the public functions pure.pipeline calls.
# Names pipeline imported at module load are wrapped in its namespace;
# names it imports inside a function are wrapped in their own module.
PURE_WRAPS = [
    (_P + "pipeline", "parse_html", "parse"),
    (_P + "pipeline", "parse_xml", "parse"),
    (_P + "pipeline", "collect_anchors_and_ld", "walk"),
    (_P + "pipeline", "extract_jsonld_scripts", "jsonld"),
    (_P + "pipeline", "extract_metadata", "metadata"),
    (_P + "pipeline", "links_from_anchors", "links"),
    (_P + "pipeline", "link_pairs_from_anchors", "links"),
    (_P + "markdown", "detect_main_content_dom", "detect"),
    (_P + "markdown", "prune_content", "prune"),
    (_P + "markdown", "html_to_markdown", "markdown"),
    (_P + "markdown", "clean_markdown_noise", "noise"),
    (_P + "pruner", "prune_markdown", "noise"),
    (_P + "markdown", "calculate_quality", "quality"),
    (_P + "pipeline", "detect_language_ngram", "lang"),
    (_P + "pipeline", "detect_language_from_url", "lang"),
    (_P + "auth_detection", "detect_auth_wall", "auth"),
    (_P + "pipeline", "extract_domain_data", "domain"),
    (_P + "prompt_guard", "sanitize_for_llm", "guard"),
    (_P + "pipeline", "chunk_content", "chunk"),
    (_P + "pipeline", "pdf_extract_result", "pdf"),
    (_P + "docx", "docx_to_html", "docx"),
]
PURE_LAYERS = ["parse", "walk", "jsonld", "metadata", "links", "detect",
               "prune", "markdown", "noise", "quality", "lang", "auth",
               "domain", "guard", "chunk", "pdf", "docx", "other"]
BRANCHES = ["html", "pdf", "docx", "json", "xml", "text"]


def pure_profile(pages: Dict[str, bytes], repeats: int = 5) -> dict:
    """Profile ``extract_page`` in-process over ``pages``.

    Returns layer self seconds summed over the sample (``other`` is the
    page span's own time, so the layers add up to the traced pass),
    branch and outcome counts, the spans, and the overhead of the span
    wrappers: median traced pass over median untraced pass, from
    ``repeats`` alternating pairs after one warm pass."""
    from webpeel_spark.pure import pipeline

    spans = Spans()

    def one_pass(traced: bool) -> tuple:
        if traced:
            for mod, attr, layer in PURE_WRAPS:
                spans.wrap(importlib.import_module(mod), attr, layer)
        spans.records = []
        results = []
        t0 = time.perf_counter()
        try:
            for url, payload in pages.items():
                spans.page = url
                if traced:
                    results.append(spans.call("other", pipeline.extract_page,
                                              url, payload))
                else:
                    results.append(pipeline.extract_page(url, payload))
        finally:
            spans.restore()
        return time.perf_counter() - t0, results

    one_pass(False)  # warm regex and selector caches
    untraced, traced = [], []
    for _ in range(repeats):
        untraced.append(one_pass(False)[0])
        seconds, results = one_pass(True)
        traced.append(seconds)
    selfs = spans.self_times()
    out = {f"pure.{layer}_s": selfs.get(layer, 0.0) for layer in PURE_LAYERS}
    for b in BRANCHES:
        out[f"pure.branch.{b}"] = sum(r["branch"] == b for r in results)
    out["pure.detected"] = sum(r["method"] == "detected" for r in results)
    out["pure.pruned"] = sum(r["pruned_percent"] > 0 for r in results)
    out["pure.jsonld_hits"] = sum(r["method"].startswith("jsonld") for r in results)
    out["pure.domain_hits"] = sum(r["method"] == "domain" for r in results)
    out["pure.errors"] = sum(r["status"] == "error" for r in results)
    out["trace.pure_overhead"] = (statistics.median(traced)
                                  / statistics.median(untraced) - 1.0)
    return {"metrics": out, "spans": spans}


# ── Spark event log ──────────────────────────────────────────────────────

_JOINS = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")


class EventLog:
    """Per-label aggregates parsed from one uncompressed event log."""

    def __init__(self, lines: Iterable[str]):
        self.job_label: Dict[int, str] = {}
        self.job_exec: Dict[int, int] = {}
        self.stage_job: Dict[int, int] = {}
        self.completed_stages: set = set()
        self.tasks: Dict[int, List[dict]] = {}
        self.acc_updates: Dict[int, int] = {}
        # execution id -> {(node name, metric name, accumulator id)}
        self.plan_accs: Dict[int, set] = {}
        for line in lines:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                self.job_label[jid] = props.get("spark.job.description") or ""
                if props.get("spark.sql.execution.id") is not None:
                    self.job_exec[jid] = int(props["spark.sql.execution.id"])
                for sid in ev.get("Stage IDs", []):
                    self.stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerStageCompleted":
                self.completed_stages.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                self.tasks.setdefault(ev["Stage ID"], []).append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "in_rows": (m.get("Input Metrics") or {}).get("Records Read", 0),
                })
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    upd = acc.get("Update")
                    if isinstance(upd, (int, float)) or (
                            isinstance(upd, str) and upd.lstrip("-").isdigit()):
                        self.acc_updates[acc["ID"]] = (
                            self.acc_updates.get(acc["ID"], 0) + int(upd))
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev.get("accumUpdates", []):
                    self.acc_updates[acc_id] = self.acc_updates.get(acc_id, 0) + int(value)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"):
                accs = self.plan_accs.setdefault(int(ev["executionId"]), set())
                self._collect_accs(ev.get("sparkPlanInfo") or {}, accs)

    def _collect_accs(self, node: dict, accs: set) -> None:
        name = node.get("nodeName", "")
        accs.update((name, m.get("name"), m["accumulatorId"])
                    for m in node.get("metrics", []))
        for child in node.get("children", []):
            self._collect_accs(child, accs)

    def _sql_metric(self, execs: set, nodes: tuple, metric: str) -> int:
        """Sum of one SQL metric over the plan nodes (by name prefix) of
        the given executions."""
        accs = {a for e in execs for (n, m, a) in self.plan_accs.get(e, ())
                if n.startswith(nodes) and m == metric}
        return sum(self.acc_updates.get(a, 0) for a in accs)

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path) as f:
            return cls(f)

    def jobs(self, prefix: str, pass_id: int) -> List[int]:
        """Jobs whose span path starts with ``prefix`` in pass ``pass_id``."""
        out = []
        for jid, label in self.job_label.items():
            path, _, p = label.rpartition("#")
            if p == str(pass_id) and (path == prefix or path.startswith(prefix + "/")):
                out.append(jid)
        return out

    def summary(self, jobs: List[int]) -> dict:
        jobset = set(jobs)
        stages = [s for s, j in self.stage_job.items()
                  if j in jobset and s in self.completed_stages]
        tasks = [t for s in stages for t in self.tasks.get(s, [])]
        heaviest = max((s for s in stages if len(self.tasks.get(s, [])) >= 2),
                       key=lambda s: sum(t["run_ms"] for t in self.tasks[s]),
                       default=None)
        skew = 0.0
        if heaviest is not None:
            runs = [t["run_ms"] for t in self.tasks[heaviest]]
            skew = max(runs) / max(statistics.median(runs), 1.0)
        scan_stages = {s for s in stages
                       if any(t["in_rows"] for t in self.tasks.get(s, []))}
        execs = {self.job_exec[j] for j in jobs if j in self.job_exec}
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "task_s": sum(t["run_ms"] for t in tasks) / 1e3,
            "shuffle_bytes": sum(t["shuffle_write"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "skew_ratio": skew,
            "heaviest_task_s": (sum(t["run_ms"] for t in self.tasks[heaviest]) / 1e3
                                if heaviest is not None else 0.0),
            "scan_rows": self._sql_metric(execs, ("Scan",), "number of output rows"),
            "scan_bytes": self._sql_metric(execs, ("Scan",), "size of files read"),
            "scan_task_s": sum(t["run_ms"] for s in scan_stages
                               for t in self.tasks[s]) / 1e3,
            "join_rows": self._sql_metric(execs, _JOINS, "number of output rows"),
        }


def eventlog_properties(log_dir: str) -> Dict[str, str]:
    """Session config that turns on a plain, single-file event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
