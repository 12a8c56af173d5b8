#!/usr/bin/env python3
"""A/B the repository benchmark: a base commit against the working tree.

    python3 tools/ab_perfbench.py --base HEAD --workload extract \\
        --seeds 601-610 [--json ab.json]

The base commit's committed files are exported with ``git archive``
into a temporary directory (nothing is registered in the repository's
``.git``, so an interrupted run leaves no state behind).  For each seed,
``python3 perfbench/run.py --workload W --seed S --seconds T --trace 0``
(T is BENCHMARK.json's ``run_seconds``) runs once in the base copy and
once in the working tree, alternating which side goes first from one
seed to the next.  Then, for each
end-to-end metric of BENCHMARK.json, it prints both sides' medians and
quartiles, the pairs the working tree won (ties count for neither) and
whether the gain rule holds: at least nine tenths of the pairs won and
a median gap larger than the base's quartile spread.  It also prints
each side's ``failed``/``attempted`` totals.  Nothing under
``perfbench/`` is edited; each side writes its own ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from typing import Dict, List

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec: str) -> List[int]:
    """``"601-610"`` or ``"3,5,9"`` (or a mix) → a list of seeds."""
    seeds: List[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def export_commit(commit: str, dest: str) -> str:
    """Write the committed files of ``commit`` into ``dest``; returns
    the full commit id."""
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--verify", commit + "^{commit}"],
                         check=True, capture_output=True, text=True).stdout.strip()
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait():
        raise RuntimeError(f"git archive {sha} failed")
    return sha


def run_perfbench(root: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced perfbench run in ``root``; its closing JSON line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        raise RuntimeError(f"{' '.join(cmd)} in {root} exited {proc.returncode}:\n"
                           + proc.stderr[-2000:])
    return json.loads(lines[-1])


def quartiles(xs: List[float]) -> tuple:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def summarize(runs: List[dict], specs: List[dict]) -> List[str]:
    """The report lines for ``runs`` (one dict per seed: ``base`` and
    ``change`` perfbench results)."""
    lines = []
    for spec in specs:
        name, higher = spec["name"], spec["better"] == "higher"
        base = [r["base"]["metrics"][name]["value"] for r in runs]
        change = [r["change"]["metrics"][name]["value"] for r in runs]
        won = sum((c > b) if higher else (c < b) for b, c in zip(base, change))
        bq1, bmed, bq3 = quartiles(base)
        cq1, cmed, cq3 = quartiles(change)
        gap = (cmed - bmed) if higher else (bmed - cmed)
        gain = won >= 0.9 * len(runs) and gap > bq3 - bq1
        lines.append(
            f"{name:12s} base {bmed:9.4g} [{bq1:.4g}, {bq3:.4g}]  "
            f"change {cmed:9.4g} [{cq1:.4g}, {cq3:.4g}]  "
            f"change {cmed / bmed - 1:+.1%}  won {won}/{len(runs)}  "
            f"gain {'yes' if gain else 'no'}")
    for side in ("base", "change"):
        failed = sum(r[side]["failed"] for r in runs)
        attempted = sum(r[side]["attempted"] for r in runs)
        lines.append(f"{side:6s} failed {failed}/{attempted}  "
                     f"all correct {all(r[side]['correct'] for r in runs)}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="commit to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds,
                    help='e.g. "601-610" or "3,5,9"')
    ap.add_argument("--json", help="also write every run's result here")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    work = tempfile.mkdtemp(prefix="ab_perfbench_")
    try:
        sha = export_commit(args.base, work)
        sides: Dict[str, str] = {"base": work, "change": ROOT}
        runs = []
        for i, seed in enumerate(args.seeds):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            result = {"seed": seed, "first": order[0]}
            for side in order:
                t0 = time.perf_counter()
                result[side] = run_perfbench(sides[side], args.workload, seed, seconds)
                dps = result[side]["metrics"]["docs_per_s"]["value"]
                print(f"seed {seed} {side:6s} docs_per_s {dps:.1f} "
                      f"({time.perf_counter() - t0:.0f} s)", file=sys.stderr, flush=True)
            runs.append(result)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload}  base {sha[:12]}  change working tree  "
          f"seeds {args.seeds[0]}..{args.seeds[-1]} ({len(runs)} pairs, "
          f"alternating first)  seconds {seconds:g}")
    for line in summarize(runs, bench["end_to_end"]):
        print(line)
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"base": sha, "workload": args.workload, "seconds": seconds,
                       "runs": runs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
