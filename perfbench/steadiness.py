#!/usr/bin/env python3
"""Run the benchmark repeatedly and report how steady each metric is.

    python3 perfbench/steadiness.py --workloads catchup follow curate \
        --runs 10 [--first-seed 1] [--seconds S] [--out FILE.json]

Each run uses another seed. For every workload and end-to-end metric it
prints the median, the quartiles (``statistics.quantiles(values, n=4)``)
and the spread: the distance between the quartiles as a share of the
median, next to the metric's bound from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    return {"seed": seed, "exit": proc.returncode, "wall_s": wall, "result": result}


def summarize(runs: list[dict], bounds: dict[str, float]) -> dict:
    out = {}
    for name, bound in bounds.items():
        vals = [r["result"]["metrics"][name]["value"] for r in runs if r["result"]]
        if len(vals) < 2:
            continue
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        out[name] = {
            "median": q2,
            "q1": q1,
            "q3": q3,
            "spread": (q3 - q1) / q2 if q2 else float("inf"),
            "bound": bound,
            "values": vals,
        }
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", nargs="+", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=None)
    p.add_argument("--out", default=None)
    args = p.parse_args()
    decl = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or decl["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in decl["end_to_end"]}
    report = {"seconds": seconds, "workloads": {}}
    for w in args.workloads:
        runs = []
        for i in range(args.runs):
            r = run_once(w, args.first_seed + i, seconds, 0)
            runs.append(r)
            ok = r["result"] and r["result"]["correct"]
            print(f"{w} seed={r['seed']} exit={r['exit']} correct={ok} wall={r['wall_s']:.1f}s", flush=True)
        summary = summarize(runs, bounds)
        report["workloads"][w] = {
            "runs": [{k: r[k] for k in ("seed", "exit", "wall_s")} for r in runs],
            "metrics": summary,
        }
        for name, s in summary.items():
            flag = "" if name == "setup_s" or s["spread"] <= s["bound"] / 3 else "  <-- above bound/3"
            print(
                f"  {name:24s} median={s['median']:.6g} q1={s['q1']:.6g} q3={s['q3']:.6g} "
                f"spread={s['spread']:.3f} bound={s['bound']}{flag}"
            )
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
