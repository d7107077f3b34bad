#!/usr/bin/env python3
"""Measure how steady the end-to-end metrics are across seeds.

    python3 perfbench/steady.py --seeds 10 [--workloads a,b] [--out perfbench/STEADY.json]

Runs perfbench/run.py once per (workload, seed) with --trace 0 and the
run length from BENCHMARK.json, then reports for every end-to-end metric
the median and the spread: the distance between the first and third
quartile (statistics.quantiles, n=4) as a share of the median. Also
records each run's wall time, since the whole benchmark must fit a time
budget.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in args.workloads.split(","):
        values, walls, failed = {}, [], 0
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{p.stderr[-3000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            failed += res["failed"] + (0 if res["correct"] else 1)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(w, seed, f"{walls[-1]:.1f}s", {k: round(v["value"], 4) for k, v in res["metrics"].items()},
                  file=sys.stderr)
        metrics = {}
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            metrics[k] = {"median": med, "spread": spread, "bound": bounds.get(k),
                          "spread_over_bound": spread / bounds[k] if k in bounds else None,
                          "values": vs}
        report["workloads"][w] = {"seeds": args.seeds, "failed": failed,
                                  "wall_s_mean": statistics.mean(walls), "metrics": metrics}
    text = json.dumps(report, indent=1)
    if args.out:
        Path(args.out).write_text(text + "\n")
    for w, r in report["workloads"].items():
        print(w, f"wall {r['wall_s_mean']:.1f}s failed {r['failed']}")
        for k, m in r["metrics"].items():
            print(f"   {k:14s} median {m['median']:.4g} spread {m['spread']:.4f}"
                  + (f" bound {m['bound']} ({m['spread_over_bound']:.2f} of it)" if m["bound"] else ""))


if __name__ == "__main__":
    main()
