#!/usr/bin/env python3
"""Multi-run report: run one workload under several seeds and summarise.

    python3 perfbench/report.py --workload analytics --seeds 1-10 [--out runs.json]

Each run is a separate ``perfbench/run.py --trace 0`` process, one after
another, measuring ``run_seconds`` from ``BENCHMARK.json``.
For every metric the report gives the median, the quartile spread
(``statistics.quantiles(n=4)``: (Q3 - Q1) / median) and the highest
percentile that has at least ten samples beyond it, with the sample
count; with fewer than 20 runs no such percentile exists and the
maximum is shown instead.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def tail_percentile(values: list[float]) -> tuple[str, float]:
    n = len(values)
    if n < 20:
        return "max", max(values)
    q = math.floor(100 * (1 - 10 / n))
    return f"p{q}", statistics.quantiles(values, n=100)[q - 1]


def summarise(results: list[dict]) -> dict[str, dict]:
    out = {}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        label, tail = tail_percentile(vals)
        out[name] = {"unit": results[0]["metrics"][name]["unit"], "median": med,
                     "spread": (q3 - q1) / med if med else 0.0, label: tail, "n": len(vals)}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", help="also write every run's result here as JSON")
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    results, failed = [], 0
    for seed in seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            failed += 1
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        res["seed"] = seed
        res["host"] = [ln[2:] for ln in lines if ln.startswith("# ")]
        results.append(res)
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              file=sys.stderr, flush=True)
    if not results:
        return 1
    summary = summarise(results)
    for name, s in summary.items():
        extra = " ".join(f"{k}={v:.5g}" for k, v in s.items() if k not in ("unit", "n"))
        print(f"{name} [{s['unit']}] {extra} n={s['n']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": results, "summary": summary}, f, indent=1)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
