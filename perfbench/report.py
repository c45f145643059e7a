#!/usr/bin/env python3
"""Repeatability report: run one workload k times and summarise each metric.

Usage (from the root of the checkout):

    python3 perfbench/report.py --workload join_dedup --runs 10
    python3 perfbench/report.py --workload index_churn --runs 5 --first-seed 100 --trace 1

Each run is `perfbench/run.py` with its own seed (first-seed, first-seed+1,
...). For every metric the report prints the median, the first and third
quartiles (Python's `statistics.quantiles(values, n=4)`), the interquartile
range as a share of the median, and (max - min) / median. The end-to-end
bounds in BENCHMARK.json apply to the IQR share; runs whose checks failed
are listed and left out of the statistics.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    try:
        out = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        out = None
    return res.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int,
                    default=json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"]
                    if (HERE.parent / "BENCHMARK.json").exists() else 10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    results, bad = [], []
    for i in range(a.runs):
        seed = a.first_seed + i
        t0 = time.time()
        code, out = run_once(a.workload, seed, a.seconds, a.trace)
        ok = code == 0 and out is not None and out.get("correct")
        values = " ".join(f"{k}={v['value']:.5g}" for k, v in out["metrics"].items()) if out else ""
        print(f"run {i + 1}/{a.runs} seed={seed} exit={code} correct={ok} "
              f"took={time.time() - t0:.1f}s {values}", flush=True)
        if ok:
            results.append((seed, out))
        else:
            bad.append(seed)
    if not results:
        sys.exit("no run completed")

    print(f"\n{a.workload}: {len(results)} runs, seconds={a.seconds}, trace={a.trace}"
          + (f", failed seeds {bad}" if bad else ""))
    print(f"{'metric':40s} {'unit':6s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'iqr/med':>8s} {'range/med':>9s}")
    for name, m in results[0][1]["metrics"].items():
        vals = [o["metrics"][name]["value"] for _, o in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        share = (lambda d: d / med if med else 0.0)
        print(f"{name:40s} {m['unit']:6s} {med:12.5g} {q1:12.5g} {q3:12.5g} "
              f"{share(q3 - q1):8.3f} {share(max(vals) - min(vals)):9.3f}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
