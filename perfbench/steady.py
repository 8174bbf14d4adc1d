#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/steady.py --workload sink_batch --seeds 1-10 [--seconds 10] [--trace 0]

The spread is the interquartile range over the median, as
`statistics.quantiles(values, n=4)` gives the quartiles; it is compared with
the metric's `bound` from BENCHMARK.json. Also prints each run's wall time.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = a.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    values, walls, bad = {}, [], 0
    for seed in seeds(a.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, str(BENCH / "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)],
            cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            bad += 1
            continue
        result = json.loads(proc.stdout.splitlines()[-1])
        if not result["correct"] or result["failed"]:
            bad += 1
        row = {k: v["value"] for k, v in result["metrics"].items()}
        for k, v in row.items():
            values.setdefault(k, []).append(v)
        print(f"seed {seed}: {walls[-1]:.1f} s correct={result['correct']} "
              f"failed={result['failed']} " +
              " ".join(f"{k}={v:.6g}" for k, v in row.items()), flush=True)

    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
        else:
            spread = float("nan")
        bound = bounds.get(k)
        note = f" bound {bound} (a third: {bound / 3:.4f})" if bound else ""
        print(f"{k}: median {med:.6g} spread {spread:.4f}{note}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
