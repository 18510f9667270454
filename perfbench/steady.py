#!/usr/bin/env python3
"""Steadiness check: runs one workload once per seed and prints, for every
end-to-end metric, the median and the quartile spread (Q3 - Q1 over the
median) of the runs, plus each run's wall time.

    python3 perfbench/steady.py --workload catalog --seeds 201-210 [--seconds 10]

Compare the spreads with the bounds in BENCHMARK.json; a second set on other
seeds should have medians within the bounds of the first.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 201-210")
    ap.add_argument("--seconds", default="10")
    a = ap.parse_args()
    first, last = (int(s) for s in a.seeds.split("-"))
    runs = []
    for seed in range(first, last + 1):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", a.seconds,
             "--trace", "0"], capture_output=True, text=True)
        wall = time.time() - t0
        if p.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{p.stderr[-2000:]}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append(r)
        print(f"seed {seed}: wall {wall:.1f} s, correct {r['correct']}, "
              f"attempted {r['attempted']}, " + ", ".join(
                  f"{k} {v['value']:.4f}" for k, v in r["metrics"].items()),
              flush=True)
    for m in runs[0]["metrics"]:
        v = [r["metrics"][m]["value"] for r in runs]
        print(f"{m}: median {statistics.median(v):.4f} "
              f"spread {stats.quartile_spread(v):.3f}")


if __name__ == "__main__":
    main()
