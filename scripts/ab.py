#!/usr/bin/env python3
"""A/B of two checkouts on the repository benchmark: alternating pairs of
`perfbench/run.py --trace 0` runs, one pair per seed and workload.

    python3 scripts/ab.py --parent <checkout> --change <checkout> \
        --workloads ingest_serve[,convert,...] --seeds 101-110 \
        [--seconds 10] [--out pairs.jsonl]

Within a pair the side that runs first alternates from seed to seed, so a
drift of the host over the session falls on both sides alike. Each checkout's
benchmark builds from its own sources (in its own `.bench_build/`); this
script only runs `perfbench/run.py` and never writes under `perfbench/`.

It prints one row per workload and end-to-end metric: each side's median and
quartiles, the ratio of the change's median to the parent's, the pairs the
change won and lost, and the verdict of the claim rule (see `verdict`).
`--out` also appends every run's JSON line, tagged with its side, seed and
workload, so a session can be summarized again with `--summarize <file>`
without rerunning.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

MIN_PAIRS = 10
MIN_WIN_SHARE = 0.9


def quartiles(xs):
    """(q1, median, q3) of a sample, by `statistics.quantiles(n=4)` as in
    perfbench/stats.py; a single value is its own quartiles."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, better="lower"):
    """The claim rule for one metric over paired runs (parent[i] and
    change[i] ran as one pair): at least MIN_PAIRS pairs, the change better
    in at least MIN_WIN_SHARE of them, and the gap between the medians
    larger than the parent's interquartile range. Returns (wins, losses,
    ok, reason)."""
    if len(parent) != len(change):
        raise ValueError("parent and change must hold the same pairs")
    sign = 1 if better == "lower" else -1
    wins = sum(sign * (p - c) > 0 for p, c in zip(parent, change))
    losses = sum(sign * (p - c) < 0 for p, c in zip(parent, change))
    n = len(parent)
    if n < MIN_PAIRS:
        return wins, losses, False, f"{n} pairs < {MIN_PAIRS}"
    if wins < MIN_WIN_SHARE * n:
        return wins, losses, False, f"won {wins}/{n} < {MIN_WIN_SHARE:.0%}"
    q1, med_p, q3 = quartiles(parent)
    gap = sign * (med_p - statistics.median(change))
    if gap <= q3 - q1:
        return wins, losses, False, \
            f"median gap {gap:.4g} <= parent IQR {q3 - q1:.4g}"
    return wins, losses, True, \
        f"won {wins}/{n}, median gap {gap:.4g} > parent IQR {q3 - q1:.4g}"


def directions(checkout):
    """metric name -> "lower"/"higher" from the checkout's BENCHMARK.json;
    metrics it does not list count as lower-is-better."""
    try:
        with open(os.path.join(checkout, "BENCHMARK.json")) as f:
            b = json.load(f)
    except OSError:
        return {}
    return {m["name"]: m.get("better", "lower")
            for m in b.get("end_to_end", []) + b.get("per_layer", [])}


def run_one(checkout, workload, seed, seconds):
    """One benchmark run; returns its JSON line (and its wall time)."""
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"], cwd=checkout, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{checkout} {workload} seed {seed} exited "
                 f"{p.returncode}:\n{p.stderr[-2000:]}")
    r = json.loads(p.stdout.strip().splitlines()[-1])
    r["wall_s"] = time.time() - t0
    return r


def summarize(records, better):
    """Prints one row per (workload, metric) from tagged run records."""
    by = {}
    for r in records:
        by.setdefault((r["workload"], r["seed"]), {})[r["side"]] = r
    fmt = "{:<13} {:<10} {:>20} {:>20} {:>6} {:>5} {:>6}  {}"
    print(fmt.format("workload", "metric", "parent q1/med/q3",
                     "change q1/med/q3", "ratio", "wins", "losses",
                     "verdict"))
    for wl in sorted({w for w, _ in by}):
        pairs = [by[k] for k in sorted(by) if k[0] == wl
                 and {"parent", "change"} <= by[k].keys()]
        bad = [f"{p[s]['seed']}:{s}" for p in pairs for s in p
               if not p[s]["correct"] or p[s]["failed"]]
        if bad:
            print(f"{wl}: runs with wrong or failed operations: {bad}")
        if not pairs:
            continue
        for m in pairs[0]["parent"]["metrics"]:
            ps = [p["parent"]["metrics"][m]["value"] for p in pairs]
            cs = [p["change"]["metrics"][m]["value"] for p in pairs]
            wins, losses, ok, why = verdict(ps, cs, better.get(m, "lower"))
            q = lambda xs: "/".join(f"{v:.3f}" for v in quartiles(xs))  # noqa: E731
            ratio = statistics.median(cs) / statistics.median(ps)
            print(fmt.format(wl, m, q(ps), q(cs), f"{ratio:.3f}", wins,
                             losses, ("GAIN: " if ok else "no gain: ") + why))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workloads", default="ingest_serve")
    ap.add_argument("--seeds", help="first-last, e.g. 101-110")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--out", help="append every run's tagged JSON line here")
    ap.add_argument("--summarize", help="only summarize a saved --out file")
    a = ap.parse_args()
    if a.summarize:
        with open(a.summarize) as f:
            records = [json.loads(line) for line in f if line.strip()]
        summarize(records, directions(a.change or "."))
        return
    if not (a.parent and a.change and a.seeds):
        ap.error("--parent, --change and --seeds are required")
    first, last = (int(s) for s in a.seeds.split("-"))
    records = []
    for i, seed in enumerate(range(first, last + 1)):
        for wl in a.workloads.split(","):
            sides = [("parent", a.parent), ("change", a.change)]
            for side, checkout in (sides if i % 2 == 0 else sides[::-1]):
                r = run_one(checkout, wl, seed, a.seconds)
                r.update(side=side, seed=seed, workload=wl)
                records.append(r)
                if a.out:
                    with open(a.out, "a") as f:
                        f.write(json.dumps(r) + "\n")
                print(f"{wl} seed {seed} {side}: wall {r['wall_s']:.1f} s, "
                      f"correct {r['correct']}, failed {r['failed']}, " +
                      ", ".join(f"{k} {v['value']:.3f}"
                                for k, v in r["metrics"].items()),
                      file=sys.stderr, flush=True)
    summarize(records, directions(a.change))


if __name__ == "__main__":
    main()
