#!/usr/bin/env python3
"""Run alternating parent/change benchmark pairs and summarize them.

    python3 tools/bench_pairs.py --parent DIR --change DIR \
        --workload graded_suite --pairs 10 --out plans/rNN/runs.jsonl

DIR is a checkout of each side (its own perfbench/ and sources). Both
sides are built first, then each pair runs `perfbench/run.py` once per
side with the same seed, for the `run_seconds` that BENCHMARK.json fixes:
the parent first on odd seeds, the change first on even seeds. Every run appends one JSON line to --out:

    {"workload", "seed", "side", "position", "trace", "elapsed_s", "rc", "result"}

where `result` is the run's last stdout line (null when it printed none).
At the end it prints, per end-to-end metric of BENCHMARK.json, the parent
and change medians, the parent's quartiles, how many pairs the change
won (in the metric's better direction) and a verdict against the metric's
`bound` (a fraction of the parent's median):

    worse       the change's median is worse than the parent's by more
                than the bound;
    unresolved  the parent's quartile spread over its median is wider than
                the bound, unless every change run beats every parent run;
    ok          otherwise.

To re-summarize recorded runs without running anything:

    python3 -c "import sys, json; sys.path.insert(0, 'tools'); import bench_pairs; \
        bench_pairs.summarize([json.loads(l) for l in open('plans/rNN/runs.jsonl')], \
        json.load(open('BENCHMARK.json'))['end_to_end'])"
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def build(side_dir):
    code = "import sys; sys.path.insert(0, 'perfbench'); import run; run.build()"
    subprocess.run([sys.executable, "-c", code], cwd=side_dir, check=True,
                   stdin=subprocess.DEVNULL)


def run_once(side_dir, workload, seed, seconds, trace):
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=side_dir, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, stdin=subprocess.DEVNULL)
    elapsed = round(time.monotonic() - t0, 1)
    result = None
    for line in reversed(p.stdout.splitlines()):
        if line.startswith("{") and '"metrics"' in line:
            result = json.loads(line)
            break
    return p.returncode, elapsed, result


def quartiles(xs):
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


def verdict(ps, cs, lower, bound):
    """`worse`, `unresolved` or `ok` for one metric's parent and change runs."""
    p_med, c_med = statistics.median(ps), statistics.median(cs)
    worse_by = (c_med - p_med) if lower else (p_med - c_med)
    if worse_by > bound * abs(p_med):
        return "worse"
    q = quartiles(ps)
    beats_all = min(ps) > max(cs) if lower else max(ps) < min(cs)
    if q[2] - q[0] > bound * abs(p_med) and not beats_all:
        return "unresolved"
    return "ok"


def summarize(rows, metrics):
    by_workload = {}
    for r in rows:
        if r["result"]:
            pairs = by_workload.setdefault(r["workload"], {})
            pairs.setdefault(r["seed"], {})[r["side"]] = r["result"]["metrics"]
    for workload, pairs in by_workload.items():
        both = [v for v in pairs.values() if "parent" in v and "change" in v]
        print(f"{workload}: {len(both)} complete pairs")
        print(f"{'metric':22s} {'parent':>12s} {'change':>12s} {'parent q1-q3':>25s} "
              f"{'wins':>6s} verdict")
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            ps = [p["parent"][name]["value"] for p in both if name in p["parent"]]
            cs = [p["change"][name]["value"] for p in both if name in p["change"]]
            if not ps or len(ps) != len(cs):
                continue
            wins = sum((c < p) if lower else (c > p) for p, c in zip(ps, cs))
            q = quartiles(ps)
            print(f"{name:22s} {statistics.median(ps):12.4g} {statistics.median(cs):12.4g} "
                  f"{q[0]:12.4g}-{q[2]:<12.4g} {f'{wins}/{len(ps)}':>6s} "
                  f"{verdict(ps, cs, lower, m['bound'])}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", required=True, type=int)
    ap.add_argument("--out", required=True)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    for d in sides.values():
        build(d)
    rows = []
    for seed in range(args.first_seed, args.first_seed + args.pairs):
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        for pos, side in enumerate(order):
            rc, elapsed, result = run_once(sides[side], args.workload, seed,
                                           seconds, args.trace)
            row = {"workload": args.workload, "seed": seed, "side": side,
                   "position": pos, "trace": args.trace, "elapsed_s": elapsed,
                   "rc": rc, "result": result}
            rows.append(row)
            with open(args.out, "a") as f:
                f.write(json.dumps(row) + "\n")
            print(f"seed {seed} {side}: rc={rc} {elapsed}s", file=sys.stderr, flush=True)
    summarize(rows, metrics)


if __name__ == "__main__":
    main()
