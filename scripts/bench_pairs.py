#!/usr/bin/env python3
"""Same-session before/after pairs of the repository benchmark.

    python3 scripts/bench_pairs.py PARENT_DIR CHANGE_DIR --workload train --seeds 41-50

Runs `perfbench/run.py` in two checkouts, one seed at a time, alternating
which side runs first (even pairs parent first, odd pairs change first), so
both sides see the same drift of the host. Then prints, per metric of
BENCHMARK.json (end-to-end ones, or the per-layer ones with `--trace 1`):
the median [q1, q3] of each side, the change of the medians in percent and
the number of pairs in which the change was better. Last, for each seed,
whether both runs were correct and their check values and digests (the
outputs `perfbench/out/*.json` records) were exactly equal.

Only invokes `perfbench/run.py`, for the run length BENCHMARK.json sets;
each checkout builds its own sources on its first run. `--warmup N` first
runs N unrecorded runs per side (seeds below the range), so the builds and
a cold page cache fall outside the pairs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds, trace):
    """One perfbench run: (result line, detail record) of the checkout."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"bench_pairs: {' '.join(cmd)} failed in {checkout}:\n{p.stderr[-2000:]}")
    detail = os.path.join(checkout, "perfbench", "out",
                          f"{workload}-seed{seed}-trace{trace}.json")
    with open(detail) as f:
        d = json.load(f)
    return json.loads(lines[-1]), {"checks": d.get("checks"), "digests": d.get("digests")}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q2, q1, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range A-B")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--warmup", type=int, default=0)
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    sides = {"parent": args.parent_dir, "change": args.change_dir}
    with open(os.path.join(args.change_dir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec, seconds = bench["per_layer" if args.trace else "end_to_end"], bench["run_seconds"]

    for k in range(args.warmup):
        for d in sides.values():
            run(d, args.workload, lo - 1 - k, seconds, args.trace)
    runs = []
    for k, seed in enumerate(range(lo, hi + 1)):
        order = ["parent", "change"] if k % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed}
        for side in order:
            pair[side] = run(sides[side], args.workload, seed, seconds, args.trace)
            m = pair[side][0]["metrics"]
            print(f"seed {seed} {side:6s} correct={pair[side][0]['correct']} "
                  + " ".join(f"{s['name']}={m[s['name']]['value']:.4g}" for s in spec
                             if s["name"] in m), file=sys.stderr, flush=True)
        runs.append(pair)

    n = len(runs)
    print(f"{args.workload}, seeds {lo}-{hi}, {n} pairs, trace {args.trace}")
    print("| metric | parent median [q1, q3] | change median [q1, q3] | change | better |")
    print("|---|---|---|---|---|")
    for s in spec:
        name = s["name"]
        vals = {side: [r[side][0]["metrics"][name]["value"] for r in runs
                       if name in r[side][0]["metrics"]] for side in sides}
        if len(vals["parent"]) != n or len(vals["change"]) != n:
            continue
        (pm, pq1, pq3), (cm, cq1, cq3) = quartiles(vals["parent"]), quartiles(vals["change"])
        sign = -1 if s["better"] == "lower" else 1
        wins = sum(1 for a, b in zip(vals["parent"], vals["change"]) if sign * (b - a) > 0)
        pct = f"{100 * (cm - pm) / pm:+.1f} %" if pm else "n/a"
        print(f"| {name} | {pm:.4g} [{pq1:.4g}, {pq3:.4g}] | {cm:.4g} [{cq1:.4g}, {cq3:.4g}] "
              f"| {pct} | {wins}/{n} |")
    print("| seed | both correct | check values equal | digests equal |")
    print("|---|---|---|---|")
    for r in runs:
        (pr, pd), (cr, cd) = r["parent"], r["change"]
        print(f"| {r['seed']} | {pr['correct'] and cr['correct']} "
              f"| {pd['checks'] == cd['checks']} | {pd['digests'] == cd['digests']} |")


if __name__ == "__main__":
    main()
