#!/usr/bin/env python3
"""Paired parent/change benchmark runs of one perfbench workload.

    python3 scripts/bench_pairs.py PARENT_DIR CHANGE_DIR --workload curate --seeds 1-5

Each seed is one pair: `perfbench/run.py` of PARENT_DIR and of
CHANGE_DIR, one after the other, with the side that runs first
alternating from pair to pair so drift of the host does not favour
either. Prints every pair, then the median change/parent ratio of every
metric both sides report, and for each end-to-end metric of
BENCHMARK.json the pairs the change won and each side's median and
quartiles. An end-to-end metric whose median ratio is worse than its
bound is flagged. Exits 1 when any run fails, is incorrect, counts
failed docs, or a bound is passed.

Reads BENCHMARK.json and perfbench/ of both trees; writes nothing in
either except perfbench's own build directory.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def spread(xs):
    """Median [lower quartile, upper quartile]."""
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def run(tree, workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(tree, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    lines = r.stdout.decode(errors="replace").strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None, f"exit {r.returncode}, no result line"
    problem = None
    if r.returncode != 0:
        problem = f"exit {r.returncode}"
    elif not res.get("correct"):
        problem = "incorrect"
    elif res.get("failed", 0):
        problem = f"{res['failed']} failed docs"
    return {k: v["value"] for k, v in res.get("metrics", {}).items()}, problem


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", type=int, help="default: BENCHMARK.json run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    seconds = a.seconds or bench["run_seconds"]

    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    ratios, values, problems = {}, {}, []
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            got[side], problem = run(sides[side], a.workload, seed, seconds, a.trace)
            if problem:
                problems.append(f"seed {seed} {side}: {problem}")
        if got["parent"] is None or got["change"] is None:
            print(f"pair {seed} ({order[0]} first): no result", flush=True)
            continue
        common = sorted(set(got["parent"]) & set(got["change"]))
        row = []
        for name in common:
            p, c = got["parent"][name], got["change"][name]
            if p:
                ratios.setdefault(name, []).append(c / p)
            values.setdefault(name, []).append((p, c))
            # a traced run reports layer metrics only: show those instead
            if name in bounds or not bounds.keys() & set(common):
                row.append(f"{name} {p:.4g}->{c:.4g}")
        print(f"pair {seed} ({order[0]} first): " + ", ".join(row), flush=True)

    print("median change/parent ratio:")
    for name in sorted(ratios):
        med = statistics.median(ratios[name])
        flag = ""
        b = bounds.get(name)
        if b and ((b["better"] == "higher" and med < 1 - b["bound"]) or
                  (b["better"] == "lower" and med > 1 + b["bound"])):
            flag = f"  PAST BOUND {b['bound']}"
            problems.append(f"{name} median ratio {med:.3f} past its bound {b['bound']}")
        kind = "end-to-end" if b else "layer"
        print(f"  {name:32s} x{med:.3f}  ({kind}, {len(ratios[name])} pairs){flag}")
    for name in sorted(bounds.keys() & values.keys()):
        pc = values[name]
        better = (lambda p, c: c > p) if bounds[name]["better"] == "higher" else (lambda p, c: c < p)
        wins = sum(better(p, c) for p, c in pc)
        print(f"  {name:32s} change better in {wins}/{len(pc)} pairs; parent {spread([p for p, _ in pc])}, "
              f"change {spread([c for _, c in pc])}")
    for p in problems:
        print("PROBLEM: " + p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
