#!/usr/bin/env python3
"""Compare two checkouts on one perfbench workload in alternating pairs.

    python3 tools/perf_pairs.py <parent_dir> <change_dir> <workload> <seed> [<seed> ...]

Each directory is a full checkout (e.g. a `git archive` copy of the parent
commit). For every seed the script runs `python3 perfbench/run.py` once in
each checkout, from that checkout's root, for BENCHMARK.json's `run_seconds`:
odd seeds run the parent first, even seeds the change first, so drift on the
box falls on both sides. It then prints, for every end-to-end metric of BENCHMARK.json (read from the
change checkout), each side's median and quartiles, how many pairs the
change won, and the change/parent ratio of the medians against the
metric's bound; and per side the failed share of operations and whether
every run read `correct: true`. perfbench/ is only read; each run writes
its build and run outputs under the checkout's own `.bench_build/`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    """One perfbench run; returns its result object, or None if it gave none."""
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None
    return result if isinstance(result, dict) and "metrics" in result else None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("workload")
    ap.add_argument("seeds", type=int, nargs="+")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    sides = {"parent": a.parent, "change": a.change}

    runs = {"parent": [], "change": []}
    for seed in a.seeds:
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        for side in order:
            res = run(sides[side], a.workload, seed, seconds)
            runs[side].append(res)
            if res is None:
                print(f"seed {seed} {side}: no result", flush=True)
                continue
            m = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
            print(f"seed {seed} {side}: correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} {json.dumps(m)}", flush=True)

    pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"])
             if p is not None and c is not None]
    print(f"\n{a.workload}: {len(pairs)} complete pairs of {len(a.seeds)}")
    print(f"{'metric':<14} {'parent med [q1, q3]':>28} {'change med [q1, q3]':>28} "
          f"{'wins':>6} {'ratio':>7} {'bound':>6}  verdict")
    for spec in bench["end_to_end"]:
        name, lower = spec["name"], spec["better"] == "lower"
        both = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                for p, c in pairs if name in p["metrics"] and name in c["metrics"]]
        if not both:
            continue
        ps, cs = [x for x, _ in both], [y for _, y in both]
        pm, cm = statistics.median(ps), statistics.median(cs)
        (p1, p3), (c1, c3) = quartiles(ps), quartiles(cs)
        wins = sum(1 for x, y in both if (y < x if lower else y > x))
        ratio = cm / pm if pm else float("nan")
        worse = ratio > 1 + spec["bound"] if lower else ratio < 1 - spec["bound"]
        gain = (pm - cm if lower else cm - pm) > p3 - p1
        verdict = "WORSE beyond bound" if worse else (
            "better by more than the parent's IQR" if gain else "within bound")
        par, chg = f"{pm:.4g} [{p1:.4g}, {p3:.4g}]", f"{cm:.4g} [{c1:.4g}, {c3:.4g}]"
        print(f"{name:<14} {par:>28} {chg:>28} {wins:>3}/{len(both):<2} {ratio:>7.3f} "
              f"{spec['bound']:>6}  {verdict}")
    for side in ("parent", "change"):
        got = [r for r in runs[side] if r is not None]
        attempted = sum(r["attempted"] for r in got)
        failed = sum(r["failed"] for r in got)
        print(f"{side}: runs {len(got)}/{len(runs[side])}, all correct "
              f"{all(r['correct'] for r in got)}, failed ops {failed}/{attempted} "
              f"({100.0 * failed / max(1, attempted):.3f}%)")


if __name__ == "__main__":
    main()
