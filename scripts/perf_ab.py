#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one benchmark workload.

Usage:
    python3 scripts/perf_ab.py --parent DIR --change DIR --workload spatial --pairs 10
        [--seed0 1000] [--out runs.jsonl]

Runs `python3 perfbench/run.py --trace 0` in each checkout, `--pairs` times,
for the run length BENCHMARK.json sets (`run_seconds`),
alternating which side runs first (pair i uses seed seed0 + i on both
sides). For each end-to-end metric of the change's BENCHMARK.json it prints
each side's median and quartiles, the change/parent ratio of the medians,
and the pairs the change won (ties count for neither). A gain holds when
the change wins at least 9/10 of the pairs and the medians differ by more
than the parent's interquartile range. Exits non-zero if any run fails or
reports an incorrect result.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    done = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = done.stdout.strip().splitlines()
    if done.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.exit(f"[perf_ab] {checkout} seed {seed}: run failed with exit code {done.returncode}")
    result = json.loads(lines[-1])
    if not result["correct"]:
        sys.exit(f"[perf_ab] {checkout} seed {seed}: incorrect result {lines[-1]}")
    return result


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, type=pathlib.Path)
    ap.add_argument("--change", required=True, type=pathlib.Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", required=True, type=int)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--out", type=pathlib.Path, help="append every run's result here as JSON lines")
    args = ap.parse_args()
    if args.pairs < 2:
        sys.exit("[perf_ab] --pairs must be at least 2")

    spec = json.loads((args.change / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    sides = {"parent": args.parent, "change": args.change}
    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            result = run(sides[side], args.workload, seed, seconds)
            runs[side].append(result)
            metrics = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
            print(f"[perf_ab] pair {i + 1}/{args.pairs} seed {seed} {side}: {json.dumps(metrics)}",
                  file=sys.stderr, flush=True)
            if args.out:
                with args.out.open("a") as f:
                    f.write(json.dumps({"workload": args.workload, "pair": i, "seed": seed, "side": side,
                                        **result}) + "\n")

    n = args.pairs
    print(f"workload {args.workload}: {n} pairs, alternating order, seeds {args.seed0}..{args.seed0 + n - 1}")
    for side in ("parent", "change"):
        print(f"{side}: failed {sum(r['failed'] for r in runs[side])} of "
              f"{sum(r['attempted'] for r in runs[side])} attempted")
    print(f"{'metric':<14} {'parent median [q1, q3]':<30} {'change median [q1, q3]':<30} "
          f"{'ratio':>6} {'won':>6}  gain")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["metrics"][name]["value"] for r in runs["parent"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        (pq1, pmed, pq3), (cq1, cmed, cq3) = quartiles(p), quartiles(c)
        won = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
        better = (pmed - cmed) if lower else (cmed - pmed)
        gain = won >= 0.9 * n and better > pq3 - pq1
        print(f"{name:<14} {f'{pmed:.3f} [{pq1:.3f}, {pq3:.3f}]':<30} {f'{cmed:.3f} [{cq1:.3f}, {cq3:.3f}]':<30} "
              f"{cmed / pmed:>6.3f} {f'{won}/{n}':>6}  {'yes' if gain else 'no'}")


if __name__ == "__main__":
    main()
