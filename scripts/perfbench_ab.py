#!/usr/bin/env python3
"""Paired A/B runs of the repository benchmark (perfbench/) on two checkouts.

    python3 scripts/perfbench_ab.py --base DIR --change DIR \
        --workload pretrain_cdm --seeds 1-10 [--seconds 20] [--log runs.jsonl]

For each seed, runs `python3 perfbench/run.py --workload W --seed S
--seconds N --trace 0` once in each checkout, the two back to back; the side
that goes first alternates from seed to seed (base first on the first seed),
so drift in the host's load falls on both sides alike. Each checkout builds
and runs its own benchmark unchanged.

Prints, per end-to-end metric of the base checkout's BENCHMARK.json: each
side's median and quartiles, the change's win count over the pairs (a tie
counts for neither side), and whether the change's median is better than the
base's by more than the base's quartile distance. The last line says whether
every run was correct: its result line read `"correct": true` with no failed
operations.

--seeds takes a list and ranges: `1-10`, `1,3,5`, `1-4,11`.
--log appends every run's provenance and result lines as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run(checkout, workload, seed, seconds, trace=0):
    """One benchmark run; returns (provenance, result), either None on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True)
    lines = [json.loads(l) for l in proc.stdout.splitlines() if l.startswith("{")]
    provenance = next((l["provenance"] for l in lines if "provenance" in l), None)
    result = next((l for l in lines if "correct" in l), None)
    if proc.returncode != 0 or result is None:
        sys.stderr.write(proc.stderr[-2000:])
    return provenance, result


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--log")
    a = ap.parse_args()

    with open(os.path.join(a.base, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    sides = {"base": a.base, "change": a.change}
    values = {s: {m["name"]: [] for m in metrics} for s in sides}
    pairs = []
    all_correct = True
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        pair = {}
        for side in order:
            provenance, result = run(sides[side], a.workload, seed, a.seconds)
            ok = result is not None and result["correct"] and result["failed"] == 0
            all_correct &= ok
            pair[side] = result["metrics"] if ok else None
            if a.log:
                with open(a.log, "a") as fh:
                    fh.write(json.dumps({"side": side, "workload": a.workload, "seed": seed,
                                         "provenance": provenance, "result": result}) + "\n")
            wall = result["metrics"].get("wall_s", {}).get("value") if ok else None
            print(f"seed {seed} {side}: {'correct' if ok else 'FAILED'} wall_s={wall}",
                  file=sys.stderr, flush=True)
        if pair["base"] is not None and pair["change"] is not None:
            pairs.append(pair)
            for side in sides:
                for m in metrics:
                    values[side][m["name"]].append(pair[side][m["name"]]["value"])

    print(f"{a.workload}: {len(pairs)} pairs, seeds {a.seeds}")
    if not pairs:
        metrics = []
    print(f"{'metric':<16} {'base median [q1, q3]':<28} {'change median [q1, q3]':<28} "
          f"{'wins':<7} better by > base IQR")
    for m in metrics:
        name = m["name"]
        bq1, bmed, bq3 = quartiles(values["base"][name])
        cq1, cmed, cq3 = quartiles(values["change"][name])
        lower = m["better"] == "lower"
        wins = sum((c < b) if lower else (c > b)
                   for b, c in zip(values["base"][name], values["change"][name]))
        gain = (bmed - cmed) if lower else (cmed - bmed)
        base = f"{bmed:.3f} [{bq1:.3f}, {bq3:.3f}]"
        change = f"{cmed:.3f} [{cq1:.3f}, {cq3:.3f}]"
        print(f"{name:<16} {base:<28} {change:<28} {f'{wins}/{len(pairs)}':<7} {gain > bq3 - bq1}")
    print(f"every run correct: {all_correct}")
    sys.exit(0 if all_correct else 1)


if __name__ == "__main__":
    main()
