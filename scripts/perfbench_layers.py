#!/usr/bin/env python3
"""Per-layer A/B of one traced benchmark run (perfbench/) on two checkouts.

    python3 scripts/perfbench_layers.py --base DIR --change DIR \
        --workload pretrain_cdm --seed 1 [--seconds 20]

Runs `python3 perfbench/run.py --workload W --seed N --seconds S --trace 1`
once in each checkout, base first, and prints each traced layer span's
jobs, exec_s, task_cpu_s, shuffle_write_mb and written_mb side by side.
Spans that are 0 on every metric on both sides (layers the workload does
not call) are skipped. Exits non-zero unless both runs are correct: a
result line with `"correct": true` and no failed operations.
"""
import argparse
import sys

from perfbench_ab import run

METRICS = ("jobs", "exec_s", "task_cpu_s", "shuffle_write_mb", "written_mb")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    a = ap.parse_args()

    layers = {}
    all_correct = True
    for side, checkout in (("base", a.base), ("change", a.change)):
        _, result = run(checkout, a.workload, a.seed, a.seconds, trace=1)
        ok = result is not None and result["correct"] and result["failed"] == 0
        all_correct &= ok
        print(f"{side}: {'correct' if ok else 'FAILED'}", file=sys.stderr, flush=True)
        layers[side] = {k: v["value"] for k, v in result["metrics"].items()} if ok else {}

    keys = layers["base"].keys() | layers["change"].keys()
    spans = sorted({k.rsplit(".", 1)[0] for k in keys
                    if k.rsplit(".", 1)[-1] in METRICS and not k.startswith("pass.")})
    print(f"{a.workload} seed {a.seed}: base vs change")
    print(f"{'span':<46} {'metric':<18} {'base':>10} {'change':>10}")
    for span in spans:
        rows = [(m, layers["base"].get(f"{span}.{m}", 0), layers["change"].get(f"{span}.{m}", 0))
                for m in METRICS]
        if all(b == 0 and c == 0 for _, b, c in rows):
            continue
        for m, b, c in rows:
            print(f"{span:<46} {m:<18} {b:>10.3f} {c:>10.3f}")
    print(f"both runs correct: {all_correct}")
    sys.exit(0 if all_correct else 1)


if __name__ == "__main__":
    main()
