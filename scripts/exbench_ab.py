"""Same-session before/after of two checkouts on one exbench workload.

    python3 scripts/exbench_ab.py PARENT_DIR CHANGE_DIR --workload explain --seeds 1-6

Runs `exbench/run.py` of each checkout (in its own directory, so each
builds and runs its own sources at its own default run length) once per
seed, alternating which side goes first from seed to seed so that drift
of a shared host hits both sides alike. Prints every run's metrics,
then per end-to-end metric the median of each side, the change/parent
ratio of the medians, the parent's quartile distance (Q3 - Q1) and on
how many seed pairs the change was lower. Exits 1 when any run failed
its output check.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def run(checkout, workload, seed):
    r = subprocess.run([sys.executable, "exbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = r.stdout.strip().splitlines()
    if not lines:
        sys.exit(f"exbench_ab: {checkout}: seed {seed} printed no result (exit {r.returncode})")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-6")
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    values = {"parent": {}, "change": {}}
    all_correct = True
    for i, s in enumerate(seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run(sides[side], a.workload, s)
            all_correct &= bool(res["correct"])
            print(f"seed {s} {side}: correct={res['correct']} failed={res['failed']} " +
                  " ".join(f"{k}={v['value']:.3f}" for k, v in res["metrics"].items()), flush=True)
            for k, v in res["metrics"].items():
                values[side].setdefault(k, []).append(v["value"])
    for k, before in values["parent"].items():
        after = values["change"].get(k, [])
        if len(after) != len(before):
            continue
        mb, ma = statistics.median(before), statistics.median(after)
        q1, _, q3 = statistics.quantiles(before, n=4) if len(before) > 1 else (mb, mb, mb)
        lower = sum(x < y for x, y in zip(after, before))
        print(f"{k}: parent {mb:.3f} change {ma:.3f} ratio {ma / mb:.3f} "
              f"parent_q3-q1 {q3 - q1:.3f} change lower on {lower}/{len(before)} pairs")
    sys.exit(0 if all_correct else 1)


if __name__ == "__main__":
    main()
