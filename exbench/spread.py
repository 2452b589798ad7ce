"""Steadiness check: run one workload on several seeds and print, for
each end-to-end metric, the median and the quartile spread
(Q3 - Q1) / median, with quartiles as `statistics.quantiles(n=4)`.

    python3 exbench/spread.py --workload explain --seeds 1-10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="12")
    a = ap.parse_args()
    values = {}
    for s in seeds(a.seeds):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", a.seconds, "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        res = json.loads(r.stdout.strip().splitlines()[-1])
        print(f"seed {s}: exit {r.returncode} " +
              " ".join(f"{k}={v['value']:.4f}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k}: median {statistics.median(vs):.4f} spread {(q3 - q1) / med:.4f} (n={len(vs)})")


if __name__ == "__main__":
    main()
