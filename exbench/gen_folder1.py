"""Seeded folder_1-shape trace fixture for the explanation workloads.

Writes six trace CSVs (8 float features, integer index) and a 29-row
labels.csv in the layout of the EXstream folder_1 data set. `--rows`
scales every trace and window length together; with the defaults
(seed 42, 45,000 rows) the output is byte-identical to
scripts/e2e_compare/gen_folder1.py.

    python3 exbench/gen_folder1.py --out DIR [--seed 42] [--rows 45000]
"""
import argparse
import os

import numpy as np
import pandas as pd

TRACES = ["1_1", "1_2", "2_1", "2_2", "3_1", "3_2"]
ANO_TYPES = {"1": "bursty input", "2": "stalled input", "3": "CPU contention"}


def generate(out, seed=42, rows=45000):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = rows
    # window layout of the 45k-row original, scaled: 5 windows per trace
    # (4 on 3_2), ref span 1900, anomaly span 1000, one window per 9000 rows
    step = n // 5
    ref_len, ano_off, ano_len = (1900 * n) // 45000, (2000 * n) // 45000, (3000 * n) // 45000
    labels = []
    for tr in TRACES:
        t = np.arange(n)
        f0 = 10 + rng.normal(0, 1, n)                   # separating: shifts in ano
        f1 = np.round(rng.normal(5, 2, n))              # quantized (duplicate runs)
        f2 = np.full(n, 7.0)                            # constant
        f3 = f0 * 2 + rng.normal(0, .3, n)              # correlated with f0
        f4 = rng.normal(50, 20, n)                      # noise
        f5 = t / 1000.0 + rng.normal(0, .5, n)          # ramp
        f6 = 10 * np.sin(t / 500.0) + rng.normal(0, 1, n)  # seasonal
        f7 = 20 + rng.normal(0, 2, n)                   # shifts in half the windows
        for w in range(5 if tr != "3_2" else 4):
            base = w * step
            rs, re_, as_, ae = base, base + ref_len, base + ano_off, base + ano_len
            f0[as_:ae + 1] += 4                         # mean shift in anomaly
            if w % 2 == 0:
                f7[as_:ae + 1] -= 6
            labels.append((tr, w, rs, re_, as_, ae, ANO_TYPES[tr[0]]))
        df = pd.DataFrame({"f0": f0, "f1": f1, "f2": f2, "f3": f3,
                           "f4": f4, "f5": f5, "f6": f6, "f7": f7})
        df.to_csv(f"{out}/{tr}.csv")
    lab = pd.DataFrame(labels, columns=["trace_id", "ano_id", "ref_start", "ref_end",
                                        "ano_start", "ano_end", "ano_type"])
    lab.to_csv(f"{out}/labels.csv")
    return len(lab)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--rows", type=int, default=45000)
    a = ap.parse_args()
    windows = generate(a.out, a.seed, a.rows)
    print(f"traces: {len(TRACES)} windows: {windows} rows/trace: {a.rows}")


if __name__ == "__main__":
    main()
