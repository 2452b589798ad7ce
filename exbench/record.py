"""Records the explain digest of every explain fixture in
exbench/expected.json. run.py checks each explain result against the
digest of its fixture. Record at a commit whose explanations are known
to be right, and again only for a change meant to alter them.

    python3 exbench/record.py

Generates the EXPLAIN_FIXTURES fixtures and runs one explain operation
on each in a single benchmark JVM (12 minutes on 4 cores).
"""
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_folder1  # noqa: E402
import run  # noqa: E402


def main():
    cp = build.ensure()
    run_dir = os.path.join(build.build_root(), "record")
    shutil.rmtree(run_dir, ignore_errors=True)
    fixtures = os.path.join(run_dir, "fixtures")
    for seed in range(run.EXPLAIN_FIXTURES):
        gen_folder1.generate(os.path.join(fixtures, str(seed)), seed=seed, rows=run.EXPLAIN_ROWS)
    out = os.path.join(run_dir, "out")
    run.run_jvm(cp, ["--workload", "digests", "--explain-dir", fixtures,
                     "--explain-rows", str(run.EXPLAIN_ROWS),
                     "--cores", str(len(os.sched_getaffinity(0))), "--out", out],
                run_dir, time.time() + 3600)
    with open(os.path.join(out, "result.json")) as fh:
        res = json.load(fh)
    if res["failed"]:
        run.fail(f"explain checks failed: {res['notes']}", 1)
    digests = {str(s): res[str(s)] for s in range(run.EXPLAIN_FIXTURES)}
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump({"explain_rows": run.EXPLAIN_ROWS, "explain_digests": digests}, fh, indent=1)
        fh.write("\n")
    shutil.rmtree(run_dir)


if __name__ == "__main__":
    main()
