"""Benchmark of the EXstream engine: one run of one workload.

    python3 exbench/run.py --workload explain|suite_mix --seed N \
        --seconds S --trace 0|1

Builds the engine and the benchmark (exbench/build.py), generates the
run's inputs from the seed (outside every timing), runs one benchmark
JVM on local[k] with k = the CPUs this process may use, checks the
outputs and prints, as the last line of standard output, one JSON
object: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics of BENCHMARK.json with `--trace 0`, the per-layer ones with
`--trace 1`). Exits 1 when an output check fails, 2 when the engine
sources or the toolchain are missing. See exbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

ROOT = build.ROOT
EXPLAIN_ROWS = 1500     # rows per trace of the explain fixture
# explain fixtures with a digest recorded in expected.json (record.py);
# a run uses fixture `seed % EXPLAIN_FIXTURES`
EXPLAIN_FIXTURES = 100
JVM_HEAP = "3g"
DEADLINE_S = 170        # a run must end within 180 s
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code):
    print(f"exbench: {msg}", file=sys.stderr)
    sys.exit(code)


def generate_inputs(run_dir, workload, seed, trace):
    """Explain fixture and/or suite tables for this seed (untimed)."""
    import gen_folder1
    import gen_tables
    dirs = {}
    if workload == "explain" or trace:
        dirs["explain"] = os.path.join(run_dir, "explain")
        gen_folder1.generate(dirs["explain"], seed=seed % EXPLAIN_FIXTURES, rows=EXPLAIN_ROWS)
    if workload == "suite_mix" or trace:
        dirs["tables"] = os.path.join(run_dir, "tables")
        gen_tables.generate(dirs["tables"], seed=seed)
    return dirs


def run_jvm(cp, args, run_dir, deadline):
    # no hsperfdata file: the JVM would write it outside the run directory
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.exbench.Main"] + args
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        fail(f"benchmark JVM failed ({code}):\n{tail}", 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["explain", "suite_mix"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        cp = build.ensure()
    except (OSError, build.BuildError) as e:
        fail(str(e), 2)
    deadline = time.time() + DEADLINE_S - 5

    runs = os.path.join(build.build_root(), "runs")
    shutil.rmtree(runs, ignore_errors=True)
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{a.trace}")
    os.makedirs(run_dir)
    dirs = generate_inputs(run_dir, a.workload, a.seed, a.trace)
    out = os.path.join(run_dir, "out")
    cores = len(os.sched_getaffinity(0))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--out", out,
            "--explain-rows", str(EXPLAIN_ROWS)]
    if "explain" in dirs:
        args += ["--explain-dir", dirs["explain"]]
    if "tables" in dirs:
        args += ["--tables-dir", dirs["tables"]]
    run_jvm(cp, args, run_dir, deadline)

    with open(os.path.join(out, "result.json")) as fh:
        res = json.load(fh)
    problems = list(res["notes"])
    if "explain_digest" in res:
        fixture = str(a.seed % EXPLAIN_FIXTURES)
        with open(os.path.join(HERE, "expected.json")) as fh:
            want = json.load(fh)["explain_digests"][fixture]
        if res["explain_digest"] != want:
            problems.append(f"explain digest {res['explain_digest']} != {want} recorded"
                            f" for fixture {fixture}")
    if "suite_digest" in res:
        import oracle
        problems += oracle.check(dirs["tables"], os.path.join(out, "oracle"))
    failed = res["failed"]
    if problems and failed == 0:
        # a failed oracle or recorded-digest check fails every operation,
        # since every timed output was checked equal to the checked one
        failed = res["attempted"]

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        fail(f"metrics missing from the run: {missing}", 1)
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]} for m in wanted}
    for p in problems:
        print(f"exbench: check failed: {p}", file=sys.stderr)
    line = {"correct": not problems and failed == 0, "attempted": res["attempted"],
            "failed": failed, "metrics": metrics}
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
