"""Build file of the benchmark: compiles the engine's sources
(`src/main/scala`) together with the benchmark's own (`exbench/src`)
with the Scala compiler that ships in Spark's `jars/` directory.

    python3 exbench/build.py

Output goes to `$CARGO_TARGET_DIR/exbench/classes` (default
`.bench_build/exbench/classes`, relative to the repository root). A stamp
of the source contents skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "exbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")


class BuildError(Exception):
    pass


def build_root():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d, "exbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark installation with a Scala compiler: set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found under {ENGINE_SRC}")
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True))
    return files


def ensure():
    """Compile if needed; return the classpath the benchmark runs with."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(build_root(), "classes")
    stamp_file = os.path.join(out, ".stamp")
    cp = f"{out}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return cp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_root()}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*")] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scala compile failed:\n" + r.stdout[-4000:])
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return cp


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
