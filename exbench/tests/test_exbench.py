"""Tests of the benchmark's own code.

    python3 -m unittest discover -s exbench/tests

The last test builds the engine and runs one benchmark JVM (about a
minute on 4 cores).
"""
import filecmp
import json
import os
import shutil
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import gen_folder1  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402


def same_tree(a, b):
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(build.build_root(), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=build.build_root())

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_folder1_same_seed_same_bytes(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        self.assertEqual(gen_folder1.generate(a, seed=5, rows=1500), 29)
        gen_folder1.generate(b, seed=5, rows=1500)
        gen_folder1.generate(c, seed=6, rows=1500)
        self.assertTrue(same_tree(a, b))
        self.assertFalse(same_tree(a, c))

    def test_folder1_seed42_reproduces_e2e_fixture(self):
        script = os.path.join(build.ROOT, "scripts", "e2e_compare", "gen_folder1.py")
        if not os.path.exists(script):
            self.skipTest("scripts/e2e_compare is not in this checkout")
        orig, ours = os.path.join(self.tmp, "orig"), os.path.join(self.tmp, "ours")
        with open(script) as fh:
            src = fh.read().replace('"/tmp/folder1scale"', repr(orig))
        exec(compile(src, script, "exec"), {"__name__": "gen"})
        gen_folder1.generate(ours)
        self.assertTrue(same_tree(orig, ours))

    def test_tables_same_seed_same_bytes(self):
        a, b = os.path.join(self.tmp, "a"), os.path.join(self.tmp, "b")
        gen_tables.generate(a, seed=3)
        gen_tables.generate(b, seed=3)
        self.assertEqual(len(os.listdir(a)), 10)
        self.assertTrue(same_tree(a, b))


class ExpectedDigestsTest(unittest.TestCase):
    def test_every_explain_fixture_has_a_recorded_digest(self):
        with open(os.path.join(build.BENCH_DIR, "expected.json")) as fh:
            expected = json.load(fh)
        self.assertEqual(expected["explain_rows"], run.EXPLAIN_ROWS)
        self.assertEqual(sorted(expected["explain_digests"], key=int),
                         [str(s) for s in range(run.EXPLAIN_FIXTURES)])


class TracedDigestTest(unittest.TestCase):
    FIXTURE_ROWS = 300  # rows per trace of src/test/resources/traces

    def test_traced_reassembly_matches_pipeline_on_traces_fixture(self):
        fixture = os.path.join(build.ROOT, "src", "test", "resources", "traces")
        cp = build.ensure()
        run_dir = tempfile.mkdtemp(dir=build.build_root())
        try:
            out = os.path.join(run_dir, "out")
            run.run_jvm(cp, ["--workload", "digest_check", "--explain-dir", fixture,
                             "--explain-rows", str(self.FIXTURE_ROWS),
                             "--cores", "2", "--out", out], run_dir, time.time() + 300)
            with open(os.path.join(out, "result.json")) as fh:
                res = json.load(fh)
            self.assertEqual(res["failed"], 0, res["notes"])
            self.assertEqual(res["untraced_digest"], res["traced_digest"])
        finally:
            shutil.rmtree(run_dir)


if __name__ == "__main__":
    unittest.main()
