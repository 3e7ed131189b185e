"""The benchmark's own tests. Run from the root of a checkout:

    python3 perfbench/test_bench.py

They run the real harness (one short run of ``etl_biblio``, about a minute
once the harness is built) and write only under ``.bench_build/``.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".bench_build", "test")
sys.path.insert(0, HERE)

import gen  # noqa: E402


def run_bench(cwd, *extra):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", "etl_biblio", "--seed", "3", "--seconds", "1",
         "--trace", "0", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def last_json(stdout):
    lines = stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines else None


class GeneratedInputs(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def assertSameTree(self, a, b):
        names = sorted(os.listdir(a))
        self.assertEqual(names, sorted(os.listdir(b)))
        _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_same_seed_gives_identical_bytes(self):
        for family, fn in (("biblio", gen.gen_biblio), ("tables", gen.gen_tables)):
            a, b, c = (os.path.join(SCRATCH, f"{family}-{x}") for x in "abc")
            fn(7, a)
            fn(7, b)
            fn(8, c)
            self.assertSameTree(a, b)
            _, mismatch, _ = filecmp.cmpfiles(a, c, os.listdir(a), shallow=False)
            self.assertTrue(mismatch, f"seeds 7 and 8 gave the same {family}")


class FailureAccounting(unittest.TestCase):
    def test_injected_failures_count_and_fail_the_run(self):
        # `throwcol` throws only in a projected column (the harness first
        # checks that count() does not evaluate it); `wrong` returns an
        # output its oracle rejects
        p = run_bench(ROOT, "--inject", "throwcol,wrong")
        self.assertNotEqual(p.returncode, 0, p.stderr[-2000:])
        res = last_json(p.stdout)
        self.assertIsNotNone(res, p.stderr[-2000:])
        self.assertFalse(res["correct"])
        runs = res["attempted"] // 7  # 5 workload queries + 2 injected
        self.assertEqual(res["attempted"], 7 * runs)
        self.assertEqual(res["failed"], 2 * runs)
        self.assertIn("# FAILED inject_throwcol: ", p.stdout)
        self.assertIn("injected failure", p.stdout)
        self.assertIn("# FAILED inject_wrong: ", p.stdout)
        self.assertIn("differ from the oracle", p.stdout)

    def test_bare_directory_fails_without_a_result(self):
        bare = os.path.join(SCRATCH, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = run_bench(bare)
        self.assertNotEqual(p.returncode, 0)
        self.assertIsNone(last_json(p.stdout))


if __name__ == "__main__":
    unittest.main()
