"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

The smoke tests run every workload at the smoke size (a few hundred rows,
every output check on) untraced and traced, and one run feeds a
deliberately wrong answer to a check and expects the run to be refused.
The compare test needs no JVM.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
RUN = os.path.join(BENCH_DIR, "run.py")
SCRATCH = os.path.join(ROOT, ".bench_work", "tests")

sys.path.insert(0, BENCH_DIR)
import compare  # noqa: E402


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(*args, cwd=ROOT, script=RUN):
    os.makedirs(SCRATCH, exist_ok=True)
    p = subprocess.run([sys.executable, script, "--seconds", "1", "--size", "smoke", "--out", os.path.join(SCRATCH, "results"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        last = None
    return p.returncode, last, p


class SmokeTest(unittest.TestCase):
    def check_run(self, workload, trace):
        code, res, p = run("--workload", workload, "--seed", "7", "--trace", str(trace))
        self.assertEqual(code, 0, p.stderr[-3000:])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        declared = bench()["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in declared}, workload)
        for m in declared:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"], m["name"])
        return res

    def test_serve(self):
        self.check_run("serve", 0)
        self.check_run("serve", 1)

    def test_churn(self):
        self.check_run("churn", 0)
        self.check_run("churn", 1)

    def test_curate(self):
        self.check_run("curate", 0)
        self.check_run("curate", 1)

    def test_wrong_answers_are_caught(self):
        for workload, op in (("serve", "knn"), ("curate", "components")):
            code, res, p = run("--workload", workload, "--seed", "7", "--fault", op)
            self.assertEqual(code, 3, p.stderr[-3000:])
            self.assertFalse(res["correct"])
            self.assertGreater(res["failed"], 0)


class RefusesWithoutEngine(unittest.TestCase):
    def test_no_engine_sources(self):
        os.makedirs(SCRATCH, exist_ok=True)
        d = tempfile.mkdtemp(dir=SCRATCH)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH_DIR, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            code, res, _ = run("--workload", "serve", "--seed", "1", cwd=d,
                               script=os.path.join(d, "perfbench", "run.py"))
            self.assertNotEqual(code, 0)
            self.assertIsNone(res)
        finally:
            shutil.rmtree(d)


class CompareTest(unittest.TestCase):
    def verdict(self, par, chg, better="lower", bound=0.1):
        return compare.verdict(par, chg, better, bound)[-1]

    def test_verdicts(self):
        base = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        self.assertEqual(self.verdict(base, [x * 0.8 for x in base]), "improved")
        self.assertEqual(self.verdict(base, [x * 1.3 for x in base]), "regressed")
        self.assertEqual(self.verdict(base, list(base)), "unchanged")
        noisy = [60, 140, 80, 120, 100, 70, 130, 90, 110, 100]
        self.assertEqual(self.verdict(noisy, list(reversed(noisy))), "unresolved")
        self.assertEqual(self.verdict(base, [x * 1.3 for x in base], better="higher"), "improved")


if __name__ == "__main__":
    unittest.main()
