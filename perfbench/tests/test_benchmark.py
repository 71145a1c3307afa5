"""Tests of the benchmark itself.

Run from the root of a graft checkout:
  python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
SCRATCH = os.path.join(ROOT, ".bench_build", "test")


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class InputsTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_same_digest_other_seed_other_digest(self):
        for workload in sorted(run.WORKLOAD_OPS):
            with self.subTest(workload=workload):
                a = gen.generate(workload, 5, os.path.join(SCRATCH, workload, "a"))
                b = gen.generate(workload, 5, os.path.join(SCRATCH, workload, "b"))
                c = gen.generate(workload, 6, os.path.join(SCRATCH, workload, "c"))
                self.assertEqual(a["digest"], b["digest"])
                self.assertNotEqual(a["digest"], c["digest"])
                # the shape is fixed; only the values depend on the seed
                self.assertEqual(a["sizes"], c["sizes"])
                self.assertEqual(a["input_rows"], c["input_rows"])


class MetricsTest(unittest.TestCase):
    def test_metric_names(self):
        spec = load_spec()
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        names += [w["name"] for w in spec["workloads"]]
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_spec_matches_the_runner(self):
        spec = load_spec()
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOAD_OPS))
        setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in spec["end_to_end"]))


class RunTest(unittest.TestCase):
    """Builds the program if needed and runs one short benchmark run per mode."""

    def run_bench(self, trace):
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "dq_fact", "--seed", "3",
             "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=1200)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_every_listed_metric_is_reported(self):
        spec = load_spec()
        for trace, listed in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            with self.subTest(trace=trace):
                res = self.run_bench(trace)
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreaterEqual(res["attempted"], 1)
                self.assertEqual(set(res["metrics"]), {m["name"] for m in listed})
                for m in listed:
                    self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
                    self.assertIsInstance(res["metrics"][m["name"]]["value"], (int, float))


if __name__ == "__main__":
    unittest.main()
