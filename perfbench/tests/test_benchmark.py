"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

The spec tests read BENCHMARK.json, perfbench/layers.json and
perfbench/README.md. The self-test builds the program and runs
`run.py --selftest` (about a minute).
"""
import json
import os
import re
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}\Z")


def load(*path):
    with open(os.path.join(*path)) as fh:
        return json.load(fh)


class SpecTest(unittest.TestCase):
    def setUp(self):
        self.spec = load(ROOT, "BENCHMARK.json")
        layers = load(BENCH, "layers.json")
        self.moves = layers["moves"]
        self.workloads = [w["name"] for w in self.spec["workloads"]]
        self.e2e = [m["name"] for m in self.spec["end_to_end"]]
        self.layers = [m["name"] for m in self.spec["per_layer"]]

    def test_names_are_plain_and_unique(self):
        names = self.workloads + self.e2e + self.layers
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("higher", "lower"))

    def test_bounds_and_setup_metric(self):
        bounds = {m["name"]: m["bound"] for m in self.spec["end_to_end"]}
        for b in bounds.values():
            self.assertGreater(b, 0)
            self.assertLessEqual(b, 0.25)
        setup = next(m for m in self.spec["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))

    def test_every_layer_metric_maps_to_an_end_to_end_metric_and_workload(self):
        self.assertEqual(set(self.layers), set(self.moves))
        for name, pairs in self.moves.items():
            self.assertTrue(pairs, name)
            for metric, workload in pairs:
                self.assertIn(metric, self.e2e, name)
                self.assertIn(workload, self.workloads, name)

    def test_readme_documents_every_name(self):
        with open(os.path.join(BENCH, "README.md")) as fh:
            readme = fh.read()
        for n in self.workloads + self.e2e + self.layers:
            self.assertIn(f"`{n}`", readme)


class OutputCheckTest(unittest.TestCase):
    def test_checks_catch_a_corrupt_file_and_a_dropped_row(self):
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--selftest"],
                           capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-3000:])
        for case in ("engine_lz4 check, corrupt file", "engine_lz4 check, dropped row",
                     "transcripts check, corrupt file", "transcripts check, dropped row",
                     "engine_lz4 check, intact file", "transcripts check, intact output"):
            self.assertIn(f"selftest ok   {case}", p.stdout)


if __name__ == "__main__":
    unittest.main()
