import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import metrics  # noqa: E402
import run  # noqa: E402


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class SpecTest(unittest.TestCase):
    def test_spec_matches_the_metrics_the_runner_reports(self):
        spec = load_spec()
        self.assertEqual([w["name"] for w in spec["workloads"]], run.WORKLOADS)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         metrics.per_layer_names(run.QUERY_KEYS))
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertRegex(m["name"], r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")
        for m in spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual(setup["bound"], max(m["bound"] for m in spec["end_to_end"]))

    def test_one_command_prints_every_metric_with_its_unit(self):
        out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--describe"],
                             capture_output=True, text=True, check=True).stdout
        spec = load_spec()
        listed = set(re.findall(r"^\s+(\S+) \[(\S+)\]$", out, re.M))
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertIn((m["name"], m["unit"]), listed)

    def test_fails_without_the_program_sources(self):
        with tempfile.TemporaryDirectory() as tmp:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(BENCH, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            spec = load_spec()
            p = subprocess.run(spec["command"] + ["--workload", "etl_movies", "--seed", "1",
                                                  "--seconds", "1", "--trace", "0"],
                               cwd=tmp, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main()
