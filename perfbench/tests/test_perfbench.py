"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v     # from the repository root

The smoke test builds graft, then runs every workload once untraced and
once traced on tiny generated tables; it takes a few minutes.
"""
import filecmp
import importlib.util
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402

spec = importlib.util.spec_from_file_location("perfbench_run", HERE / "run.py")
run = importlib.util.module_from_spec(spec)
spec.loader.exec_module(run)


class BenchmarkDefinition(unittest.TestCase):
    def test_benchmark_json_names_what_run_py_reports(self):
        bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.PER_LAYER)


class FailedSteps(unittest.TestCase):
    def test_a_failed_step_never_makes_a_pass_faster(self):
        passes = [{"steps": {"a": 1.0, "b": 4.0}, "failed": []},
                  {"steps": {"a": 0.1, "b": 3.0}, "failed": ["a"]}]
        good = run.charge_failures(passes, set(), 1)
        self.assertEqual(good, [{"a": 1.0, "b": 4.0}, {"a": 5.0, "b": 3.0}])
        # A step whose output failed the check is charged in every pass.
        wrong = run.charge_failures(passes, {"b"}, 1)
        self.assertEqual([p["b"] for p in wrong], [5.0, 5.0])
        self.assertEqual(run.charge_failures(passes, {"b"}, 9)[0]["b"], 9)


class StepMedians(unittest.TestCase):
    def test_a_stall_in_one_pass_moves_neither_figure(self):
        passes = [{"a": 1.0, "b": 2.0}, {"a": 1.2, "b": 9.0}, {"a": 5.0, "b": 2.2}]
        wall, slowest = run.step_medians(passes)
        self.assertAlmostEqual(wall, 1.2 + 2.2)
        self.assertAlmostEqual(slowest, 2.2)


class Generator(unittest.TestCase):
    def setUp(self):
        self.out = HERE / "out" / "test-gen"
        shutil.rmtree(self.out, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(self.out, ignore_errors=True)

    def test_same_seed_same_tables_other_seed_other_tables(self):
        gen.generate(self.out / "a", 7, 0.001)
        gen.generate(self.out / "b", 7, 0.001)
        gen.generate(self.out / "c", 8, 0.001)
        files = sorted(p.name for p in (self.out / "a").glob("*.parquet"))
        self.assertEqual(len(files), 10)
        _, mismatch, errors = filecmp.cmpfiles(self.out / "a", self.out / "b", files, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        _, mismatch, _ = filecmp.cmpfiles(self.out / "a", self.out / "c", files, shallow=False)
        self.assertIn("lineitem.parquet", mismatch)


class Smoke(unittest.TestCase):
    def test_every_workload_untraced_and_traced(self):
        proc = subprocess.run([sys.executable, str(HERE / "run.py"), "--smoke"], cwd=ROOT,
                              capture_output=True, text=True, timeout=1500)
        self.assertEqual(proc.returncode, 0, proc.stdout[-3000:] + proc.stderr[-3000:])
        for name in run.WORKLOADS:
            for trace, units in ((0, run.END_TO_END), (1, run.PER_LAYER)):
                for metric, unit in units.items():
                    self.assertRegex(proc.stdout, rf"{name} trace={trace} {metric} = \S+ {unit}\n")


if __name__ == "__main__":
    unittest.main()
