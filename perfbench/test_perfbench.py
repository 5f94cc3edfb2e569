"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the repository root. The tests marked slow build the harness
(if needed) and run it, a few minutes in all.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import floors  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def bench(*args):
    """Run the benchmark; returns (exit code, stdout lines)."""
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    return p.returncode, p.stdout.strip().splitlines()


class Names(unittest.TestCase):

    def test_metric_and_workload_names(self):
        names = [w["name"] for w in SPEC["workloads"]]
        names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_workloads_are_runnable(self):
        for w in SPEC["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


class Fixtures(unittest.TestCase):

    def test_floors_tables_cached_by_shape(self):
        a = run.floors_fixture()
        stamp = os.stat(os.path.join(a, "documents.parquet")).st_mtime_ns
        self.assertEqual(run.floors_fixture(), a)
        self.assertEqual(os.stat(os.path.join(a, "documents.parquet")).st_mtime_ns, stamp)
        with open(os.path.join(a, "_OK")) as f:
            self.assertEqual(f.read(), json.dumps(floors.SHAPE, sort_keys=True))

    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as d:
            floors.write_tables(os.path.join(d, "x"), 7)
            floors.write_tables(os.path.join(d, "y"), 7)
            floors.write_tables(os.path.join(d, "z"), 8)

            def read(sub):
                with open(os.path.join(d, sub, "documents.parquet"), "rb") as f:
                    return f.read()
            self.assertEqual(read("x"), read("y"))
            self.assertNotEqual(read("x"), read("z"))

    def test_generation_never_in_the_measured_jvm(self):
        # fixtures are made by run.py and perfbench.Gen before the harness
        # JVM starts; the harness only reads them
        src = os.path.join(HERE, "src", "main", "scala", "perfbench")
        harness = open(os.path.join(src, "Harness.scala")).read()
        for gen in ("WatFixture", "syntheticWat", "Gen.main"):
            self.assertNotIn(gen, harness)

    def test_pipeline_inputs_depend_on_seed_only(self):
        cp = run.build()
        with tempfile.TemporaryDirectory() as d:
            for sub, seed in (("a", 5), ("b", 5), ("c", 6)):
                os.makedirs(os.path.join(d, sub))
                run.fleet_fixture(cp, seed, os.path.join(d, sub), 1e12)
            exp = {s: json.load(open(os.path.join(d, s, "expected.json"))) for s in "abc"}
        self.assertEqual(exp["a"], exp["b"])
        self.assertNotEqual(exp["a"]["inputs"], exp["c"]["inputs"])
        self.assertEqual(len(exp["a"]["inputs"]), 22)
        self.assertEqual(exp["a"]["golden"], "ok")


class Runs(unittest.TestCase):
    """Slow: each runs the benchmark end to end."""

    def assert_result(self, lines, metrics):
        out = json.loads(lines[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(out["metrics"]), {m["name"] for m in metrics})
        for m in metrics:
            self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"])
        return out

    def test_wrong_expected_hash_fails_checks_but_reports(self):
        for w in ("fleet", "floors"):
            rc, lines = bench("--workload", w, "--seed", "3", "--seconds", "1",
                              "--trace", "0", "--expect-wrong")
            self.assertEqual(rc, 0)
            out = self.assert_result(lines, SPEC["end_to_end"])
            self.assertFalse(out["correct"])
            self.assertGreater(out["failed"], 0)
            self.assertTrue(any(l.lstrip().startswith("failed_share") for l in lines))

    def test_traced_run_prints_every_layer_metric(self):
        rc, lines = bench("--workload", "floors", "--seed", "3", "--seconds", "1",
                          "--trace", "1")
        self.assertEqual(rc, 0)
        out = self.assert_result(lines, SPEC["per_layer"])
        self.assertTrue(out["correct"])
        with open(os.path.join(run.WORK, "traces", "floors.json")) as f:
            trace = json.load(f)
        self.assertIn("q_bpe_train.wall_s", trace["detail"])

    def test_refuses_to_run_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "fleet",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
