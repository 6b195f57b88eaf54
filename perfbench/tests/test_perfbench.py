"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench/tests -v

They build the benchmark if needed and run every workload once at the tiny
size (a few minutes on four cores).
"""
import importlib.util
import json
import pathlib
import subprocess
import sys
import unittest

HERE = pathlib.Path(__file__).resolve().parent.parent
spec = importlib.util.spec_from_file_location("perfbench_run", HERE / "run.py")
bench_run = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench_run)
BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def describe(seed):
    code, out = bench_run.java(bench_run.build(), ["--describe", "1", "--seed", str(seed)],
                               [], bench_run.TARGET / "describe.log")
    assert code == 0, out
    return dict(line.split(" ", 1) for line in out.splitlines())


def run_tiny(workload, trace):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.splitlines()[-1])


class Determinism(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        a, b, c = describe(7), describe(7), describe(8)
        self.assertEqual(a, b)
        self.assertNotEqual(a["corpus_digest"], c["corpus_digest"])
        self.assertNotEqual(a["ops_digest"], c["ops_digest"])


class Smoke(unittest.TestCase):
    def check(self, res, catalog):
        self.assertTrue(res["correct"], res)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(list(res["metrics"]), [m["name"] for m in catalog])
        for m in catalog:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"], m["name"])

    def test_search_end_to_end(self):
        self.check(run_tiny("search", 0), BENCHMARK["end_to_end"])

    def test_ingest_per_layer(self):
        self.check(run_tiny("ingest", 1), BENCHMARK["per_layer"])

    def test_build_end_to_end(self):
        self.check(run_tiny("build", 0), BENCHMARK["end_to_end"])


if __name__ == "__main__":
    unittest.main()
