"""Self-test of the benchmark: every workload at its scale, one-second runs.

Run from the repository root:  python3 perfbench/test_selftest.py

It builds the engine like a benchmark run does, then checks that
  - the seeded generator is byte-reproducible and seed-sensitive;
  - layers.json maps every metric BENCHMARK.json names;
  - every workload emits every end-to-end metric with its unit, correct;
  - every workload's traced run emits every per-layer metric with its unit,
    and the layers it exercises read non-zero;
  - the correctness gate catches a deliberately corrupted output.
Each workload run takes about a minute (curation_build about three).
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gate  # noqa: E402
import gen  # noqa: E402

def load(path):
    with open(path) as f:
        return json.load(f)


SPEC = load(os.path.join(HERE, "layers.json"))
BENCH = load(os.path.join(ROOT, "BENCHMARK.json"))
WORKLOADS = list(SPEC["workloads"])
# layers whose value can legitimately be 0 on a tiny run
MAY_BE_ZERO = {"exec.spill_bytes", "exec.gc_ms", "exec.shuffle_write_bytes",
               "analytics.construct_jobs", "plans.top_rule_ms", "plans.physical_ms",
               "plans.analyze_ms", "plans.optimize_ms", "gate.fail_ratio",
               "ingest.rows_quarantined", "streaming.plan_ms",
               "streaming.rows_dropped_dup", "dedup.verified_pairs", "dedup.verify_yield",
               "similarity.recall_at_k"}


def bench(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--seconds", "1", "--seed", "3"] + list(args),
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"run.py {args} exited {r.returncode}:\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def per_layer_defs(workload):
    """(definition, workloads it is measured on) of every per-layer metric."""
    opt = SPEC["opt_in"].get(workload)
    if opt:
        return [(m, [workload]) for m in opt["per_layer"]]
    return [(m, SPEC["metrics"][m["name"]]["workloads"]) for m in BENCH["per_layer"]]


class Generator(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            ma = gen.generate(a, 5)
            mb = gen.generate(b, 5)
            mc = gen.generate(c, 6)
            self.assertEqual(ma["files"], mb["files"])
            self.assertNotEqual(ma["files"]["base/events.parquet"]["sha256"],
                                mc["files"]["base/events.parquet"]["sha256"])
            for f in ma["files"].values():
                self.assertGreater(f["rows"], 0)


class Spec(unittest.TestCase):
    def test_layers_map_every_metric(self):
        names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
        self.assertEqual(sorted(SPEC["metrics"]), sorted(names))
        for w in BENCH["workloads"]:
            self.assertIn(w["name"], WORKLOADS)


class Gate(unittest.TestCase):
    def test_diff_flags_one_changed_value(self):
        import pandas as pd
        want = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        self.assertEqual(gate.diff(want, want.iloc[::-1]), [])
        self.assertTrue(gate.diff(want, pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})))

    def test_run_with_corrupted_output_is_not_correct(self):
        _, res = bench("--workload", "incremental_ingest", "--corrupt", "ingest_staged")
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)


class Workloads(unittest.TestCase):
    def check_metrics(self, res, defs):
        for m in defs:
            self.assertIn(m["name"], res["metrics"])
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
            self.assertIsInstance(res["metrics"][m["name"]]["value"], float)
        self.assertEqual(len(res["metrics"]), len(defs))

    def test_end_to_end(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                detail, res = bench("--workload", w, "--trace", "0")
                self.assertTrue(res["correct"], detail)
                self.assertEqual(res["failed"], 0)
                self.check_metrics(res, BENCH["end_to_end"])
                for name, m in res["metrics"].items():
                    self.assertGreater(m["value"], 0, name)
                self.assertEqual(detail["seed"], 3)
                self.assertTrue(detail["inputs"])
                for k in ("git_commit", "nproc", "heap_limit", "spark_version",
                          "jvm_version", "loadavg_start", "loadavg_end"):
                    self.assertIn(k, detail["env"])

    def test_traced(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                detail, res = bench("--workload", w, "--trace", "1")
                self.assertTrue(res["correct"], detail)
                defs = per_layer_defs(w)
                self.check_metrics(res, [m for m, _ in defs])
                for m, on in defs:
                    if w in on and m["name"] not in MAY_BE_ZERO:
                        self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])


if __name__ == "__main__":
    unittest.main(verbosity=2)
