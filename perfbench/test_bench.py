"""Tests of the product-path benchmark itself.

Run from the root of a checkout (each case starts the benchmark's JVM at
the tiny input size, two to three minutes in all):

    python3 -m unittest perfbench/test_bench.py
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(*args, cwd=ROOT):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1",
                        "--size", "tiny", *args], cwd=cwd, capture_output=True, text=True,
                       timeout=600)
    return r


def result(r):
    lines = r.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


class EndToEnd(unittest.TestCase):
    def test_every_workload_prints_every_metric_and_passes_its_check(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                r = bench("--workload", w, "--trace", "0")
                self.assertEqual(r.returncode, 0, r.stderr[-2000:])
                lines, res = result(r)
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreaterEqual(res["attempted"], 1)
                want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
                self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, want)
                for v in res["metrics"].values():
                    self.assertGreater(v["value"], 0)
                report = "\n".join(lines[:-1])
                self.assertRegex(report, r"run_p50_s [0-9.]+ s \(n=\d+\)")
                self.assertRegex(report, r"run_tail_s ")
                self.assertRegex(report, r"fail_frac 0\.0000 ratio \(0/\d+\)")

    def test_traced_run_prints_every_layer_metric(self):
        r = bench("--workload", "etl_lineitem", "--trace", "1")
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        _, res = result(r)
        self.assertTrue(res["correct"])
        want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, want)
        self.assertEqual(res["metrics"]["run.rows_written_mismatch"]["value"], 0)
        self.assertGreater(res["metrics"]["transforms.rows_out"]["value"], 0)


class CheckCanFail(unittest.TestCase):
    def test_wrong_expected_digest_is_a_failure(self):
        r = bench("--workload", "curate_docs", "--trace", "0", "--corrupt-expected")
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        lines, res = result(r)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], res["attempted"])
        self.assertIn("digest", "\n".join(lines))

    def test_outside_a_checkout_it_exits_nonzero_without_a_result(self):
        os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_work")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            r = bench("--workload", "etl_lineitem", "--trace", "0", cwd=d)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")


class Digest(unittest.TestCase):
    def test_canonical_values(self):
        self.assertEqual(gen.canon(None), "\\N")
        self.assertEqual(gen.canon(""), "")
        self.assertEqual(gen.canon(-0.0), "0.000000")
        self.assertEqual(gen.canon(-1e-9), "0.000000")
        self.assertEqual(gen.canon(2.5), "2.500000")
        self.assertEqual(gen.canon(7), "7")

    def test_digest_ignores_row_order(self):
        rows = [(1, "a", 0.5), (2, None, 1.25), (3, "c", -2.0)]
        self.assertEqual(gen.digest(rows), gen.digest(list(reversed(rows))))
        self.assertNotEqual(gen.digest(rows), gen.digest(rows[:2]))


if __name__ == "__main__":
    unittest.main()
