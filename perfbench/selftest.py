"""Self-tests of the benchmark. Run from the root of a checkout:

    python3 perfbench/selftest.py

- The oracle rejects wrong answers (no Spark).
- A smoke-size run of each workload, untraced and traced, prints every
  metric BENCHMARK.json names, each with its unit, and all ops pass.
- A run whose oracle holds an injected wrong expectation prints its
  metrics, reports correct=false and exits non-zero.
- Without the program next to it, the command fails without a result.
"""
from __future__ import annotations

import contextlib
import io
import json
import math
import os
import shutil
import subprocess
import sys
import unittest
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow as pa  # noqa: E402

import oracle  # noqa: E402
import run as bench  # noqa: E402
import workloads  # noqa: E402
from harness import OpFailure  # noqa: E402

ROOT = os.getcwd()
SMOKE = {"TABLE_TURNS": 60_000, "TABLE_FILES": 4, "SINK_TURNS": 5_000,
         "SINK_FILES": 2, "UPSERT_TURNS": 300, "SETUP_REPEATS": 2}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*argv) -> tuple:
    """run.main in this process at smoke size: (exit code, details,
    result)."""
    saved = {k: getattr(workloads, k) for k in SMOKE}
    for k, v in SMOKE.items():
        setattr(workloads, k, v)
    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            code = bench.main(list(argv))
    finally:
        for k, v in saved.items():
            setattr(workloads, k, v)
    lines = out.getvalue().strip().splitlines()
    return code, json.loads(lines[-2])["perfbench"], json.loads(lines[-1])


class OracleRejects(unittest.TestCase):
    def setUp(self):
        self.table = pa.table({
            "conv_id": ["c1", "c1", "c2"], "turn_idx": [0, 1, 0],
            "text": ["a", "b", "c"]})

    def test_rows_in_any_order_pass(self):
        oracle.expect_rows("rows", self.table.take([2, 0, 1]), self.table)

    def test_changed_value_fails(self):
        wrong = self.table.set_column(2, "text", pa.array(["a", "b", "x"]))
        with self.assertRaises(OpFailure):
            oracle.expect_rows("rows", wrong, self.table)

    def test_missing_row_fails(self):
        with self.assertRaises(OpFailure):
            oracle.expect_rows("rows", self.table.slice(0, 2), self.table)

    def test_checksum_mismatch_fails(self):
        with self.assertRaises(OpFailure):
            oracle.expect_equal("checksums", {"rows": 3, "text.lo": 1},
                                {"rows": 3, "text.lo": 2})

    def test_latest_model_replaces_old_version(self):
        model = oracle.LatestModel(self.table)
        model.upsert(pa.table({"conv_id": ["c1"], "turn_idx": [1],
                               "text": ["b2"]}))
        oracle.expect_rows("latest", pa.table({
            "conv_id": ["c1", "c1"], "turn_idx": [0, 1],
            "text": ["a", "b2"]}), model.expected(["c1"]))
        with self.assertRaises(OpFailure):
            oracle.expect_rows("latest", self.table.slice(0, 2),
                               model.expected(["c1"]))


class SmokeRuns(unittest.TestCase):
    def setUp(self):
        # py4j leaves its sockets to the garbage collector after each
        # gateway shutdown
        warnings.simplefilter("ignore", ResourceWarning)

    def check_result(self, result: dict, declared: list) -> None:
        self.assertEqual(set(result),
                         {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]),
                         {m["name"] for m in declared})
        for m in declared:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])

    def test_every_metric_prints_with_its_unit(self):
        spec = _spec()
        for w in (x["name"] for x in spec["workloads"]):
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    code, details, result = _run(
                        "--workload", w, "--seed", "7", "--seconds", "1",
                        "--trace", str(trace))
                    self.assertEqual(code, 0, details["errors"])
                    self.check_result(result, spec[key])
                    self.assertEqual(details["errors"], [])
                    for name, fig in details["named"].items():
                        self.assertIn("unit", fig, name)
                    if trace == 0:
                        self.assertGreater(
                            result["metrics"]["turns_per_s"]["value"], 0)

    def test_injected_wrong_expectation_fails_the_run(self):
        real = oracle.SourceOracle.value_counts

        def wrong(self, col):
            counts = real(self, col)
            counts["user"] += 1
            return counts

        oracle.SourceOracle.value_counts = wrong
        try:
            code, details, result = _run(
                "--workload", "scan_query", "--seed", "7", "--seconds", "1",
                "--trace", "0")
        finally:
            oracle.SourceOracle.value_counts = real
        self.assertNotEqual(code, 0)
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertTrue(all(e.startswith("group_count")
                            for e in details["errors"]), details["errors"])
        self.assertEqual(set(result["metrics"]),
                         {m["name"] for m in _spec()["end_to_end"]})


class BareDirectory(unittest.TestCase):
    def test_fails_without_the_program(self):
        bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload",
                 "scan_query", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=bare, capture_output=True,
                text=True, timeout=170)
        finally:
            shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(proc.returncode, 0)
        self.assertNotIn('"correct"', proc.stdout)


if __name__ == "__main__":
    unittest.main()
