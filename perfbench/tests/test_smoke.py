#!/usr/bin/env python3
"""Smoke check of the benchmark's output contract at the tiny profile.

    python3 -m unittest discover -s perfbench/tests -v

Runs every workload of BENCHMARK.json once untraced and once traced with
`--size tiny`, and asserts that the last stdout line is the result object,
that the untraced run prints every end-to-end metric and the traced run
every per-layer metric, each with its declared unit, and that a directory
holding only the benchmark (no program sources) fails without a result.
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload: str, trace: int, cwd: Path = ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


class SmokeTest(unittest.TestCase):

    def check_result(self, workload: str, trace: int, declared: list):
        p = run(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(result["correct"], True, p.stderr[-3000:])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        metrics = result["metrics"]
        self.assertEqual(sorted(metrics), sorted(m["name"] for m in declared))
        for m in declared:
            self.assertEqual(metrics[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(metrics[m["name"]]["value"], (int, float), m["name"])
        return metrics

    def test_workloads(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"], trace=0):
                metrics = self.check_result(w["name"], 0, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(metrics[m["name"]]["value"], 0, m["name"])
            with self.subTest(workload=w["name"], trace=1):
                self.check_result(w["name"], 1, SPEC["per_layer"])

    def test_fails_without_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            for p in SPEC["paths"]:
                shutil.copytree(ROOT / p, Path(d) / p,
                                ignore=shutil.ignore_patterns("__pycache__"))
            p = run(SPEC["workloads"][0]["name"], 0, cwd=Path(d))
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    sys.exit(unittest.main())
