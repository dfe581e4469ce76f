#!/usr/bin/env python3
"""Smoke test of the benchmark itself (not of the program it measures).

Runs every workload at a tiny size, untraced and traced, and checks that
the result line names every metric of BENCHMARK.json with its unit; checks
that a planted wrong output (one triple dropped) fails the correctness
check; checks that the runner refuses to run without the repository's
sources. Takes several minutes: each run starts Spark and builds cold.

Usage (from the repository root):
    python3 perfbench/smoke_test.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.getcwd()
RUN = [sys.executable, os.path.join("perfbench", "run.py")]
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload, trace, *extra, cwd=ROOT):
    proc = subprocess.run(
        RUN + ["--workload", workload, "--seed", "7", "--seconds", "1",
               "--trace", str(trace), "--tiny", *extra],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)
    return proc


def result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):

    def assert_metrics(self, res, declared):
        self.assertEqual(set(res), {"correct", "attempted", "failed",
                                    "metrics"})
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_workloads_print_every_metric(self):
        for w in SPEC["workloads"]:
            for trace, declared in ((0, SPEC["end_to_end"]),
                                    (1, SPEC["per_layer"])):
                with self.subTest(workload=w["name"], trace=trace):
                    res = result(run(w["name"], trace))
                    self.assertTrue(res["correct"], res)
                    self.assertEqual(res["failed"], 0)
                    self.assert_metrics(res, declared)
                    if trace == 0:
                        for m in declared:
                            self.assertGreater(res["metrics"][m["name"]]["value"],
                                               0, m["name"])

    def test_dropped_triple_fails_the_check(self):
        res = result(run("kg_delta", 0, "--plant-drop"))
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)

    def test_refuses_without_sources(self):
        d = tempfile.mkdtemp(dir=os.path.join(ROOT, "perfbench"),
                             prefix=".smoke-")
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"),
                            os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(
                                ".smoke-*", "target", "project"))
            proc = run("kg_delta", 0, cwd=d)
            self.assertNotEqual(proc.returncode, 0)
            self.assertEqual(proc.stdout.strip(), "")
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main(verbosity=2)
