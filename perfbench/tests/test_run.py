#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

Run from the root of a checkout (each test starts the JVM harness, so the
suite takes a few minutes). They check that the result line parses, that
every metric `BENCHMARK.json` names is emitted finite with its unit, that a
planted wrong answer is reported as a failure rather than as a fast run, and
that the benchmark refuses to report without the engine's sources.
"""
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.getcwd()
RUN = os.path.join("perfbench", "run.py")
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def bench(workload, *extra, seconds=2, trace=0, cwd=ROOT):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "7",
           "--seconds", str(seconds), "--trace", str(trace)] + list(extra)
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          timeout=900, text=True)


def result(done):
    assert done.returncode == 0, done.stderr[-3000:]
    return json.loads(done.stdout.strip().splitlines()[-1])


class ResultLine(unittest.TestCase):

    def assert_metrics(self, res, declared):
        self.assertEqual(list(res), ["correct", "attempted", "failed", "metrics"])
        self.assertIsInstance(res["attempted"], int)
        self.assertIsInstance(res["failed"], int)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = res["metrics"][m["name"]]
            self.assertEqual(set(got), {"value", "unit"})
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])

    def test_every_end_to_end_metric_on_every_workload(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                res = result(bench(w["name"]))
                self.assert_metrics(res, SPEC["end_to_end"])
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                for m in SPEC["end_to_end"]:
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])

    def test_every_per_layer_metric_when_traced(self):
        res = result(bench("cdc_activation", trace=1))
        self.assert_metrics(res, SPEC["per_layer"])
        self.assertTrue(res["correct"])
        self.assertGreater(res["metrics"]["spark.jobs"]["value"], 0)
        self.assertGreater(res["metrics"]["etl.av_build_s"]["value"], 0)


class PlantedWrongAnswers(unittest.TestCase):

    def test_dropped_cdc_batch_is_a_failure(self):
        res = result(bench("cdc_activation", "--inject", "drop_cdc_batch"))
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)

    def test_wrong_query_result_is_a_failure(self):
        res = result(bench("analytics_mix", "--inject", "wrong_result"))
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)


class NoEngine(unittest.TestCase):

    def test_refuses_without_engine_sources(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as bare:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            done = bench("analytics_mix", cwd=bare)
            self.assertNotEqual(done.returncode, 0)
            last = (done.stdout.strip().splitlines() or [""])[-1]
            self.assertFalse(last.startswith("{"), last)


if __name__ == "__main__":
    unittest.main()
