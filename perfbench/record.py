#!/usr/bin/env python3
"""Re-record what the benchmark expects of the engine, from the current tree.

    python3 perfbench/record.py [--lake DIR]

Run from the root of a checkout, only after a change that is meant to change
query results or their relative cost. It writes, under `perfbench/expected/`:

- `hashes.json` and `fingerprints.json`: each candidate query's and corpus
  memo's result hash and observed fingerprint (`Main --record`). A result
  that differs between two runs in one process is reported, not recorded.
- `costs.json`: each analytics query's median latency over three runs of the
  whole population in seed order 901-903, which orders the stratified draw.

Then run `python3 perfbench/oracle_check.py` to cross-check the hashes
against the DuckDB oracle.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

POPULATION_SECONDS = 75  # 1.6 queries per second draws all 120 analytics queries
CALIBRATION_SEEDS = (901, 902, 903)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--lake", default=run.DEFAULT_LAKE)
    args = p.parse_args()
    root = os.getcwd()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    classes = run.build(root, out)
    expected = os.path.join(HERE, "expected")

    work = os.path.join(out, "work", "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    subprocess.run(["java"] + run.jvm_opts() + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", classes + os.pathsep + run.spark_jars(), "graft.perfbench.Main",
        "--record", "1", "--hashes", os.path.join(expected, "hashes.json"),
        "--fingerprints", os.path.join(expected, "fingerprints.json"),
        "--lake", args.lake, "--work", work], check=True, cwd=root)
    shutil.rmtree(work, ignore_errors=True)

    latencies = {}
    detail = os.path.join(out, "calibration.json")
    for seed in CALIBRATION_SEEDS:
        population = argparse.Namespace(workload="analytics_mix", seed=seed, inject=None,
                                        seconds=POPULATION_SECONDS, lake=args.lake)
        os.makedirs(work)
        try:
            run.run_harness(root, classes, population, work, detail, 0, timeout=None)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        for step in json.load(open(detail))["steps"]:
            latencies.setdefault(step["name"], []).append(step["ms"])
    costs = {k: round(statistics.median(v), 1) for k, v in sorted(latencies.items())}
    with open(os.path.join(expected, "costs.json"), "w") as f:
        json.dump(costs, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
