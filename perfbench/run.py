#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine
(`src/main/scala`) and the harness (`perfbench/src`) into `.bench_build/`;
later runs reuse the classes while the sources are unchanged. Each run is a
fresh JVM at `local[<cores>]` over the read-only parquet lake
(`PERFBENCH_LAKE`, default `~/testdata/sf0.01`), with all scratch state
under `.bench_build/work/`, removed when the run ends.

The last stdout line is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics untraced, the
per-layer metrics traced. The detail record of each run (seed, steps,
spans) is kept in `.bench_build/results/`.

`--inject wrong_result|drop_cdc_batch` plants a wrong answer; the
benchmark's own tests use it to show the run is then reported as failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_LAKE = os.environ.get("PERFBENCH_LAKE",
                              os.path.join(os.path.expanduser("~"), "testdata", "sf0.01"))
WORKLOADS = ("cdc_activation", "analytics_mix", "curation_batch")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME`, else the install that
    `spark-submit` on the PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        sys.exit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources(root):
    """Engine and harness sources; the build needs both."""
    found = []
    for top in ("src/main/scala", "perfbench/src"):
        base = os.path.join(root, top)
        if not os.path.isdir(base):
            sys.exit(f"perfbench: {top} is missing; run from the root of a checkout")
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def build(root, out):
    """Compile engine + harness with the Scala compiler Spark ships."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", spark_jars(), "@" + argfile]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          timeout=BUILD_TIMEOUT_S)
    if done.returncode != 0:
        sys.stderr.write(done.stdout.decode(errors="replace")[-4000:])
        sys.exit("perfbench: build failed")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


def jvm_opts():
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    opts = []
    for p in opens:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    return opts + ["-Xmx3g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]


def run_harness(root, classes, args, work, out, trace, timeout=JVM_TIMEOUT_S):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + jvm_opts() + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-cp", classes + os.pathsep + spark_jars(), "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace),
           "--lake", args.lake, "--work", work, "--out", out,
           "--hashes", os.path.join(HERE, "expected", "hashes.json"),
           "--fingerprints", os.path.join(HERE, "expected", "fingerprints.json"),
           "--costs", os.path.join(HERE, "expected", "costs.json")])
    if args.inject:
        cmd += ["--inject", args.inject]
    log = os.path.join(os.path.dirname(out), os.path.basename(out) + ".log")
    with open(log, "wb") as err:
        done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, cwd=root,
                              timeout=timeout)
    lines = done.stdout.decode(errors="replace").strip().splitlines()
    if done.returncode != 0 or not lines:
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        sys.exit(f"perfbench: harness exited with {done.returncode}")
    return json.loads(lines[-1])


def untraced_wall(results, workload, seed):
    """Median untraced wall time recorded for this workload, same seed first."""
    walls = {}
    for name in os.listdir(results):
        if not (name.startswith(workload + "-") and name.endswith("-t0.json")) or "-inject" in name:
            continue
        try:
            rec = json.load(open(os.path.join(results, name)))
        except (OSError, ValueError):
            continue
        if rec.get("end_to_end", {}).get("wall_s"):
            walls.setdefault(rec["seed"], []).append(rec["end_to_end"]["wall_s"])
    if seed in walls:
        return statistics.median(walls[seed])
    pooled = [w for ws in walls.values() for w in ws]
    return statistics.median(pooled) if pooled else None


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--inject", choices=("wrong_result", "drop_cdc_batch"))
    p.add_argument("--lake", default=DEFAULT_LAKE)
    args = p.parse_args()
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    if not os.path.isdir(args.lake):
        sys.exit(f"perfbench: no lake at {args.lake} (set PERFBENCH_LAKE)")

    root = os.getcwd()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    classes = build(root, out)
    results = os.path.join(out, "results")
    os.makedirs(results, exist_ok=True)

    def one(trace):
        work = os.path.join(out, "work", f"{args.workload}-{args.seed}-{os.getpid()}-t{trace}")
        shutil.rmtree(work, ignore_errors=True)
        tag = "-inject" if args.inject else ""
        detail = os.path.join(results, f"{args.workload}-{args.seed}{tag}-t{trace}.json")
        try:
            return run_harness(root, classes, args, work, detail, trace), detail
        finally:
            shutil.rmtree(work, ignore_errors=True)

    if args.trace == 1:
        # overhead against the untraced runs made so far; 0 before the first
        base = untraced_wall(results, args.workload, args.seed)
        result, detail = one(1)
        record = json.load(open(detail))
        overhead = 100.0 * (record["end_to_end"]["wall_s"] / base - 1.0) if base else 0.0
        result["metrics"]["trace_overhead_pct"]["value"] = overhead
        record["metrics"]["trace_overhead_pct"]["value"] = overhead
        with open(detail, "w") as f:
            json.dump(record, f)
    else:
        result, _ = one(0)
    print(f"perfbench: workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} lake={args.lake}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
