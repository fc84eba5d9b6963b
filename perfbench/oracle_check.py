#!/usr/bin/env python3
"""Cross-check the recorded expected result hashes against the DuckDB oracle.

    python3 perfbench/oracle_check.py [--lake DIR] [--only NAME,...]

Run from the root of a checkout. Every query a workload can draw that has
an oracle SQL is run by DuckDB over the same parquet lake, and its result is
fingerprinted exactly as `ResultHash.scala` fingerprints the Spark result.
The verdict per query is written to `perfbench/expected/oracle_check.json`;
the exit code is 1 when any oracle disagrees with the recorded hash.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import os
import struct
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402  (the benchmark's build and JVM options)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cell(v):
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "<null>"
        return "d%016x" % struct.unpack(">Q", struct.pack(">d", v))[0]
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        return format(v, "f")
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def result_hash(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        text = "\x1f".join(cell(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")
    return "%d:%016x" % (len(rows), total % (1 << 64))


def main():
    import duckdb
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--lake", default=run.DEFAULT_LAKE)
    p.add_argument("--only", default="")
    args = p.parse_args()
    root = os.getcwd()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    classes = run.build(root, out)
    oracle_file = os.path.join(out, "oracle_sql.json")
    subprocess.run(["java"] + run.jvm_opts() + ["-cp", classes + os.pathsep + run.spark_jars(),
                    "graft.perfbench.Main", "--dump-oracle", oracle_file],
                   check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    oracle = json.load(open(oracle_file))
    expected = json.load(open(os.path.join(HERE, "expected", "hashes.json")))
    only = set(filter(None, args.only.split(",")))

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.lake}/{t}.parquet'")
    verdicts = {}
    for name in sorted(oracle):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            cur = con.execute(oracle[name])
            cols = [d[0] for d in cur.description]
            got = result_hash(cols, cur.fetchall())
            ok = got == expected.get(name)
            verdicts[name] = {"oracle": got, "expected": expected.get(name), "match": ok}
        except Exception as e:  # an oracle that fails to run is a finding, not a crash
            verdicts[name] = {"error": str(e)[:300], "expected": expected.get(name), "match": False}
        print(f"{'OK ' if verdicts[name]['match'] else 'BAD'} {name} ({time.time() - t0:.1f}s)",
              flush=True)
    report = {"lake": os.path.basename(os.path.normpath(args.lake)),
              "matched": sum(v["match"] for v in verdicts.values()),
              "checked": len(verdicts), "queries": verdicts}
    with open(os.path.join(HERE, "expected", "oracle_check.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{report['matched']}/{report['checked']} oracle hashes match")
    sys.exit(0 if report["matched"] == report["checked"] else 1)


if __name__ == "__main__":
    main()
