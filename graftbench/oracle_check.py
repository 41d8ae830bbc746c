#!/usr/bin/env python3
"""Check the outputs behind goldens.tsv against the DuckDB oracle twins.

    python3 graftbench/oracle_check.py [--seed 1]

Run from the repository root, after one `graftbench/run.py` run has built
the harness. It stages both workloads' inputs exactly as a benchmark run
does, dumps every golden op's result with the program's own `graft.Verify`,
and compares each with its oracle SQL (`Registry.oracleSql`) in DuckDB
using `tools/compare.py`'s value rules. Build tables are checked under
their registry names (the ods tables are `ods_<table>`).
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    cp = bench.build()
    work = os.path.join(bench.ROOT, ".bench_build", "oracle")
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    os.makedirs(os.path.join(work, "tmp"))
    java = bench.java(work, cp)
    cpus = str(len(os.sched_getaffinity(0)))
    for w in ("refresh", "corpus"):
        subprocess.run(java + ["graftbench.Main", "--workload", w,
                               "--seed", str(a.seed), "--seconds", "0", "--trace", "0",
                               "--work", work, "--cpus", cpus, "--goldens", "",
                               "--stage-to", data], check=True, stderr=subprocess.DEVNULL)
    names = []
    with open(os.path.join(bench.HERE, "goldens.tsv")) as fh:
        for line in fh:
            w, op = line.split("\t")[:2]
            op = op.split("/")[-1]
            if op in ("customers", "nations", "regions", "parts", "suppliers",
                      "orders", "orders_items", "parts_suppliers"):
                op = "ods_" + op
            names.append(op)
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(names), SPARK_GRAFT_CPUS=cpus)
    subprocess.run(java + ["graft.Verify", data, out], env=env, check=True,
                   stderr=subprocess.DEVNULL)
    r = subprocess.run([sys.executable, os.path.join(bench.ROOT, "tools", "compare.py"),
                        data, out, ",".join(names)])
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
