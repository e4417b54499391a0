#!/usr/bin/env python3
"""Sets the expected fingerprints in perfbench/expected.tsv from the DuckDB oracle.

1. graft.Verify dumps every workload query's result on perfbench/data.
2. tools/check.py compares each dump with the query's SparkEntry.oracleSql
   entry run in DuckDB.
3. Only if every query passes are the dumps fingerprinted (row count and
   wrapping sum of xxhash64, as the benchmark computes them) and written.

Run it again whenever a workload's query list changes:

    python3 perfbench/oracle.py
"""
import json
import os
import re
import shutil
import subprocess
import sys

import run

OUT = run.build.BUILD / "oracle"


def java(classes, main, *args, env=None):
    subprocess.run(run.java(classes, OUT / "tmp", main, *args), cwd=OUT, env=env, check=True)


def main() -> None:
    classes = run.build.build()
    names = sorted({q for qs in run.WORKLOADS.values() for q in qs})
    shutil.rmtree(OUT, ignore_errors=True)
    (OUT / "tmp").mkdir(parents=True)
    dump = OUT / "dump"

    def verify(only):
        env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(only),
                   SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
        java(classes, "graft.Verify", str(run.DATA), str(dump), env=env)

    verify(names)
    # some oracles replay a pipeline over an auxiliary Spark dump
    sql = json.loads((dump / "oracle_sql.json").read_text())
    aux = sorted({m for n in names for m in re.findall(r"/(aux_\w+)/", sql[n])})
    if aux:
        verify(aux)
    check = subprocess.run([sys.executable, str(run.build.ROOT / "tools" / "check.py"),
                            str(run.DATA), str(dump)] + names, capture_output=True, text=True)
    print(check.stdout)
    passed = set(re.findall(r"^PASS (\S+) \(\d+ rows\)", check.stdout, re.M))
    missing = [n for n in names if n not in passed]
    if check.returncode != 0 or missing:
        raise SystemExit(f"oracle: not every query matches DuckDB: {missing}")
    java(classes, "perfbench.PerfBench", "--fingerprint", str(dump),
         "--queries", ",".join(names), "--out", str(run.EXPECTED))
    print(run.EXPECTED.read_text())


if __name__ == "__main__":
    main()
