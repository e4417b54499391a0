#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload nested --seed 1 --seconds 24 --trace 0

Builds the engine from source if needed (perfbench/build.py), then runs the
workload's queries through `SparkEntry.queries(name)(spark, dir)` on
`local[N]` (N = half the usable CPUs, shuffle partitions N): one cold pass in
the fresh session in the workload's fixed order, then --seconds / PASS_S warm
passes. One client, closed loop: one query at a time. The input is the
committed seed-42 corpus in perfbench/data (sf0.01); the seed permutes the
query order of the warm passes, which is what decides the codegen and plan
state each query inherits from the previous one.

Stdout: a provenance line, a per-query detail line, and last the result line
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones (setup_s, cold_s, warm_s, peak_rss_mb); with --trace 1
they are the per-layer ones from traced passes (see perfbench/README.md).
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

DATA = HERE / "data"
EXPECTED = HERE / "expected.tsv"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Why each workload exists is recorded in BENCHMARK.json.
WORKLOADS = {
    "nested": ["s_flatten", "s_num", "s_combinations", "s_unflatten", "s_zip",
               "r_axis0_ragged", "r_softmax", "io_nested"],
    "graph": ["q_kcore"],
}
# Seconds of one warm pass with 2 task slots on a 4-CPU machine. A run makes
# --seconds / PASS_S warm passes, the same number on every commit, so that a
# faster program finishes sooner rather than measuring at a later JIT depth.
PASS_S = {"nested": 3.0, "graph": 2.0}

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "peak_rss_mb": "MB"}
# JVMs that only set up a session, besides the one that runs the queries:
# setup_s is the median over all of them
SETUP_PROBES = 1
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def unit(name: str) -> str:
    for suffix, u in (("_s", "s"), ("_bytes", "bytes"), ("_rows", "rows"), ("_mb", "MB"),
                      ("frac", "ratio"), ("_ratio", "ratio"), ("_util", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


def provenance(workload: str, seed: int, order: list) -> dict:
    import pyarrow.parquet as pq
    commit = None
    if (build.ROOT / ".git").exists():
        done = subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "HEAD"],
                              capture_output=True, text=True)
        commit = done.stdout.strip() or None
    return {
        "workload": workload, "seed": seed, "order": order,
        "nproc": len(os.sched_getaffinity(0)), "loadavg_start": os.getloadavg()[0],
        "git_commit": commit, "source_sha256": build.digest(build.sources())[:16],
        "input_rows": {t: pq.ParquetFile(DATA / f"{t}.parquet").metadata.num_rows for t in TABLES},
    }


def cpu_stolen() -> tuple:
    """(stolen, total) CPU ticks of the whole machine so far, from /proc/stat."""
    ticks = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return ticks[7], sum(ticks)


def slots() -> int:
    """Task slots, shuffle partitions and GC threads: half the usable CPUs.

    The other half is left to the JIT compiler threads, which are busy
    through the cold pass and most warm passes. With a slot per CPU, losing
    one CPU's worth of time to another process slowed the cold pass by 38%.
    """
    return max(1, len(os.sched_getaffinity(0)) // 2)


def java(classes: Path, tmp: Path, main: str, *args: str) -> list:
    """Command line of a JVM running `main` on the engine's and Spark's classes."""
    # a fixed heap keeps peak RSS from depending on when the collector ran
    return (["java", "-Xms1g", "-Xmx1g", "-XX:-UsePerfData", f"-XX:ParallelGCThreads={slots()}"] +
            [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
            [f"-Djava.io.tmpdir={tmp}", f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
             "-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}", main] + list(args))


def run_jvm(classes: Path, order: list, seconds: int, passes: int, trace: int, expected: Path,
            setup_only: bool = False, cold_order: list = None) -> dict:
    """Runs one benchmark JVM in a private working directory under .bench_build."""
    work = build.BUILD / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    cmd = java(classes, work / "tmp", "perfbench.PerfBench", "--data", str(DATA),
               "--queries", ",".join(order), "--cold-queries", ",".join(cold_order or order),
               "--expected", str(expected), "--out", str(out), "--seconds", str(seconds),
               "--passes", str(passes), "--trace", str(trace), "--slots", str(slots()))
    if setup_only:
        cmd += ["--setup-only", "1"]
    try:
        with open(work / "jvm.log", "w") as log:
            done = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S)
        if done.returncode != 0 or not out.is_file():
            tail = (work / "jvm.log").read_text()[-4000:]
            raise SystemExit(f"perfbench: benchmark JVM failed ({done.returncode}):\n{tail}")
        failures = [ln for ln in (work / "jvm.log").read_text().splitlines() if "[perfbench]" in ln]
        sys.stderr.write("".join(f"{ln}\n" for ln in failures))
        return json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(workload: str, seed: int, seconds: int, trace: int, expected: Path = EXPECTED):
    """Returns (provenance, JVM result, final result line) for one run."""
    classes = build.build()
    order = list(WORKLOADS[workload])
    random.Random(seed).shuffle(order)
    prov = provenance(workload, seed, order)
    stolen0, total0 = cpu_stolen()
    passes = max(4, round(seconds / PASS_S[workload]))
    res = run_jvm(classes, order, seconds, passes, trace, expected,
                  cold_order=WORKLOADS[workload])
    if not trace:
        res["setups"] = [res["setup_s"]] + [run_jvm(classes, order, seconds, passes, trace, expected,
                                                    setup_only=True)["setup_s"]
                                            for _ in range(SETUP_PROBES)]
        res["setup_s"] = statistics.median(res["setups"])
    stolen1, total1 = cpu_stolen()
    # CPU time the hypervisor gave to other guests during the run
    prov.update(java=res["java"], spark=res["spark"], slots=res["slots"],
                steal_frac=(stolen1 - stolen0) / max(1, total1 - total0))
    values = ({k: res[k] for k in END_TO_END} if not trace else res["layers"])
    metrics = {k: {"value": v, "unit": END_TO_END.get(k) or unit(k)} for k, v in values.items()}
    final = {"correct": res["failed"] == 0, "attempted": res["attempted"],
             "failed": res["failed"], "metrics": metrics}
    return prov, res, final


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind so subprocess.run kills and reaps the benchmark JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    prov, res, final = run(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps({"provenance": prov}))
    print(json.dumps({k: res.get(k) for k in ("setups", "warm_passes", "queries")}))
    print(json.dumps(final))


if __name__ == "__main__":
    main()
