#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/selftest.py

1. A perturbed expected fingerprint, and a query that throws, are each
   reported as failed in every pass, make the run incorrect, and are left
   out of cold_s and warm_s.
2. compare.py pairs runs with their workload and reports new/base medians.
"""
import json
import statistics
import tempfile
from pathlib import Path

import compare
import run


def test_failures_are_counted_and_not_timed():
    classes = run.build.build()
    lines = run.EXPECTED.read_text().splitlines()
    perturbed = [f"{n}\t{rows}\t{int(h) + 1}" if n == "s_num" else f"{n}\t{rows}\t{h}"
                 for n, rows, h in (ln.split("\t") for ln in lines)]
    expected = run.build.BUILD / "selftest-expected.tsv"
    expected.write_text("\n".join(perturbed) + "\n")
    order = ["s_num", "s_zip", "no_such_query"]
    res = run.run_jvm(classes, order, seconds=1, passes=4, trace=0, expected=expected)
    passes = res["attempted"] // len(order)
    assert passes >= 4, res["attempted"]
    assert res["failed"] == 2 * passes, res["failed"]
    by_name = {n: [q for q in res["queries"] if q["name"] == n] for n in order}
    assert all(not q["ok"] and "mismatch" in q["error"] for q in by_name["s_num"])
    assert all(not q["ok"] and "NoSuchElement" in q["error"] for q in by_name["no_such_query"])
    assert all(q["ok"] for q in by_name["s_zip"])
    # only s_zip's time is in the pass times
    zip_times = [q["seconds"] for q in by_name["s_zip"]]
    assert abs(res["cold_s"] - zip_times[0]) < 1e-9, (res["cold_s"], zip_times)
    warm = zip_times[1:]
    assert abs(res["warm_s"] - statistics.median(warm[len(warm) // 2:])) < 1e-9


def test_compare_pairs_runs_with_workloads():
    def out(workload, value):
        return (json.dumps({"provenance": {"workload": workload}}) + "\n" +
                json.dumps({"correct": True, "attempted": 1, "failed": 0,
                            "metrics": {"exec.jobs": {"value": value, "unit": "count"}}}) + "\n")
    with tempfile.TemporaryDirectory() as d:
        base, new = Path(d, "base"), Path(d, "new")
        base.write_text(out("graph", 70) + out("graph", 74) + out("io", 30))
        new.write_text(out("graph", 36) + out("io", 30))
        text = compare.report(compare.load(str(base)), compare.load(str(new)))
    assert "0.500 (base 72 count, 2 vs 1 runs)" in text, text
    assert "1.000 (base 30 count, 1 vs 1 runs)" in text, text


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"PASS {name}")
