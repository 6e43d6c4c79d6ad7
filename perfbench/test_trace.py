#!/usr/bin/env python3
"""Self-test of the benchmark's job attribution.

Runs one traced single-item run per kind of item (a wrangling dataset with
one task; an operator query with a streaming drain) and checks that every
Spark job fell in a span, that spans cover the pass wall time, and that the
output check passed.

Usage (from the repository root):  python3 perfbench/test_trace.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CASES = [("wrangle_paper", "Buy"), ("ops_sample", "streaming_session_events"),
         ("ops_sample", "error_detection_end_to_end_part")]


def traced(workload, item):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "1", "--only", item],
        cwd=ROOT, capture_output=True, text=True)
    assert r.returncode == 0, r.stderr[-2000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    failures = 0
    for workload, item in CASES:
        res = traced(workload, item)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        checks = {
            "output check passed": res["correct"] and res["failed"] == 0,
            "jobs ran": m["spark.jobs"] > 0,
            "no unattributed job": m["trace.unattributed_jobs"] == 0,
            "spans cover the pass": abs(m["trace.unattributed_s"]) < 0.05,
        }
        for name, ok in checks.items():
            print(f"{'ok  ' if ok else 'FAIL'} {workload}/{item}: {name}")
            failures += not ok
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
