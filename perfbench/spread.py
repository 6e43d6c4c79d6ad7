#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's median and
spread (interquartile range as a share of the median).

Usage (from the repository root):
    python3 perfbench/spread.py --workload NAME --seeds 1-10 [--trace 0|1]
        [--seconds S] [--out FILE]

With --out, the per-seed results, the summary and the host facts are
written as JSON (the format of perfbench/baseline.json).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds or spec["run_seconds"]
    runs, host = [], None
    for s in seeds(a.seeds):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(s), "--seconds", str(seconds), "--trace", str(a.trace)],
            cwd=ROOT, capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            sys.exit(f"seed {s}: exit {r.returncode}\n{r.stderr[-2000:]}")
        res = json.loads(lines[-1])
        for l in lines:
            if l.startswith("perfbench host "):
                host = json.loads(l[len("perfbench host "):])
        runs.append({"seed": s, **res})
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"seed {s}: correct={res['correct']} {vals}", flush=True)
    summary = {}
    for name in runs[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med, med, med]
        summary[name] = {"median": med, "q1": q[0], "q3": q[2],
                         "spread": (q[2] - q[0]) / med if med else 0.0,
                         "unit": runs[0]["metrics"][name]["unit"]}
        print(f"{name:32s} median {med:12.5g}  spread {summary[name]['spread']:.4f}")
    print(f"all correct: {all(r['correct'] for r in runs)}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "trace": a.trace, "seconds": seconds,
                       "host": host, "summary": summary, "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
