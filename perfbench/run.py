#!/usr/bin/env python3
"""Benchmark of the wrangling pipeline and the operator library.

Usage (from the repository root):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the Scala runner from source on first use, generates
the workload's inputs from the seed, runs the runner in a fresh JVM on
local[nproc], checks the outputs, and prints one JSON object as the last
line: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md for the workloads and metric definitions.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_data")
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ["ops_sample", "wrangle_paper"]
# nominal seconds of one warm pass of either workload on a 4-core host; a
# run makes round(--seconds / PASS_S) timed passes, at least one
PASS_S = 6.0
OPS_SF = 0.01          # operator corpus scale factor
# The heap starts small and grows as the program needs: with -Xms = -Xmx
# the whole heap is resident after a few collections and peak RSS shows the
# heap setting, not the program (a 256 MB retained allocation then even
# lowered it). -Xmx leaves headroom: either workload peaks near 1.3 GB RSS.
HEAP_MIN, HEAP_MAX = "64m", "2g"
# The throughput collector: G1 grows the heap from measured GC time, so
# with a growing heap its peak RSS jumped between ~1.24 and ~1.41 GB from
# run to run (spread 0.12 over five seeds on wrangle_paper, 0.02 here), and
# wall_s on wrangle_paper was ~10% slower on a 4-core host.
GC = "-XX:+UseParallelGC"
JVM_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
            if f.endswith((".scala", ".sbt", ".properties")) and "target" not in d)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program and runner with sbt; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"program sources not found under {ROOT}: cannot build")
        sys.exit(2)
    digest = sources_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["digest"] == digest:
            return s["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log("building program and runner (sbt)")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(
            ["sbt", "-batch", "compile", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
            stdin=subprocess.DEVNULL, timeout=850)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and "[" not in l]
    if r.returncode != 0 or not lines:
        log(f"build failed (exit {r.returncode}); see {BUILD}/build.log")
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(3)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def nproc():
    return len(os.sched_getaffinity(0))


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           capture_output=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def generate(workload, seed, data):
    if workload == "wrangle_paper":
        return gen.gen_wrangle(data, seed)
    gen.gen_corpus(data, OPS_SF, seed)
    return {"sf": OPS_SF}


def run_jvm(cp, a, passes, data, work):
    out = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xms{HEAP_MIN}", f"-Xmx{HEAP_MAX}", GC,
            f"-Djava.io.tmpdir={work}/tmp"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--data", data, "--work", work, "--out", out,
            "--passes", str(passes), "--cores", str(nproc()),
            "--trace", str(a.trace)])
    if a.only:
        cmd += ["--only", a.only]
    launch_ms = time.time() * 1000
    with open(os.path.join(work, "jvm.log"), "w") as err:
        r = subprocess.run(cmd, stdout=err, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S,
                           env=dict(os.environ, MALLOC_ARENA_MAX="2"))
    if r.returncode != 0 or not os.path.isfile(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        log(f"runner JVM exited with {r.returncode}")
        sys.exit(4)
    with open(out) as f:
        res = json.load(f)
    res["launch_ms"] = launch_ms
    return res


def check_wrangle(data, out_dir, only=None):
    """Compare each pass's metrics.json and learned_funcs.json per dataset
    with the outputs planted by the generator. Returns the number of tasks
    whose dataset output differs."""
    with open(os.path.join(data, "expected.json")) as f:
        expected = json.load(f)
    if only:
        expected = {d: w for d, w in expected.items() if d in only.split(",")}
    bad = 0
    for pass_dir in sorted(os.listdir(out_dir)):
        for ds, want in expected.items():
            got = {}
            try:
                for name in ("metrics", "learned_funcs"):
                    with open(os.path.join(out_dir, pass_dir, ds, f"{name}.json")) as f:
                        got[name] = json.load(f)
            except (OSError, ValueError) as e:
                log(f"check {pass_dir}/{ds}: output missing or unreadable: {e}")
                bad += len(want["learned_funcs"])
                continue
            if got != want:
                diff = sorted(k for k in set(got["metrics"]) | set(want["metrics"])
                              if got["metrics"].get(k) != want["metrics"].get(k))
                log(f"check {pass_dir}/{ds}: differs; metrics {diff[:6]}, programs "
                    f"{got['learned_funcs'][:4]} vs {want['learned_funcs'][:4]}")
                bad += len(want["learned_funcs"])
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--only", help="comma-separated item subset (diagnostics)")
    a = ap.parse_args()

    cp = build()
    base = os.path.join(WORK, a.workload)
    data = os.path.join(base, "inputs")
    work = os.path.join(base, "session")
    shutil.rmtree(base, ignore_errors=True)
    t0 = time.time()
    facts = generate(a.workload, a.seed, data)
    gen_s = time.time() - t0
    passes = max(1, int(a.seconds / PASS_S + 0.5))
    r = run_jvm(cp, a, passes, data, work)

    failed, attempted = r["failed"], r["attempted"]
    if a.workload == "wrangle_paper":
        failed += check_wrangle(data, os.path.join(work, "out"), a.only)
    else:
        import oracle
        failed += oracle.compare(os.path.join(work, "check"), data, log, a.only)
    correct = failed == 0

    host = dict(r["host"], nproc=nproc(), jvm=f"-Xms{HEAP_MIN} -Xmx{HEAP_MAX} {GC}",
                commit=git_commit(), workload=a.workload, seed=a.seed, passes=passes, inputs=facts)
    print("perfbench host " + json.dumps(host, sort_keys=True))

    plain = r["passes"]
    if a.trace:
        traced = r["traced"]
        metrics = {n: statistics.median(p["layers"][n] for p in traced)
                   for n in traced[0]["layers"]}
        base_wall = statistics.median(p["wall_s"] for p in plain)
        metrics["trace.overhead_share"] = (
            statistics.median(p["wall_s"] for p in traced) - base_wall) / base_wall
    else:
        # min over the run's passes: the first timed pass still warms up
        # (JIT), and host interference only ever adds time
        best = {}
        for p in plain:
            for name, x in zip(p["item_names"], p["items"]):
                best[name] = min(x, best.get(name, x))
        metrics = {
            "setup_s": gen_s + (r["first_timed_ms"] - r["launch_ms"]) / 1000,
            "wall_s": min(p["wall_s"] for p in plain),
            "item_p50_s": statistics.median(best.values()),
            "peak_rss_mb": r["peak_rss_mb"],
        }
        summary = dict(metrics, failed_share=failed / attempted)
        if a.workload == "wrangle_paper":
            tasks = sum(p["tasks"] for p in plain)
            summary["synth_calls_per_task"] = sum(p["synth_calls"] for p in plain) / tasks
            summary["test_rows_per_s"] = statistics.median(
                p["test_rows"] / p["wall_s"] for p in plain)
        print("perfbench summary " + json.dumps(summary, sort_keys=True))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    named = spec["per_layer" if a.trace else "end_to_end"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                                  for m in named}}))


if __name__ == "__main__":
    main()
