#!/usr/bin/env python3
"""Medallion benchmark: one run of one workload.

    python3 medbench/run.py --workload daily_increments --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark with sbt (medbench/build.sbt), which records the classpath and
the root build's JVM options; later runs reuse them while the sources are
unchanged. Each run starts one JVM
(medbench.Main) with a fresh work directory under medbench/.work, checks
the corpus workload's results against DuckDB, and prints one JSON object
as the last line of standard output:

    {"correct": true, "attempted": 46, "failed": 0, "metrics": {...}}

Untraced (--trace 0) the metrics are the end-to-end ones; traced
(--trace 1) they are the per-layer ones, and the spans are written to
medbench/.work/<workload>/trace.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORKLOADS = ("daily_increments", "corpus_curation")
JVM_TIMEOUT_S = 165


def log(msg):
    print(f"[medbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every input of the build: the program and the benchmark."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
              os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project"), os.path.join(BENCH, "src", "main")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            for f in files if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def launch():
    """Build with sbt unless the recorded build matches the sources.
    Returns the run classpath and the root build's JVM options."""
    digest = sources_digest()
    stamp = os.path.join(BUILD, "digest.txt")
    launch_file = os.path.join(BUILD, "launch.txt")
    recorded = None
    if os.path.exists(stamp) and os.path.exists(launch_file):
        with open(stamp) as f:
            recorded = f.read()
    if recorded != digest:
        log("building the program and the benchmark with sbt")
        if os.path.exists(launch_file):
            os.remove(launch_file)
        env = dict(os.environ, COURSIER_MODE="offline")
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={tmp}", "launch"],
            cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=840)
        if proc.returncode != 0 or not os.path.exists(launch_file):
            sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
            raise SystemExit("build failed")
        with open(stamp, "w") as f:
            f.write(digest)
    with open(launch_file) as f:
        lines = f.read().splitlines()
    return lines[0], lines[1:]


def run_jvm(cp, jvm_opts, args, work):
    cores = len(os.sched_getaffinity(0))
    os.makedirs(f"{work}/tmp")
    # SPARK_LOCAL_DIRS would override the run's own spark.local.dir
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    # set-up time counts from here: the build is not the program's
    t0 = time.time()
    # the root build's options, then a smaller heap (the last -Xmx wins)
    cmd = ["java", *jvm_opts, "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
           "medbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--cores", str(cores), "--t0", str(int(t0 * 1000))]
    with open(f"{work}/jvm.log", "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"run exceeded {JVM_TIMEOUT_S} s")
    with open(f"{work}/jvm.log") as f:
        for line in f:
            if line.startswith("[medbench]"):
                sys.stderr.write(line)
    results = [l for l in out.splitlines() if l.startswith("MEDBENCH ")]
    if proc.returncode != 0 or not results:
        raise SystemExit(f"benchmark JVM failed (exit {proc.returncode}); see {work}/jvm.log")
    return json.loads(results[-1][len("MEDBENCH "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"no program to benchmark: {need} is missing")
    cp, jvm_opts = launch()
    work = os.path.join(BENCH, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(cp, jvm_opts, args, work)
    attempted, failed = res["attempted"], res["failed"]
    if args.workload == "corpus_curation":
        sys.dont_write_bytecode = True
        sys.path.insert(0, BENCH)
        import oracle
        n, bad = oracle.compare(os.path.join(work, "corpus"), os.path.join(work, "corpus_out"))
        for msg in bad:
            log(f"oracle mismatch: {msg}")
        attempted += n
        failed += len(bad)
        if "success_rate" in res["metrics"]:
            res["metrics"]["success_rate"]["value"] = 1.0 - failed / attempted
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
