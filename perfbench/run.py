#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (the build lives in this directory and writes
under .bench_build/); later runs reuse the build while no source changed.
The harness is one JVM at local[<cores - 1>]; new harness processes start until
--seconds of op time are measured, at least one (a traced run is one
process). The last line of standard output is one JSON object with
`correct`, `attempted`, `failed` and `metrics`. Spans of a traced run go to
.bench_build/spans/.

--smoke runs every workload, untraced and traced, on 500 documents and
checks that each metric named in BENCHMARK.json is printed with its unit
and that no op failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(STATE, "perfbench", "scala-2.13", "classes")
STAMP = os.path.join(STATE, "perfbench", "source.sha256")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ["batch_cold", "stream_ingest"]
RUN_TIMEOUT = 170
BUILD_TIMEOUT = 850

# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the same list as the root build's javaOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        die("no Spark installation found (set SPARK_HOME)")
    return jars


def source_digest():
    h = hashlib.sha256()
    tops = [PROGRAM, os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for top in tops:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(os.path.join(STATE, "build.log"), "w") as log:
        proc = subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile"], cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=BUILD_TIMEOUT)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die("build timed out")
    if code != 0:
        die(f"build failed, see {os.path.relpath(log.name, ROOT)}")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def harness(workload, seed, trace, docs=None):
    """Run one harness process; return its result object."""
    work = os.path.join(STATE, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(STATE, "spans", f"{workload}-seed{seed}-trace{trace}.jsonl")
    # ParallelGC on a pre-sized heap: G1's concurrent threads competed with
    # the four task threads and left warm reps slower and more spread
    cmd = ["java", "-Xms2g", "-Xmx4g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")]),
            "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--trace", str(trace), "--work", work,
            "--recorded", os.path.join(BENCH, "reads.sig"), "--spans", spans]
    if docs is not None:
        cmd += ["--docs", str(docs)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        die(f"{workload} did not finish within {RUN_TIMEOUT} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        die(f"{workload} exited with code {proc.returncode}")
    return json.loads(lines[-1])


def measure(workload, seed, seconds, trace, docs=None):
    """Harness processes of the workload until `seconds` of op time are
    measured, at least one; a traced run is one traced process. Every
    process must give the same output signature."""
    runs = []
    while not runs or (not trace and sum(r["measured_s"] for r in runs) < seconds):
        runs.append(harness(workload, seed, trace, docs))
    failed = sum(r["failed"] for r in runs)
    if len({r["signature"] for r in runs}) > 1:
        print(f"FAILED {workload}: outputs differ between processes", file=sys.stderr)
        failed += 1
    metrics = {}
    for name, m in runs[0]["metrics"].items():
        values = [r["metrics"][name]["value"] for r in runs]
        merged = max(values) if name == "peak_storage_bytes" else statistics.median(values)
        metrics[name] = {"value": merged, "unit": m["unit"]}
    return {"correct": failed == 0 and all(r["correct"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs), "failed": failed,
            "metrics": metrics}


def smoke():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            res = measure(w["name"], 0, 0, trace, docs=500)
            got = res["metrics"]
            for m in spec[kind]:
                v = got.get(m["name"])
                if v is None or v.get("unit") != m["unit"]:
                    die(f"smoke: {w['name']} trace {trace}: {m['name']} missing or wrong unit")
            if res["failed"] != 0 or not res["correct"]:
                die(f"smoke: {w['name']} trace {trace}: failed ops {res['failed']}")
            print(f"smoke ok: {w['name']} trace {trace}: {len(got)} metrics, "
                  f"{res['attempted']} ops")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(PROGRAM):
        die("run from the root of a checkout: src/main/scala is missing")
    if not args.smoke and not args.workload:
        die("--workload is required")
    build()
    if args.smoke:
        smoke()
        return
    res = measure(args.workload, args.seed, args.seconds, args.trace)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
