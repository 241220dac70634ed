#!/usr/bin/env python3
"""Season benchmark entry point.

    python3 perfbench/run.py --workload <season_stream|serve_mix>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program from source if needed (perfbench/build.py), runs one
workload in a fresh JVM at local[nproc] and prints, as the last line of
standard output, one JSON object with the keys correct, attempted, failed
and metrics. Everything it writes stays under .bench_build/ at the
repository root; the run's artifact (spans, streaming progress, canary
times, mismatches) is kept in .bench_build/artifacts/. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("season_stream", "serve_mix")
# A run (build excluded) is killed after this many seconds.
RUN_LIMIT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# sbt build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    classes, jars = build.build()
    work = os.path.join(build.BUILD, "work", "%s-%d-%d" % (
        args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--work", work]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: run exceeded %d s" % RUN_LIMIT_S)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        sys.exit("perfbench: workload exited with code %d" % proc.returncode)
    print(json.dumps(shape(json.loads(lines[-1]), args.trace == "1")))


def shape(result, trace):
    """Orders the workload's metrics as BENCHMARK.json declares them:
    the end-to-end ones without tracing, the per-layer ones with it. A
    per-layer metric of a layer the workload does not pass through reads
    0; a missing end-to-end metric or a unit that differs is an error."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    got = result["metrics"]
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        v = got.pop(m["name"], None)
        if v is None:
            if not trace:
                sys.exit("perfbench: metric %s missing" % m["name"])
            v = {"value": 0, "unit": m["unit"]}
        if v["unit"] != m["unit"]:
            sys.exit("perfbench: metric %s has unit %s, declared %s" % (
                m["name"], v["unit"], m["unit"]))
        out[m["name"]] = v
    for name in got:
        print("perfbench: undeclared metric %s dropped" % name,
              file=sys.stderr)
    return {"correct": result["correct"], "attempted": result["attempted"],
            "failed": result["failed"], "metrics": out}


if __name__ == "__main__":
    t0 = time.time()
    main()
    print("perfbench: %.1f s" % (time.time() - t0), file=sys.stderr)
