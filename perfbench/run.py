#!/usr/bin/env python3
"""Benchmark of the graft importer engine. Run from the repository root:

    python3 perfbench/run.py --workload suite --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --record          # rewrite the suite's reference digests and profile

Builds the program and the benchmark from source (perfbench/build.py), runs
one workload in one JVM on local[nproc] and prints one JSON object as the
last line of stdout: {"correct", "attempted", "failed", "metrics"}. With
--trace 1 the metrics are the per-layer ones and the span file is written
under the build directory. Workloads and metrics are described in
BENCHMARK.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = build.HERE
DATA = os.path.join(HERE, "data", "sf0.01")
REFERENCE = os.path.join(HERE, "reference", "suite_sf0.01.tsv")
PROFILE = os.path.join(HERE, "reference", "profile_sf0.01.tsv")
WORKLOADS = ("suite", "ingest_fresh")
RUN_LIMIT_S = 170

# Spark 4 on JDK 17 outside spark-submit. The source of this list is
# `jdk17AddOpens` in the program's build.sbt; keep the two equal.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("[perfbench] " + msg, file=sys.stderr)
    sys.exit(2)


def cpus():
    return len(os.sched_getaffinity(0))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--record", action="store_true",
                    help="digest and profile every suite query and rewrite the reference files")
    args = ap.parse_args()
    if not args.record and not args.workload:
        fail("--workload is required")
    if not os.path.isdir(DATA):
        fail("input tables missing at %s" % DATA)

    try:
        classpath = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail("build failed: %s" % e)
    deadline = time.monotonic() + RUN_LIMIT_S

    out = build.out_dir()
    run_dir = os.path.join(out, "runs", uuid.uuid4().hex[:12])
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(cpus()))
    env.setdefault("SPARK_GRAFT_LOCK", os.path.join(out, "runner.lock"))
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] + [
        # the heap the program's build.sbt gives its forked runs
        "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        "-Djava.io.tmpdir=" + tmp,
        "-cp", os.pathsep.join(classpath),
        "graft.perfbench.Main",
        "--data", DATA, "--work", os.path.join(run_dir, "work"), "--profile", PROFILE]
    if args.record:
        os.makedirs(os.path.dirname(REFERENCE), exist_ok=True)
        cmd += ["--record", REFERENCE]
    else:
        trace_file = os.path.join(out, "traces", "%s-seed%d-%d.json" % (args.workload, args.seed, int(time.time())))
        cmd += ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", args.trace, "--reference", REFERENCE, "--trace-file", trace_file]

    proc = subprocess.Popen(cmd, env=env, cwd=build.ROOT, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)

    def on_term(*_):
        raise SystemExit(143)

    # the JVM and everything it started go down with this process, and the
    # run's directories with them
    signal.signal(signal.SIGTERM, on_term)
    try:
        stdout, _ = proc.communicate(timeout=None if args.record else max(deadline - time.monotonic(), 1))
    except subprocess.TimeoutExpired:
        fail("run exceeded %d s" % RUN_LIMIT_S)
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = [l for l in stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        fail("benchmark JVM exited with %s" % proc.returncode)
    result = json.loads(lines[-1])
    if args.record:
        print("[perfbench] recorded %d digests in %s" % (result["recorded"], REFERENCE), file=sys.stderr)
        return
    print(json.dumps(result))


if __name__ == "__main__":
    main()
