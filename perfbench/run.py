#!/usr/bin/env python3
"""Benchmark entry point for the graft PIP-join + tiling engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload pip_tile --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the engine sources of the checkout together with the benchmark
driver (perfbench/build.sbt, output under .bench_build/), then runs one
workload in a single JVM on local[nproc]. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics, with --trace 1 the
per-layer metrics. A full result, host state and (traced runs) the span
list are written to .bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
WORKLOADS = ("pip_tile", "boundary_probe")
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit (same list as the engine build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source digest."""
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.server.forcestart=false", "-Xmx2g"])
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail("build failed (log: %s)" % log)
    with open(stamp, "w") as fh:
        fh.write(digest)


def heap_gb():
    """Half the machine's memory, clamped to 2..6 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
        return max(2, min(6, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def run_jvm(main_args):
    tmp = os.path.join(BUILD, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*")
    # ParallelGC: a batch job's throughput collector; G1's concurrent threads
    # compete with Spark's for the few vCPUs.
    cmd = (["java"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Xmx%dg" % heap_gb(), "-XX:+UseParallelGC", "-Djava.io.tmpdir=" + tmp,
              "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"]
           + main_args)
    log = os.path.join(BUILD, "jvm.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            fail("benchmark JVM exceeded %d s (log: %s)" % (JVM_TIMEOUT_S, log))
    if proc.returncode != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail("benchmark JVM exited with %d (log: %s)" % (proc.returncode, log))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own generator and check tests")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        fail("--workload is required")
    if a.seconds < 1:
        fail("--seconds must be >= 1")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("no engine sources under %s: run from a full checkout" % ENGINE_SRC)
    build()
    if a.selftest:
        args = ["--selftest", "1"]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    out = run_jvm(args + ["--root", ROOT])
    lines = out.rstrip("\n").split("\n")
    if a.selftest:
        sys.stdout.write("\n".join(lines) + "\n")
        return
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec):
        fail("no BENCHMARK.json at the checkout root")
    with open(spec) as fh:
        wanted = json.load(fh)["per_layer" if a.trace else "end_to_end"]
    result = json.loads(lines[-1])
    metrics = {}
    for m in wanted:
        value = result["metrics"].get(m["name"])
        if value is None:
            if not a.trace:
                fail("the run produced no end-to-end metric " + m["name"])
            value = 0.0  # a layer this workload does not call
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print("\n".join(lines[:-1]))
    for name, v in metrics.items():
        if v["value"] or not a.trace:
            print("metric %-36s %14.6g %s" % (name, v["value"], v["unit"]))
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
