#!/usr/bin/env python3
"""Benchmark entry point: builds the program with the benchmark, runs one
workload in a fresh JVM and prints the result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --make-pins     # re-record perfbench/heavies_pins.tsv

Run it from the root of a checkout. Build outputs go to `.bench_build/`;
inputs, outputs and Spark scratch to `.bench_work/`. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
JAR = os.path.join(BUILD, "target", "perfbench.jar")
PINS = os.path.join(BENCH, "heavies_pins.tsv")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
# A fixed heap and the throughput collector keep peak RSS steady; no
# perf-data file is written outside the checkout.
JVM_FLAGS = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData"]
# Spark 4 on JDK 17 needs these outside spark-submit (the program's own
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    for top in (os.path.join(BENCH, "src"), os.path.join(ROOT, "src", "main")):
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(BENCH, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run(cmd, timeout, **kw):
    """Runs cmd in its own process group, stdout sent to stderr, and
    waits for it; kills the whole group on timeout. Returns (exit code,
    peak RSS in MB)."""
    p = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True, **kw)
    timer = threading.Timer(timeout, lambda: os.killpg(p.pid, signal.SIGKILL))
    timer.start()
    try:
        _, status, usage = os.wait4(p.pid, 0)
    finally:
        timer.cancel()
        try:
            os.killpg(p.pid, signal.SIGKILL)  # stray children of the group
        except ProcessLookupError:
            pass
    p.returncode = os.waitstatus_to_exitcode(status)
    return p.returncode, usage.ru_maxrss / 1024.0


def spark_home():
    """The Spark install the program is built and run against."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must name a Spark install (with a jars/ directory)")
    return home


def java(main, args, cwd, timeout):
    """Runs a benchmark main in a fresh JVM; returns its peak RSS in MB."""
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark_jars = os.path.join(spark_home(), "jars", "*")
    cmd = ["java"] + JVM_FLAGS + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{JAR}{os.pathsep}{spark_jars}", main] + args
    code, rss = run(cmd, timeout, cwd=cwd)
    if code != 0:
        fail(f"{main} exited with {code}")
    return rss


def build():
    stamp = os.path.join(BUILD, "stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(JAR):
        return
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    code, _ = run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                   "-Dsbt.server.forcestart=false", "package"],
                  BUILD_TIMEOUT_S, cwd=BENCH, env=env)
    if code != 0:
        fail(f"build failed (sbt exit {code})")
    with open(stamp, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-pins", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: the program's sources are missing")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except OSError as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    names = [w["name"] for w in spec["workloads"]]
    if not a.make_pins and a.workload not in names:
        fail(f"unknown workload {a.workload!r}; one of {names}")
    build()

    work = os.path.join(WORK, "pins" if a.make_pins else a.workload)
    shutil.rmtree(work, ignore_errors=True)  # no state from an earlier run
    os.makedirs(work)
    if a.make_pins:
        java("perfbench.Pins", [work, PINS], work, 3000)
        return

    out = os.path.join(work, "result.json")
    rss = java("perfbench.Main", [a.workload, str(a.seed), str(a.seconds),
                                  str(a.trace), work, out, PINS],
               work, RUN_TIMEOUT_S)
    with open(out) as fh:
        res = json.load(fh)
    got = dict(res["metrics"], peak_rss_mb=rss)
    for p in res["problems"]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    metrics = {}
    for m in spec["per_layer"] if a.trace else spec["end_to_end"]:
        v = got.pop(m["name"], None)
        if v is None:
            if not a.trace:
                fail(f"metric {m['name']} was not measured")
            v = 0.0  # a layer this workload does not run
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(f"perfbench: also measured: {json.dumps(got)}", file=sys.stderr)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
