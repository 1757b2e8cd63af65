#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload deploy_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program from
source together with the benchmark harness (sbt, offline); later runs
reuse the build while no source file has changed. Everything the run
writes (build, inputs, Spark scratch, logs, traces) stays under
`.bench_build/` in the checkout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("deploy_bulk", "analytics")
RUN_LIMIT_S = 175  # a run, build excluded, ends well inside 180 s

# Spark 4 on JDK 17 outside spark-submit needs the module openings that
# spark-submit would add (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, _, fs in sorted(os.walk(r)):
            for f in sorted(fs):
                yield os.path.join(d, f)


def build():
    """Compile program + harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources (src/main/scala) not found; run from a checkout root")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's scratch files and the JVMs' perf data stay in the checkout too
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp,
               SBT_OPTS=os.environ.get("SBT_OPTS", "") +
               f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    if "SPARK_HOME" not in env:
        spark_submit = shutil.which("spark-submit")
        if not spark_submit:
            fail("SPARK_HOME is unset and spark-submit is not on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(spark_submit)))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=840)
        out.write(proc.stdout)
    lines = [ln.strip() for ln in proc.stdout.splitlines()]
    cps = [ln for ln in lines if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not cps:
        fail(f"build failed (exit {proc.returncode}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    classpath = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "run", f"{tag}-{os.getpid()}")
    logs = os.path.join(BUILD, "logs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(logs, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    # A fixed heap and the stop-the-world parallel collector: no heap
    # resizing across passes and no concurrent GC threads competing with
    # the Spark task threads, both of which made pass times drift.
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--dir", work, "--launch-ms", str(int(time.time() * 1000))]
    if a.trace:
        os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
        cmd += ["--trace-out", os.path.join(BUILD, "trace", f"{tag}.json")]
    log = os.path.join(logs, f"{tag}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_LIMIT_S}s; see {log}")
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if proc.returncode != 0 or not isinstance(result, dict) or \
            set(result) != {"correct", "attempted", "failed", "metrics"}:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"run failed (exit {proc.returncode}); see {log}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
