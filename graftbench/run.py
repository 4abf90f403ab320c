#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 graftbench/run.py --workload etl_delta|query_mix|etl_full \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline) into graftbench/target; later runs
reuse that build until a source file changes. Everything the run writes
stays under graftbench/ (target/ and work/).
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
WORK = os.path.join(BENCH, "work")
RESULT_TAG = "GRAFTBENCH_RESULT "
WORKLOADS = ("etl_full", "etl_delta", "query_mix")
JVM_OPTS = os.path.join(BENCH, "jvm.opts")


def jvm_opts():
    """The options of every benchmark JVM, shared with the self-test (build.sbt)."""
    with open(JVM_OPTS) as f:
        return [l.strip() for l in f if l.strip() and not l.lstrip().startswith("#")]


def sources():
    """Every file the build reads from this checkout."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(ROOT, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return files


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build(deadline):
    """Build with sbt unless the recorded classpath is newer than every source."""
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= built for f in sources()):
            return open(CLASSPATH).read().strip(), False
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx3g", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + tmp])
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        timeout=max(1, deadline - time.time()), cwd=BENCH, env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        sys.exit("graftbench: build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(cp + "\n")
    return cp, True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("graftbench: the program's sources (src/main/scala/graft) are not here")
    start = time.time()
    cp, built = build(start + 840)
    # a run that built may take 900 s in all, any other run 180 s
    deadline = start + (890 if built else 175)

    work = os.path.join(WORK, a.workload)
    tmp = os.path.join(work, "tmp")
    log = os.path.join(WORK, a.workload + ".log")
    cmd = ["java"] + jvm_opts() + ["-Djava.io.tmpdir=" + tmp]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--bench-dir", BENCH]
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    # Spark prefers this variable to spark.local.dir; keep its files here
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        with open(log, "w") as err:
            code, out = run_group(cmd, timeout=max(1, deadline - time.time()), env=env,
                                  stdout=subprocess.PIPE, stderr=err, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = [l[len(RESULT_TAG):] for l in out.splitlines() if l.startswith(RESULT_TAG)]
    if not results:
        sys.stderr.write(open(log).read()[-4000:])
        sys.exit("graftbench: the run printed no result (exit code %d)" % code)
    print(results[-1], flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
