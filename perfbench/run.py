#!/usr/bin/env python3
"""Benchmark for the graft engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine's sources
together with the JVM driver in perfbench/ (sbt, offline); later runs reuse
the build while no Scala source changed. Each run generates its e-mail
input from the seed, starts one JVM that runs the workload in a closed loop
(one client thread), checks every call's output, and prints one JSON line
last: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
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

import benchlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target")
WORK_DIR = os.path.join(HERE, ".work")
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
CLASSPATH = os.path.join(BUILD_DIR, "perfbench.classpath")
BUILD_LIMIT_S = 700
RUN_LIMIT_S = 170

# Workload -> (lines of its generated e-mail file, JIT flags). driver_loop
# runs with the C1 compiler only: under C2 its driver-side planning and
# scheduling code kept getting faster for over a minute (pass time 6.2 s
# falling to 3.5 s), so a run's median depended on how many passes it
# fitted. batch_heavy's time is in task kernels, which C2 compiles within
# the two warm passes and runs about twice as fast as C1.
WORKLOADS = {
    "batch_heavy": (500000, []),
    "driver_loop": (20000, ["-XX:TieredStopAtLevel=1"]),
}

# The heap is fixed at 2 GB, so that its size, and with it how often the
# collector runs, does not differ between runs by chance (left to grow on
# demand it reached 0.9-1.4 GB from run to run). heap_retained_mb, not the
# resident size, tracks what the engine keeps. -UsePerfData: no hsperfdata
# file in the system temp directory.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData"] + [opt for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for opt in ("--add-opens", p + "=ALL-UNNAMED")]

SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories")
            + " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_fingerprint():
    """Hash of every file the build compiles."""
    h = hashlib.sha256()
    paths = [os.path.join(HERE, "build.sbt")] + sorted(
        os.path.join(d, f) for top in (ENGINE_SRC, os.path.join(HERE, "src"))
        for d, _, files in os.walk(top) for f in files)
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, else the first directory on PATH holding spark-submit
    whose parent has the distribution's jars/."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.isfile(os.path.join(d, "spark-submit")) and \
                os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("no Spark distribution found; set SPARK_HOME")


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it. Returns the exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL,
                            start_new_session=True, **kw)
    try:
        return proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def build():
    """Compile with sbt unless the recorded build matches the sources."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("engine sources not found at " + ENGINE_SRC)
    fp = source_fingerprint()
    if os.path.exists(CLASSPATH):
        stamp, cp = open(CLASSPATH).read().split("\n", 1)
        if stamp == fp:
            return cp.strip()
    log("building (sbt compile)")
    os.makedirs(WORK_DIR, exist_ok=True)
    log_path = os.path.join(WORK_DIR, "build.log")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS,
               SPARK_HOME=spark_home())
    with open(log_path, "w") as logf:
        code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], BUILD_LIMIT_S,
                           cwd=HERE, env=env, stdout=logf, stderr=subprocess.STDOUT)
    out = open(log_path).read()
    lines = [l for l in out.splitlines() if ".jar" in l and "[" not in l]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit("build failed; log: " + log_path)
    with open(CLASSPATH, "w") as f:
        f.write(fp + "\n" + lines[-1].strip() + "\n")
    return lines[-1].strip()


def expected_outputs(workload, seed, work):
    """Writes the e-mail file the JVM reads; returns the expected output
    of every call."""
    expected = json.load(open(os.path.join(HERE, "expected_rows.json")))
    emails = os.path.join(work, "emails.txt")
    lines, tally = benchlib.generate_emails(seed, WORKLOADS[workload][0])
    with open(emails, "w") as f:
        f.write("\n".join(lines))
    prefix = benchlib.minimal_unique_prefix(lines)
    expected.update({"parity.solve": prefix, "parity.iterative": prefix,
                     "parity.mapreduce": tally})
    return expected


def run_jvm(cp, args, work, deadline):
    log_path = os.path.join(WORK_DIR, "last-%s.log" % args.workload)
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Djava.io.tmpdir=" + tmp] + JVM_OPTS + WORKLOADS[args.workload][1] + [
        "-cp", cp, "graft.perfbench.Driver",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", DATA_DIR, "--emails", os.path.join(work, "emails.txt"),
        "--work", work, "--out", out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    with open(log_path, "w") as logf:
        code = run_bounded(cmd, deadline - time.time(), cwd=work, env=env,
                           stdout=logf, stderr=subprocess.STDOUT)
    if code is None:
        raise SystemExit("JVM exceeded the time limit; log: " + log_path)
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(open(log_path).read()[-4000:])
        raise SystemExit("JVM failed with code %s; log: %s" % (code, log_path))
    return json.load(open(out))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cp = build()
    started = time.time()
    os.makedirs(WORK_DIR, exist_ok=True)
    work = os.path.join(WORK_DIR, "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    os.makedirs(work)
    try:
        expected = expected_outputs(args.workload, args.seed, work)
        result = run_jvm(cp, args, work, started + RUN_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = benchlib.check_calls(result["samples"], expected)
    if args.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            metrics = benchlib.per_layer(result, json.load(f)["per_layer"])
    else:
        metrics = benchlib.end_to_end(result)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
