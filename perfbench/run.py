#!/usr/bin/env python3
"""Benchmark entry point for graft.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.sbt compiles the
checkout's src/main/scala together with the benchmark harness) on first
use, then runs one workload in a fresh JVM and prints its result as one
JSON object on the last line of standard output. Everything the run
writes stays under .bench_build/ in the checkout; the per-run state
(inputs, warehouse, Spark scratch) is deleted when the run ends.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("medallion", "curate", "admit", "serve")
DEADLINE_S = 170.0          # a run must end within 180 s once built
FIRST_BUILD_DEADLINE_S = 880.0

JVM_OPTS = [
    "-Xmx3g",
    "-XX:+UseG1GC",
    "-Duser.timezone=UTC",
    "-Dspark.ui.enabled=false",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input to the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        fail("no Spark installation: set SPARK_HOME")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def build(deadline):
    """Compile once per source tree; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources at src/main/scala/graft next to perfbench/")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath-" + stamp[:16])
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    if not shutil.which("sbt"):
        fail("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           "-Dsbt.repository.config=" + repos)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=max(1.0, deadline - time.monotonic()))
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    lines = [l for l in out.stdout.splitlines()
             if not l.startswith("[") and (os.pathsep in l or l.endswith(".jar"))]
    if not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("build printed no classpath")
    for old in os.listdir(BUILD):
        if old.startswith("classpath-"):
            os.remove(os.path.join(BUILD, old))
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one operation (the smoke check)")
    a = ap.parse_args()

    t0 = time.monotonic()
    classpath = build(t0 + FIRST_BUILD_DEADLINE_S)
    built_s = time.monotonic() - t0
    deadline = time.monotonic() + (DEADLINE_S if built_s < 30 else
                                   max(60.0, FIRST_BUILD_DEADLINE_S - built_s))

    run_dir = os.path.join(BUILD, "run-%d-%d" % (os.getpid(), time.time_ns()))
    os.makedirs(run_dir)
    trace_file = os.path.join(BUILD, "traces", "%s-seed%d.json" % (a.workload, a.seed))
    cmd = (["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + run_dir, "-cp", classpath,
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--run-dir", run_dir,
           "--trace-file", trace_file] + (["--smoke"] if a.smoke else []))
    proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail("run stopped before it ended", 3)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        stop()
    result = os.path.join(run_dir, "result.json")
    line = None
    if code == 0 and os.path.exists(result):
        with open(result) as f:
            line = f.read().strip()
    shutil.rmtree(run_dir, ignore_errors=True)
    if line is None:
        fail("the benchmark JVM exited with code %d and no result" % code, 3)
    sys.stdout.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()
