#!/usr/bin/env python3
"""Facade benchmark for the VectorStore and CorpusStore.

    python3 perfbench/run.py --workload serve|churn|corpus --seed N \\
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source (perfbench/build.py),
runs one workload in one JVM against `local[<cores>]` and prints, as the
last line of standard output, one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. Run from the root of a checkout; all
outputs stay under .bench_build/perfbench/ (the trace of each run is
written to .bench_build/perfbench/traces/). See perfbench/README.md.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("serve", "churn", "corpus")
# Every JVM run must end well inside the 180 s a run may take.
JVM_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs the module openings that
# spark-submit would add (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sharing(work):
    """JVM options for the class-data-sharing archive, and the file the
    JVM dumps one to (None when it already exists). The first run after a
    build records the classes it loads and dumps them at exit; every later
    run maps them from the archive instead of loading and verifying them
    from the jars, which takes seconds off each run's start-up and set-up.
    A missing or stale archive only costs that time: the JVM then loads
    classes as usual. JVM log lines go to stderr, never into the result."""
    opts = ["-Xlog:disable", "-Xlog:all=warning:stderr"]
    if os.path.exists(build.ARCHIVE):
        return opts + ["-XX:SharedArchiveFile=" + build.ARCHIVE], None
    dump = os.path.join(work, "perfbench.jsa")
    return opts + ["-XX:ArchiveClassesAtExit=" + dump], dump


def jvm(jar, main, args, work, log_path, share=False):
    """Runs `main` from the built jar; returns (exit code, stdout)."""
    jars = build.spark_jars()
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    opts, dump = sharing(work) if share else ([], None)
    # The parallel collector stops the world and runs no concurrent GC
    # threads beside local[<cores>]'s task threads; with G1 a run's
    # figures spread about twice as wide.
    cmd = [build.java(), "-XX:-UsePerfData", "-XX:+UseParallelGC", "-Xmx3g",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + opts
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", jar + os.pathsep + os.path.join(jars, "*"), main] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)

        def stop(signum, _frame):
            # the JVM runs in its own session: take it down with us
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print("perfbench: run exceeded %d s, killed" % JVM_TIMEOUT_S,
                  file=sys.stderr)
            return 1, ""
    if dump and proc.returncode == 0 and os.path.exists(dump):
        os.replace(dump, build.ARCHIVE)
    return proc.returncode, out


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own unit tests")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    try:
        jar = build.build()
    except build.BuildError as e:
        print("perfbench: " + str(e), file=sys.stderr)
        return 2

    logs = os.path.join(build.OUT, "logs")
    traces = os.path.join(build.OUT, "traces")
    os.makedirs(logs, exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    name = "selftest" if a.selftest else "%s-%d-t%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(build.OUT, "work", "%s-%d" % (name, os.getpid()))
    log = os.path.join(logs, name + ".log")
    try:
        if a.selftest:
            code, out = jvm(jar, "perfbench.SelfTest", [], work, log)
        else:
            code, out = jvm(jar, "perfbench.Main", [
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work,
                "--trace-out", os.path.join(traces, name + ".json")], work, log,
                share=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    if code != 0:
        print("perfbench: exit %d; last log lines (%s):\n%s" % (code, log, tail(log)),
              file=sys.stderr)
    return code


if __name__ == "__main__":
    sys.exit(main())
