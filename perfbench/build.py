#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala of the
checkout) together with the benchmark (perfbench/src) into one class
directory, using the Scala compiler that ships in the Spark distribution.

    python3 perfbench/build.py        # prints the class directory

The classes are packed into one jar, so that the JVM can keep them in a
class-data-sharing archive (see run.py). The build is skipped when a
previous one compiled exactly the same sources against the same jars.
Outputs go to .bench_build/perfbench/ at the root of the checkout.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(OUT, "perfbench.jar")
STAMP = os.path.join(OUT, "perfbench.jar.stamp")
# Class-data-sharing archive of the classes a run loads; made by the first
# run after a build (run.py), so it is removed whenever the jar changes.
ARCHIVE = os.path.join(OUT, "perfbench.jsa")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside the spark-submit found on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars") if home else ""
        if jars and glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise BuildError("no Spark distribution: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java: set JAVA_HOME or put java on PATH")
    return exe


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not prog:
        raise BuildError("program sources src/main/scala not found beside perfbench/")
    if not bench:
        raise BuildError("benchmark sources perfbench/src not found")
    return prog + bench


def compiler_classpath(jars):
    parts = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(jars, name + "-2.13.*.jar")))
        if not found:
            raise BuildError("%s jar missing from %s" % (name, jars))
        parts.append(found[-1])
    return os.pathsep.join(parts)


def stamp(srcs, jars):
    h = hashlib.sha256()
    for path in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    for name in sorted(os.listdir(jars)):
        h.update(name.encode())
    return h.hexdigest()


def pack(classes, jar):
    """Writes the class tree `classes` into the jar file `jar`."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, dirs, files in os.walk(classes):
            dirs.sort()
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))


def build(log=sys.stderr):
    """Compiles if needed; returns the jar of the program and benchmark."""
    jars = spark_jars()
    srcs = sources()
    want = stamp(srcs, jars)
    if os.path.exists(JAR) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == want:
                return JAR
    os.makedirs(OUT, exist_ok=True)
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print("perfbench: compiling %d sources" % len(srcs), file=log, flush=True)
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-Djava.io.tmpdir=" + OUT,
           "-cp", compiler_classpath(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", os.path.join(jars, "*"), "@" + argfile]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if done.returncode != 0:
        raise BuildError("compile failed:\n" + done.stdout[-4000:])
    for stale in (STAMP, ARCHIVE):
        if os.path.exists(stale):
            os.remove(stale)
    pack(tmp, JAR + ".tmp")
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(STAMP, "w") as f:
        f.write(want + "\n")
    return JAR


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("perfbench: " + str(e), file=sys.stderr)
        sys.exit(2)
