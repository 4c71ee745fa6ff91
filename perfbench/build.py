#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`)
together with the benchmark's JVM harness (`perfbench/jvm`), with the
Scala compiler that ships in Spark's jar directory, into
`perfbench/.build/graft-bench.jar`. It then records a class-data-sharing
archive of the classes a short training run loads (`app.jsa`), which
every benchmark JVM maps at start. The build is skipped when a stamp of
every source file's content matches the last build.

Usage: build.py            (prints the java options the runs use)
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
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "graft-bench.jar")
ARCHIVE = os.path.join(BUILD, "app.jsa")
STAMP = os.path.join(BUILD, "stamp")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME's, else that of a spark-submit on
    the PATH, else pyspark's."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.exists(os.path.join(d, "spark-submit")):
            homes.append(os.path.dirname(os.path.realpath(d)))
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark jar directory with a Scala compiler")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    found = sorted(glob.glob(os.path.join(engine, "**", "*.scala"),
                             recursive=True))
    if not found:
        raise SystemExit(f"perfbench: engine sources not found under {engine}")
    return found + sorted(glob.glob(os.path.join(HERE, "jvm", "*.scala")))


def read(path):
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return f.read()


def jar_classes():
    """A jar, not a directory: the archive cannot record classes loaded
    from a non-empty directory on the class path."""
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(CLASSES)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, CLASSES))


def train_archive(classpath):
    """One run of every workload query and stream operator on tiny
    inputs, with -XX:ArchiveClassesAtExit."""
    import gen
    import run
    from workloads import WORKLOADS
    queries = sorted({q for w in WORKLOADS.values() for q in w.get("queries", [])})
    data = os.path.join(BUILD, "train-data")
    gen.generate(data, 0, 0.001)
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = run.jvm_command(classpath, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                          work) + [
        "--data", data, "--work", work,
        "--out", os.path.join(work, "run.json"), "--cores", "2",
        "--passes", "1", "--trace", "0", "--seed", "0",
        "--check-dir", os.path.join(work, "outputs"),
        "--spans", os.path.join(work, "spans.json"),
        "--queries", ",".join(queries),
        "--feed", run.prepare_feed(data, 0, 2)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                           cwd=work, timeout=600)
    shutil.rmtree(data, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(ARCHIVE):
        # runs still work without the archive, only start slower
        sys.stderr.write("perfbench: class-data archive not created\n")


def ensure_built():
    """Build if any source changed; return (classpath, extra java options)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp = f"{JAR}{os.pathsep}{jars}/*"
    if not (os.path.exists(JAR) and read(STAMP) == stamp):
        for p in (CLASSES, JAR, ARCHIVE, STAMP):
            if os.path.isdir(p):
                shutil.rmtree(p)
            elif os.path.exists(p):
                os.remove(p)
        os.makedirs(CLASSES)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
               "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars}/*",
               "-d", CLASSES] + srcs
        r = subprocess.run(cmd, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("perfbench: compile failed")
        jar_classes()
        shutil.rmtree(CLASSES)
        train_archive(cp)
        with open(STAMP, "w") as f:
            f.write(stamp)
    opts = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    return cp, opts


if __name__ == "__main__":
    print(*ensure_built())
