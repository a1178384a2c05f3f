"""Build step of the benchmark: compile graft's current sources plus the
harness under perfbench/src with the Scala compiler that ships in the
Spark distribution. Nothing is read from sbt's target/ directories; the
root build.sbt is not involved. The classes are reused while no source
file changes."""
import glob
import hashlib
import os
import shutil
import subprocess
import time


def _spark_jars():
    """The jars of $SPARK_HOME, else of the first installation on PATH
    whose jars include the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.isfile(os.path.join(d, "spark-submit")):
            homes.append(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))) + "/..")
    for h in homes:
        jars = os.path.normpath(os.path.join(h, "jars"))
        if h and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark installation with a Scala compiler: set SPARK_HOME")


SPARK_JARS = _spark_jars()


def sources(checkout):
    srcs = sorted(glob.glob(os.path.join(checkout, "src/main/scala/**/*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(checkout, "perfbench/src/*.scala")))
    return srcs


def build(checkout):
    """Return (classes_dir, info); compiles only when a source changed."""
    srcs = sources(checkout)
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit("no graft sources under src/main/scala: nothing to benchmark")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, checkout).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    base = os.path.join(checkout, ".bench_build", "graftbench")
    classes = os.path.join(base, "classes")
    stamp = os.path.join(base, "STAMP")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, {"source_sha256": digest, "compiled": False, "build_s": 0.0}
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(classes)
    t0 = time.monotonic()
    cp = SPARK_JARS + "/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + srcs
    log = os.path.join(base, "compile.log")
    with open(log, "w") as f:
        rc = subprocess.call(cmd, stdout=f, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        raise SystemExit("compile failed (%d):\n%s" % (rc, tail))
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, {"source_sha256": digest, "compiled": True, "build_s": time.monotonic() - t0}
