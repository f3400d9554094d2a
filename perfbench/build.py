"""Build file of the benchmark: compiles the repository's Scala sources
(`src/main/scala`) together with the harness (`perfbench/src`) with the
Scala compiler that ships among the Spark jars, into
`.bench_build/classes`.  A build is reused while no source changed.

    python3 perfbench/build.py            # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The Spark jars directory: $SPARK_JARS_DIR, else the repository
    build's `unmanagedBase`, where the jars (Scala compiler included)
    ship with the toolchain."""
    if "SPARK_JARS_DIR" in os.environ:
        return os.environ["SPARK_JARS_DIR"]
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            return m.group(1)
    raise SystemExit("perfbench: set SPARK_JARS_DIR; build.sbt names no unmanagedBase")


def files_under(base, suffix=""):
    out = []
    for d, _, names in os.walk(base):
        out.extend(os.path.join(d, n) for n in names if n.endswith(suffix))
    return out


def scala_files():
    return sorted(f for base in SOURCES for f in files_under(base, ".scala"))


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(jars):
    return os.path.join(BUILD, "classes") + os.pathsep + os.path.join(jars, "*")


def build():
    """Compile unless the classes match the current sources; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no src/main/scala under the checkout; nothing to build")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: Spark jars not found at {jars}")
    files = scala_files()
    resources = sorted(files_under(RESOURCES))
    stamp = os.path.join(BUILD, "classes.stamp")
    fp = fingerprint(files + resources)
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return classpath(jars)
    out = os.path.join(BUILD, "classes")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    # service registrations (the `graft` data source) ride with the classes
    for r in resources:
        dst = os.path.join(out, os.path.relpath(r, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(fp)
    return classpath(jars)


if __name__ == "__main__":
    print(build())
