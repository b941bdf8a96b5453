"""Build file of the benchmark: compiles the engine (src/main/scala) together
with the benchmark sources (perfbench/src) with the Scala compiler that ships
in the Spark jars, into a build directory inside the checkout, and copies
src/main/resources (the data source registration) beside the classes.

    python3 perfbench/build.py          # build (no-op when sources are unchanged)

The build directory is $CARGO_TARGET_DIR when set, else .bench_build; both
are relative to the checkout root. A stamp of every source file's content
decides whether a rebuild is needed.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def classpath(classes):
    return classes + os.pathsep + os.path.join(SPARK_JARS, "*")


def sources():
    out = []
    for top in SOURCE_DIRS:
        if not os.path.isdir(top):
            raise SystemExit(f"build: missing source directory {os.path.relpath(top, ROOT)}")
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    if not out:
        raise SystemExit("build: no sources")
    return sorted(out)


def resources():
    if not os.path.isdir(RESOURCES):
        return []
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(RESOURCES) for f in fs)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(java="java"):
    """Compiles when needed; returns the class directory."""
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"build: Spark jars not found at {SPARK_JARS}")
    files = sources()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    want = stamp(files + resources())
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return classes
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if os.path.isdir(classes):
        shutil.rmtree(classes)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = [java, "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", os.path.join(SPARK_JARS, "*"), "@" + argfile]
    print("build: compiling %d sources" % len(files), file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    for f in resources():
        dst = os.path.join(classes, os.path.relpath(f, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classes


if __name__ == "__main__":
    print(build())
