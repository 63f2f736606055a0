"""Build file of the benchmark package: compiles graft's sources
(src/main/scala) together with the harness (perfbench/scala) into
.bench_build/classes with the Scala compiler that ships in Spark's jars.

The build is skipped when a stamp of every source file's path and content
matches the last successful build, so only the first run in a checkout
pays for it. Run directly to build: `python3 perfbench/build.py`.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = (os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "scala"))


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("build: Spark not found (set SPARK_HOME or put spark-submit on PATH)")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(d):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    found.sort()
    if not any(p.startswith(SOURCE_DIRS[0] + os.sep) for p in found):
        sys.exit("build: no program sources under src/main/scala")
    return found


def ensure_built():
    """Compile if the sources changed; returns (classes dir, spark jars dir)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return classes, jars
    staging = classes + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", staging,
           "-classpath", cp, "@" + argfile]
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    if subprocess.run(cmd, cwd=ROOT).returncode != 0:
        sys.exit("build: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    return classes, jars


if __name__ == "__main__":
    print(ensure_built()[0])
