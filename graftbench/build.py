"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the benchmark's JVM driver (graftbench/scala) into
.bench_build/classes with the Scala compiler that ships in Spark's jars,
the same toolchain and classpath the repo's sbt build uses. A stamp of
the sources' hash skips the compile when nothing changed.

    python3 graftbench/build.py        # prints the classpath
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")

def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the `unmanagedBase` the
    repo's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("build: set SPARK_HOME to a Spark 4 installation")
    return m.group(1)


SPARK_JARS = spark_jars()
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "graftbench", "scala")]


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {d}")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def classpath():
    return f"{CLASSES}:{SPARK_JARS}/*"


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                return classpath()
    os.makedirs(BUILD, exist_ok=True)
    subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    jars = [os.path.join(SPARK_JARS, f"scala-{m}-2.13.17.jar")
            for m in ("compiler", "library", "reflect")]
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", ":".join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           f"{SPARK_JARS}/*", "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: scalac failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath()


if __name__ == "__main__":
    print(build())
