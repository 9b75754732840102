"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark's JVM side (`perfbench/scala`) with the Scala compiler that
ships in the Spark distribution, into `.bench_build/classes-<hash>`.

The hash covers every source file, so an unchanged tree is compiled once.
sbt is not used: its start-up alone takes 40-60 s and its forked-run heap
default (48 GB) does not fit a 15 GB machine.

    python3 perfbench/build.py          # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALA = "2.13.17"


def sources():
    srcs = sorted(glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True))
    if not srcs:
        raise SystemExit(f"perfbench: no program sources under {ROOT}/src/main/scala")
    return srcs + sorted(glob.glob(f"{ROOT}/perfbench/scala/*.scala"))


def spark_jars():
    """The Spark jars directory the program's build.sbt compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def classpath(classes):
    return f"{classes}:{spark_jars()}/*"


def build():
    """Compile if needed; return the class directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256(SCALA.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(ROOT, ".bench_build", "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(f"{jars}/scala-{p}-{SCALA}.jar"
                        for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", f"{jars}/*", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
