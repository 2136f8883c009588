"""Builds graft and the benchmark's JVM side from source.

Compiles `src/main/scala` (the program) and `perfbench/src` (the
benchmark main) with the Scala compiler that ships in Spark's jar
directory (the one build.sbt compiles against), into
`<build dir>/classes`.  A stamp holding a hash of every
source file skips the compile when nothing changed.

    python3 perfbench/build.py            # build into .bench_build
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    found = []
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        found += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(found)


def ensure():
    """Returns the classes directory, compiling first if needed. Fails
    when the program's sources are missing, so a checkout without them
    never reports a result."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src", "main")) for s in srcs):
        raise RuntimeError("no program sources under src/main")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    subprocess.run([java(), "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", classes, "-cp", cp, "@" + argfile],
                   check=True, stdout=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(ensure())
