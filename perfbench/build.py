"""Build file of the benchmark: compiles the program's main sources
(`src/main/scala`) together with the benchmark's JVM side
(`perfbench/scala`) with the Scala compiler that ships in Spark's jar
directory (`$SPARK_HOME/jars`), into `.bench_build/classes` under the
checkout root.

A stamp holding the hash of every source file skips the compile when
nothing changed. Run directly to build: `python3 perfbench/build.py`.
"""

import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")
SOURCE_DIRS = ("src/main/scala", "perfbench/scala")


class BuildError(Exception):
    pass


def spark_jars():
    """`$SPARK_HOME/jars`, or else the `jars` directory beside the first
    `bin/spark-submit` on the PATH that has one."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars):
            return jars
    raise BuildError("no Spark jar directory found (set SPARK_HOME)")


def sources():
    found = []
    for d in SOURCE_DIRS:
        base = os.path.join(ROOT, d)
        if not os.path.isdir(base):
            raise BuildError("missing source directory %s" % d)
        for dirpath, _, names in os.walk(base):
            found += [os.path.join(dirpath, n) for n in names
                      if n.endswith(".scala") or n.endswith(".java")]
    return sorted(found)


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compile if any source changed; returns the run classpath."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print("building %d source files" % len(files), file=log, flush=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
