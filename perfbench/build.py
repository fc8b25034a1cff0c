"""Build file of the benchmark: compiles the repository's main sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
with the Scala compiler that ships in the Spark distribution, into
`.bench_build/classes`. A content digest of every input file is kept
next to the classes, so an unchanged tree is not compiled again.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the ones the
    pyspark package bundles (the same jar set, Scala compiler included)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        import pyspark
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler under {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("build: src/main/scala not found: run from the repository root")
    return main + own


def resources():
    return os.path.join(ROOT, "src/main/resources")


def classpath():
    return os.pathsep.join([CLASSES, resources(), spark_jars()])


def build():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(resources(), "**/*"), recursive=True)):
        if os.path.isfile(p):
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    digest = h.hexdigest()
    stamp = os.path.join(OUT, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return digest
    os.makedirs(CLASSES, exist_ok=True)
    for old in glob.glob(os.path.join(CLASSES, "**/*.class"), recursive=True):
        os.remove(old)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", spark_jars(), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)
    return digest


if __name__ == "__main__":
    print(build())
