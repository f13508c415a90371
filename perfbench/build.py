"""Build file of the benchmark: compiles the engine (``src/main/scala`` of
the checkout) together with the harness (``perfbench/scala``) with the
Scala compiler that ships in Spark's jar directory, into
``perfbench/.build/perfbench.jar``. A content hash of every source skips
rebuilds.

    python3 perfbench/build.py      # prints the jar
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, ".build")


def spark_jars_dir():
    """`$SPARK_HOME/jars`, else the jar directory the repository's own
    build.sbt compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("Spark jars not found: set SPARK_HOME")
    return m.group(1)


def engine_sources():
    return sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))


def bench_sources():
    return sorted(glob.glob(os.path.join(BENCH, "scala", "*.scala")))


def spark_classpath():
    jars_dir = spark_jars_dir()
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {jars_dir}")
    return jars


def build():
    """Compile if any source changed; return the jar. A rebuild also drops
    the class-data-sharing archives of the previous build."""
    engine = engine_sources()
    if not any(p.endswith(os.path.join("graft", "SparkEntry.scala")) for p in engine):
        raise SystemExit("engine sources (src/main/scala/graft) not found next to perfbench/")
    sources = engine + bench_sources()
    h = hashlib.sha256()
    for p in sources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(OUT, "stamp")
    classes = os.path.join(OUT, "classes")
    jar = os.path.join(OUT, "perfbench.jar")
    if os.path.exists(jar) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return jar
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_classpath()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.pathsep.join(jars), "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed")
    # a jar, not a directory, so the JVM's class-data sharing covers it
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, files in os.walk(classes):
            for f in files:
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return jar


if __name__ == "__main__":
    print(build())
