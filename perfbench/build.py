"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the harness (perfbench/scala) into one class directory with
the Scala compiler that ships in Spark's jar directory. No sbt, so nothing
outside the checkout is written and the timed JVM starts on plain classes.

The build is skipped when a stamp of every source file's content matches.
"""
import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def _candidate_jar_dirs():
    if os.environ.get("SPARK_HOME"):
        yield os.path.join(os.environ["SPARK_HOME"], "jars")
    submit = shutil.which("spark-submit")
    if submit:
        yield os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars")
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        yield os.path.join(os.path.dirname(spec.origin), "jars")


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the one beside
    spark-submit on the PATH, else the pyspark package's."""
    for d in _candidate_jar_dirs():
        if glob.glob(os.path.join(d, "spark-sql_*.jar")) and glob.glob(
                os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise SystemExit("perfbench: no Spark jar directory with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def classpath():
    return os.path.join(OUT, "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    """Compile if stale; return the runtime classpath and the sources' hash."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(OUT, "stamp")
    classes = os.path.join(OUT, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath(), h.hexdigest()[:16]
    jars = os.path.join(spark_jars(), "*")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", jars, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath(), h.hexdigest()[:16]


if __name__ == "__main__":
    print(build()[0])
