"""The benchmark's build: compiles the library (../src/main/scala) together
with the benchmark program (src/) into target/classes.

    python3 perfbench/build.py

It runs the Scala compiler that ships in the Spark distribution's jars,
against those same jars, so it needs only `java` and Spark (SPARK_HOME,
`spark-submit` on PATH, or the `pyspark` package). It rebuilds only when
a source file changed since the last build.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSES = os.path.join(HERE, "target", "classes")
STAMP = os.path.join(HERE, "target", "build.stamp")
LOG = os.path.join(HERE, "target", "build.log")


class BuildError(Exception):
    pass


def spark_jars():
    """The jars directory of the installed Spark distribution."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    try:
        import importlib.util
        spec = importlib.util.find_spec("pyspark")
        if spec and spec.origin:
            candidates.append(os.path.join(os.path.dirname(spec.origin), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("Spark not found: set SPARK_HOME to a Spark distribution")


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not lib:
        raise BuildError("library sources (src/main/scala) not found next to perfbench/")
    return lib + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build(jars):
    """Compile when the sources or the Spark jars changed since the last build."""
    files = sources()
    digest = hashlib.sha256(jars.encode())
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == digest.hexdigest():
                return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(HERE, "target", "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files) + "\n")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    with open(LOG, "w") as log:
        code = subprocess.call(cmd, cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL)
    if code != 0:
        with open(LOG) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        raise BuildError(f"compile failed ({code}), see {LOG}")
    with open(STAMP, "w") as fh:
        fh.write(digest.hexdigest())


if __name__ == "__main__":
    try:
        build(spark_jars())
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
