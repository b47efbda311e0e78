"""Build the benchmark JVM classes from source.

Compiles the engine (`src/main/scala`) together with the benchmark's own
Scala sources (`perfbench/scala`) with the Scala compiler that ships in the
Spark distribution, so no build tool or network is needed. Classes land in
`.bench_build/classes-<hash of the sources>`; an existing directory for the
same sources is reused.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")


class BuildError(Exception):
    pass


def spark_jars():
    """The `jars/` directory of the Spark distribution at `$SPARK_HOME`,
    else of the installed `pyspark` package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            home = ""
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found under {ENGINE_SRC}")
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def ensure():
    """Return the classes directory for the current sources, compiling
    them first when no build of exactly these sources exists."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("|".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes-", dir=BUILD)
    cp = os.pathsep.join(os.path.join(jars, j) for j in sorted(os.listdir(jars))
                         if j.endswith(".jar"))
    with tempfile.NamedTemporaryFile("w", suffix=".args", dir=BUILD, delete=False) as a:
        a.write("\n".join(srcs))
        argfile = a.name
    try:
        proc = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    finally:
        os.unlink(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
