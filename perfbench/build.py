"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark harness (`perfbench/harness`) with the Scala compiler that
ships in Spark's jar directory, into `.bench_build/classes` of the checkout,
then writes the program's oracle SQL to `.bench_build/oracle_sql.json`.

    python3 perfbench/build.py          # build if any source changed

A stamp over the source files and the jar list skips the compile when
nothing changed. Spark's jars are found through `SPARK_HOME`, else through
the installed `pyspark` package.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
ORACLE_SQL = os.path.join(BUILD, "oracle_sql.json")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    cands = [os.path.join(home, "jars")] if home else []
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for d in cands:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise SystemExit("perfbench: no Spark jar directory with a Scala compiler "
                     "(set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"perfbench: program sources not found under {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(ROOT, "perfbench", "harness", "*.scala")))
    return files


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(quiet=True):
    """Compile if needed; return the runtime classpath."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "classes.stamp")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classpath()
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.makedirs(CLASSES)
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-classpath", cp, "-d", CLASSES, "-encoding", "utf8",
               "-nowarn"] + srcs
        r = subprocess.run(cmd, capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
            raise SystemExit("perfbench: compile failed")
        if not quiet:
            sys.stderr.write(r.stdout + r.stderr)
        r = subprocess.run(["java", "-cp", classpath(), "perfbench.OracleSql", ORACLE_SQL],
                           capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
            raise SystemExit("perfbench: writing the oracle SQL failed")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return classpath()


if __name__ == "__main__":
    print(build(quiet=False))
