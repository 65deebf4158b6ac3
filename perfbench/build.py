"""Build file of the benchmark package: compiles the engine (`src/main/scala`)
and the benchmark's JVM side (`perfbench/src`) with the Scala compiler that
ships in Spark's jar directory, into `.bench_build/classes-<hash>`.

The hash covers every source file, so an unchanged tree reuses its build and
any source change rebuilds. No sbt, no dependency resolution: the classpath
is Spark's jar directory: `$SPARK_HOME/jars`, or the `jars` directory of the
installation whose `spark-submit` is on the PATH.

    python3 perfbench/build.py      # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SCALA = "2.13.17"


def spark_jars():
    """The first Spark installation, from $SPARK_HOME or a `spark-submit` on
    the PATH, whose jars include the Scala compiler this build needs."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        if home and os.path.exists(os.path.join(home, "jars", f"scala-compiler-{SCALA}.jar")):
            return os.path.join(home, "jars")
    raise SystemExit(f"perfbench: no Spark installation with scala-compiler-{SCALA}.jar; "
                     "set SPARK_HOME")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"perfbench: no engine sources under {engine}")
    files = []
    for base in (engine, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    jars = spark_jars()
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{p}-{SCALA}.jar")
                               for p in ("compiler", "library", "reflect"))
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-classpath", os.path.join(jars, "*"), "-d", tmp, "-nowarn"] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise SystemExit(f"perfbench: compile failed ({proc.returncode})")
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, ".ok"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
