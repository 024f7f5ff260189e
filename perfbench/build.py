"""Build file of the benchmark: compiles the library's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
with the Scala compiler that ships in the Spark distribution, against the
same jars `build.sbt` uses (`$SPARK_HOME/jars`). No network, no sbt.

    python3 perfbench/build.py      # prints the classes directory

The output is reused while the sources are unchanged (a hash of every
source file names the build).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, "perfbench", ".build")


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME`, else the first
    distribution (a `bin/spark-submit` beside `jars/`) on the PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars", "*")
    sys.exit("perfbench: set SPARK_HOME to a Spark distribution")


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    own = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "*.scala")))
    if not files or not own:
        sys.exit("perfbench: no sources to build (run from a checkout of the repository)")
    return files + own


def build():
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(out)
    jars = spark_jars()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", jars] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        sys.exit("perfbench: build failed")
    open(os.path.join(out, ".done"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
