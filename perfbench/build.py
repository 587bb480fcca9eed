"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships with Spark, into one class directory.

    python3 perfbench/build.py

writes .bench_build/classes. A build whose sources are unchanged since
the last one is skipped (a stamp file records their digest).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    """Classpath wildcard of the Spark distribution: $SPARK_HOME, else the
    one whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or ".", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Spark jars with a Scala compiler under {jars}; set SPARK_HOME")
    return os.path.join(jars, "*")


def sources():
    files = []
    for root in SOURCE_ROOTS:
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    if not any(f.startswith("src/main/scala") for f in files):
        sys.exit("perfbench: no engine sources under src/main/scala; "
                 "run from the root of a checkout")
    return sorted(files)


def build(out=".bench_build/classes"):
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".sources"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = spark_jars()
    subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", jars,
                    "scala.tools.nsc.Main", "-nowarn", "-classpath", jars, "-d", out,
                    "@" + argfile],
                   check=True, stdout=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return out


if __name__ == "__main__":
    build()
