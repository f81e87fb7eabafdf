"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (jirabench/scala) with the Scala compiler that ships in
Spark's jars, into one class directory.

    python3 jirabench/build.py            # prints the class directory

The output goes to $CARGO_TARGET_DIR (default .bench_build) under the
checkout root. A stamp over every source file skips the compile when
nothing changed.
"""
import glob
import hashlib
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALA_VERSION = "2.13.17"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("SPARK_HOME must name a Spark 4 installation")
    return os.path.join(home, "jars")


def sources():
    files = []
    for pattern in ("src/main/scala/**/*.scala", "jirabench/scala/*.scala"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    if not any("/src/main/scala/" in f for f in files):
        raise SystemExit("no engine sources under src/main/scala")
    return sorted(files)


def target_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def build():
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(target_dir(), "classes")
    stamp_file = os.path.join(target_dir(), "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    if os.path.isdir(out):
        for f in glob.glob(os.path.join(out, "**", "*.class"), recursive=True):
            os.remove(f)
    os.makedirs(out, exist_ok=True)
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{j}-{SCALA_VERSION}.jar")
                               for j in ("compiler", "library", "reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", os.path.join(jars, "*")] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        raise SystemExit("compile failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


if __name__ == "__main__":
    print(build())
