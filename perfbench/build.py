"""Compiles the engine (src/main/scala) and the benchmark harness
(perfbench/src) into one class directory, with the Scala compiler and the
jars of the Spark distribution the engine builds against.

Usage: python3 perfbench/build.py   (from the repository root)
Prints the class directory. Output goes under .bench_build/, or under
$CARGO_TARGET_DIR when that is set; a build whose sources are unchanged
is reused.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        sys.exit("build: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(top):
            sys.exit(f"build: missing source directory {os.path.relpath(top, ROOT)}")
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))


def build():
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for f in srcs + jars:
        digest.update(f.encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                digest.update(fh.read())
    out = os.path.join(build_dir(), "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out, jars, False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir()}",
           "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", os.pathsep.join(jars)] + srcs
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("build: compilation failed")
    open(os.path.join(out, ".done"), "w").close()
    for old in glob.glob(os.path.join(build_dir(), "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out, jars, True


if __name__ == "__main__":
    print(build()[0])
