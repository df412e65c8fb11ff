"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's own sources (perfbench/scala) into one class directory with the
Scala compiler that ships among the Spark jars.

    python3 perfbench/build.py        # from the repository root

The build is skipped when a stamp of every source's content matches the last
build. Output goes under .bench_build/ in the repository root.
"""
import glob
import hashlib
import os
import subprocess
import sys


def spark_home():
    """$SPARK_HOME, else the installed pyspark package (which ships the same jars)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    import pyspark
    return os.path.dirname(pyspark.__file__)


SPARK_JARS = os.path.join(spark_home(), "jars")
BUILD_DIR = ".bench_build"


def sources(root):
    found = []
    for sub in ("src/main/scala", "perfbench/scala"):
        found += glob.glob(os.path.join(root, sub, "**", "*.scala"), recursive=True)
    return sorted(found)


def classpath():
    return os.path.join(SPARK_JARS, "*")


def build(root):
    """Compile if needed; return the class directory. Raises on failure."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        raise RuntimeError("no program sources under src/main/scala: run from the repository root")
    compiler = glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar"))
    if not compiler:
        raise RuntimeError(f"no Scala compiler jar in {SPARK_JARS}")
    digest = hashlib.sha256(os.path.basename(compiler[0]).encode())
    for s in srcs:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp = os.path.join(root, BUILD_DIR, "classes.stamp")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest.hexdigest():
                return out
        os.remove(stamp)
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath(), "-d", out] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        raise RuntimeError("compilation failed")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
