"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) and the benchmark runner (perfbench/scala) in one scalac
pass against the Spark jars, into .bench_build/classes. A stamp of the
source contents makes a second call a no-op.

Usage: python3 perfbench/build.py            (from the repository root)
The Spark jars are found through $SPARK_HOME, else next to spark-submit
on the PATH; the Scala compiler is the one those jars ship.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark jars with a Scala compiler under {jars!r}; set SPARK_HOME")
    return jars


def sources(root):
    prog = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob(f"{root}/perfbench/scala/**/*.scala", recursive=True))
    if not prog:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    return prog + bench


def build(root, log=sys.stderr):
    """Return the classpath entries for running the benchmark JVM."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha1()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = f"{root}/.bench_build/classes"
    cp = [out, f"{jars}/*"]
    try:
        with open(f"{out}/.stamp") as f:
            if f.read() == stamp:
                return cp
    except OSError:
        pass
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"building {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-d", tmp, "-classpath", f"{jars}/*", "-nowarn", "-Ybackend-parallelism", "4"] + srcs
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    with open(f"{tmp}/.stamp", "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return cp


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build(os.getcwd())))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
