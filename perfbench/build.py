"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark program (perfbench/src) from source with the Scala compiler
that ships in the Spark distribution, into .bench_build/perfbench.

The build is skipped when a stamp over every source file's path and
content matches the last successful build. Run it on its own with

    python3 perfbench/build.py

from the root of a checkout.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "perfbench")
ENGINE_SRC = os.path.join("src", "main", "scala")
ENGINE_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the build.sbt
    `unmanagedBase` the engine itself compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise BuildError("no Spark distribution: set SPARK_HOME")


def sources():
    out = []
    for root in (ENGINE_SRC, BENCH_SRC):
        if not os.path.isdir(root):
            raise BuildError(f"missing source directory {root}: run from the root of a checkout")
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    if not any(p.startswith(ENGINE_SRC) for p in out):
        raise BuildError(f"no engine sources under {ENGINE_SRC}")
    return sorted(out)


def stamp(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath(jars):
    return os.pathsep.join([os.path.join(BUILD_DIR, "classes"), ENGINE_RES,
                            os.path.join(jars, "*")])


def build(log=sys.stderr):
    """Compile if the sources changed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    want = stamp(srcs)
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classpath(jars)
    tmp = os.path.join(BUILD_DIR, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD_DIR, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + args_file],
        stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    final = os.path.join(BUILD_DIR, "classes")
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classpath(jars)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
