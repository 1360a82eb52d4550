"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/src) into one class directory with the Scala
compiler that ships with the Spark distribution.

The build is skipped when a stamp over every input (source files, the
Spark jar list, the Java version) matches the previous build.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    """Directory of the Spark jars: $SPARK_HOME/jars, else next to the
    `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise RuntimeError("Spark distribution not found: set SPARK_HOME")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise RuntimeError("java not found: set JAVA_HOME")
    return found


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(root, "perfbench", "src")]
    for d in dirs:
        if not os.path.isdir(d):
            raise RuntimeError(f"missing source directory {os.path.relpath(d, root)}")
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root):
    """Compile if needed; returns the class directory."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    h.update(java_bin().encode())
    stamp = h.hexdigest()

    out = os.path.join(root, BUILD_DIR)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes

    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise RuntimeError("Scala compiler jars not found in the Spark distribution")
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java_bin(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn",
           "-cp", os.path.join(jars, "*"),
           "-d", classes, "@" + argfile]
    with open(os.path.join(out, "build.log"), "w") as log:
        rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise RuntimeError(f"compile failed (exit {rc}); see {BUILD_DIR}/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except RuntimeError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(1)
