"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) and the benchmark's JVM program (perfbench/src/main/scala) into
one class directory with the Scala compiler that ships in the Spark
distribution, so no build tool or network is needed.

    python3 perfbench/build.py            # from the repository root

The output is reused while no source file changed (content digest).
"""
import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_DIRS = ("src/main/scala", "perfbench/src/main/scala")


def spark_jars():
    """The jars of the installed Spark distribution: $SPARK_HOME, else the
    first distribution with a spark-submit on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise RuntimeError("no Spark distribution found: set SPARK_HOME")


def scala_sources(root):
    out = []
    for d in SOURCE_DIRS:
        base = os.path.join(root, d)
        if not os.path.isdir(base):
            raise RuntimeError(f"source directory {d} is missing; run from the repository root")
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    """Returns the class directory, compiling first if sources changed."""
    jars = spark_jars()
    sources = scala_sources(root)
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.sha256")
    want = digest(sources)
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == want:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(os.path.join(jars, j) for j in sorted(os.listdir(jars))
                        if j.startswith(("scala-compiler-", "scala-reflect-", "scala-library-")))
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise RuntimeError("compilation failed:\n" + res.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(want)
    return classes


if __name__ == "__main__":
    root = os.getcwd()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(out, exist_ok=True)
    try:
        print(build(root, out))
    except RuntimeError as e:
        sys.exit(f"build failed: {e}")
