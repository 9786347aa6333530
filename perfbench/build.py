"""Build file of the benchmark package.

Compiles the engine's main sources (``src/main/scala``) together with the
benchmark's own Scala sources (``perfbench/scala``) into
``<build dir>/classes``, using the Scala compiler that ships in Spark's
``jars`` directory (``$SPARK_HOME/jars``, default ``/opt/spark/jars``),
which is also the runtime classpath. The build is skipped when a stamp
of every source file and the jar list is unchanged.

    python3 perfbench/build.py [build dir]     # prints the classes dir
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars():
    jars_dir = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {jars_dir}; set SPARK_HOME")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT}/src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def _compiler_cp(jars):
    picked = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(picked) != 3:
        raise BuildError("scala-compiler/library/reflect jars not found with Spark")
    return os.pathsep.join(picked)


def build(build_dir):
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    stamp = hashlib.sha256()
    for path in srcs:
        stamp.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            stamp.update(hashlib.sha256(f.read()).digest())
    stamp.update("\n".join(os.path.basename(j) for j in jars).encode())
    digest = stamp.hexdigest()

    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return classes

    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", _compiler_cp(jars),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.pathsep.join(jars), "-d", staging, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=840)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    with open(os.path.join(staging, ".stamp"), "w") as f:
        f.write(digest)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(staging, classes)
    return classes


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    os.makedirs(out, exist_ok=True)
    try:
        print(build(os.path.abspath(out)))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
