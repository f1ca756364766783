"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's JVM side (perfbench/scala) into .bench_build/classes with
the Scala compiler that ships in Spark's jars directory.

    python3 perfbench/build.py        # from the repository root

The build is skipped when a stamp of every source file and of the jar
list matches the previous build. Only the repository checkout is written.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to the
    spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark jars with a Scala compiler "
                         "found (set SPARK_HOME)")
    return jars


def sources(root):
    out = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(os.path.join(root, d)):
            out += [os.path.join(dirpath, f) for f in files
                    if f.endswith(".scala")]
    return sorted(out)


def build(root="."):
    """Compile if needed; return the classpath to run the benchmark with."""
    jars = spark_jars()
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src/main/scala"))
               for s in srcs):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode() + b"\0")
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\0".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + args_file]
    with open(os.path.join(out, "build.log"), "w") as log:
        rc = subprocess.run(cmd, stdout=log,
                            stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise SystemExit("perfbench: compile failed, see %s/build.log"
                         % BUILD_DIR)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    build(sys.argv[1] if len(sys.argv) > 1 else ".")
