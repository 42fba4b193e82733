"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own JVM side (perfbench/src) into one class directory with the
Scala compiler that ships in Spark's jars ($SPARK_HOME/jars), so the build
needs neither sbt nor a network, and writes only under the build directory.

A stamp of every source file's content skips the compile when nothing
changed.  Usage: python3 perfbench/build.py [buildDir]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")

# build.sbt's forked-run JVM contract: Spark 4 on JDK 17 outside
# spark-submit needs these opens, and the run pins UTC and the optimizer
# setting the engine's runs use.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# -XX:-UsePerfData: no hsperfdata file outside the build directory
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-XX:-UsePerfData",
    # a fixed set of JIT compiler threads: app_cpu_s leaves out their CPU
    # time, which a thread that exits mid-pass would take with it
    "-XX:-UseDynamicNumberOfCompilerThreads",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Duser.timezone=UTC",
    "-Dspark.sql.constraintPropagation.enabled=false",
]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        raise BuildError("SPARK_HOME must point at a Spark install whose jars/ "
                         "holds the Scala compiler")
    return os.path.join(home, "jars", "*")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"no engine sources under {ENGINE_SRC}: run from the "
                         "repository root")
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def build(build_dir):
    """Compile if needed; returns the JVM classpath for running."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = os.path.join(build_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
               "-cp", jars, "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", out] + files
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True)
        if r.returncode != 0:
            raise BuildError("scalac failed:\n" + r.stdout[-4000:])
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return out + os.pathsep + jars, stamp


if __name__ == "__main__":
    try:
        cp, stamp = build(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")
    except BuildError as e:
        sys.exit(f"build failed: {e}")
    print(cp)
