"""Build file of the benchmark's JVM side.

Compiles the engine (`src/main/scala` of the checkout) and the
benchmark (`perfbench/src`) with the Scala compiler that ships in
Spark's own jars, so no build tool or dependency download is needed.
Each output directory carries a digest of its sources and is rebuilt
only when they change.

    python3 perfbench/build.py        # build, print the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# Spark 4 on JDK 17 needs these outside spark-submit (the same list
# the engine's own build passes to its forked JVMs).
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars():
    """The `jars` directory of the Spark distribution: `$SPARK_HOME`, or
    the first whose `bin/spark-submit` is on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler found; set SPARK_HOME")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files, classpath):
    h = hashlib.sha256(classpath.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(src_dir, out, classpath, log):
    files = _sources(src_dir)
    if not files:
        raise BuildError(f"no Scala sources under {src_dir}")
    digest = _digest(files, classpath)
    stamp = os.path.join(out, ".digest")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    jars = spark_jars()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    with open(log, "a") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    os.remove(argfile)
    if rc != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError(f"compiling {src_dir} failed; see {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)


def build(root, build_dir):
    """Compile engine and benchmark; return the run-time classpath."""
    engine_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine_src):
        raise BuildError(f"engine sources not found at {engine_src}")
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    jars = os.path.join(spark_jars(), "*")
    engine = os.path.join(build_dir, "engine-classes")
    bench = os.path.join(build_dir, "bench-classes")
    _compile(engine_src, engine, jars, log)
    _compile(os.path.join(HERE, "src"), bench, os.pathsep.join([engine, jars]), log)
    return os.pathsep.join([bench, engine, jars])


if __name__ == "__main__":
    try:
        print(build(os.getcwd(), os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
