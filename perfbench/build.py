"""Build file for the benchmark: compiles graft's main sources and the
benchmark's own Scala package into jars with the Scala compiler shipped in
Spark's jars, and caches them by a hash of every source file.

    python3 perfbench/build.py      # prints the class path it built

Output goes to $CARGO_TARGET_DIR (default .bench_build) under the working
directory, which must be the root of a graft checkout.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COMPILER_MAIN = "scala.tools.nsc.Main"
# Options of every benchmark JVM. Spark on JDK 17 needs the --add-opens
# that spark-submit would pass (JavaModuleOptions.defaultModuleOptions).
JVM_OPTS = ["-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
for _p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
           "java.net", "java.nio", "java.util", "java.util.concurrent",
           "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
           "sun.security.action", "sun.util.calendar"]:
    JVM_OPTS += ["--add-opens", f"java.base/{_p}=ALL-UNNAMED"]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else those beside a `bin` directory
    on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(p) for p in os.environ.get("PATH", "").split(":")]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return os.path.join(jars, "*")
    raise BuildError("no Spark jars found: set SPARK_HOME")


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"),
                            recursive=True))


def _hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def engine_sources():
    files = _sources(os.path.join("src", "main", "scala"))
    if not files:
        raise BuildError("no graft sources under src/main/scala: run from "
                         "the root of a graft checkout")
    return files


def _run(cmd, log, what):
    with open(log, "a") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as fh:
            tail = fh.read()[-3000:]
        raise BuildError(f"{what} failed ({rc}):\n{tail}")


def _scalac(jar, classpath, files, log):
    _run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
          f"-Djava.io.tmpdir={os.path.dirname(jar)}",
          "-cp", spark_jars(), COMPILER_MAIN,
          "-nowarn", "-d", jar, "-classpath", classpath] + files, log, "scalac")


def _cached(out, make):
    """Runs `make(dir)` into `out` unless a finished build is already
    there."""
    if os.path.exists(os.path.join(out, "OK")):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    open(os.path.join(tmp, "OK"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Returns the class path of Spark, the engine and the benchmark."""
    engine = engine_sources()
    bench = _sources(os.path.join(HERE, "src"))
    target = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    ekey = _hash(engine)[:16]
    bkey = f"{ekey}-{_hash(bench)[:16]}"
    eout = os.path.join(target, f"engine-{ekey}")
    bout = os.path.join(target, f"bench-{bkey}")
    ejar, bjar = f"{eout}/engine.jar", f"{bout}/bench.jar"
    classpath = f"{ejar}:{bjar}:{spark_jars()}"

    _cached(eout, lambda d: _scalac(f"{d}/engine.jar", spark_jars(), engine,
                                    f"{d}/build.log"))
    _cached(bout, lambda d: _scalac(f"{d}/bench.jar", f"{ejar}:{spark_jars()}",
                                    bench, f"{d}/build.log"))
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
