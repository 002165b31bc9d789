"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (cdcbench/src, and cdcbench/test for the self-test) with the
Scala compiler that ships in Spark's jars directory, into class
directories under .bench_build/. A run starts a plain JVM on those
directories and Spark's jars.

No sbt: the compiler runs as a plain JVM, so the build reads only the
checkout and the Spark/JDK install. Each part is rebuilt only when the
hash of its inputs changes.

    python3 cdcbench/build.py [--test]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


SCALA_VERSION = "2.13.17"


def _spark_home():
    """$SPARK_HOME, else the first spark-submit on PATH whose install ships
    the Scala compiler jar."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.exists(os.path.join(home, "jars", f"scala-compiler-{SCALA_VERSION}.jar")):
            return home
    return ""


SPARK_JARS = os.path.join(_spark_home(), "jars")


class BuildError(Exception):
    pass


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        raise BuildError(f"no jars under {SPARK_JARS}")
    return jars


def _sources(*dirs):
    files = []
    for d in dirs:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def _stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _up_to_date(path, stamp):
    stamp_file = path + ".stamp"
    if os.path.exists(path) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            return fh.read() == stamp
    return False


def _mark(path, stamp):
    with open(path + ".stamp", "w") as fh:
        fh.write(stamp)


def _scalac(name, srcs, classpath, timeout, upstream=""):
    """Compiles `srcs` into .bench_build/<name> unless its stamp (sources,
    classpath and the `upstream` stamp of the classes compiled against)
    matches; returns (directory, stamp)."""
    out = os.path.join(OUT, name)
    stamp = _stamp(srcs, ":".join(classpath) + upstream)
    if _up_to_date(out, stamp):
        return out, stamp
    if not srcs:
        raise BuildError(f"{name}: no sources")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = [os.path.join(SPARK_JARS, f"scala-{p}-{SCALA_VERSION}.jar")
                for p in ("compiler", "library", "reflect")]
    args_file = os.path.join(OUT, name + ".args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", out, "-cp", os.pathsep.join(classpath)] + srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + args_file]
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              timeout=timeout)
    except subprocess.TimeoutExpired:
        raise BuildError(f"{name}: compiler timed out after {timeout}s")
    if proc.returncode != 0:
        raise BuildError(f"{name}: compile failed\n" + proc.stdout.decode(errors="replace")[-4000:])
    _mark(out, stamp)
    return out, stamp


def build(with_tests=False, timeout=840):
    """Compiles; returns the run classpath (conf, program, benchmark[,
    self-test classes], Spark's jars)."""
    os.makedirs(OUT, exist_ok=True)
    spark = spark_classpath()
    program_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program_src):
        raise BuildError(f"program sources not found at {program_src}")
    program, program_stamp = _scalac("program", _sources(program_src), spark, timeout)
    bench, bench_stamp = _scalac("bench", _sources(os.path.join(HERE, "src")),
                                 [program] + spark, timeout, program_stamp)
    cp = [os.path.join(HERE, "conf"), program, bench]
    if with_tests:
        cp.append(_scalac("selftest", _sources(os.path.join(HERE, "test")),
                          [program, bench] + spark, timeout, bench_stamp)[0])
    return cp + spark


JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java(classpath, main, args, work, timeout):
    """Runs `main` in a JVM set up as a run's; returns (exit code, output).
    Spark's jars go on the classpath as one wildcard entry."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = [p for p in classpath if not p.startswith(SPARK_JARS)] + [os.path.join(SPARK_JARS, "*")]
    # no hsperfdata file in the system temp directory: a run writes only
    # inside its checkout
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), main] + list(args)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        out, _ = proc.communicate()
        return -9, out.decode(errors="replace") + f"\n{main} timed out after {timeout}s"
    return proc.returncode, out.decode(errors="replace")


if __name__ == "__main__":
    try:
        build(with_tests="--test" in sys.argv)
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
    print("built into", os.path.relpath(OUT, ROOT))
