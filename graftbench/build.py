"""Build file of the benchmark: compiles the service sources and the harness.

The service is built from the checkout's own `src/main/scala` together with
the repo's in-process MQ broker (`src/test/scala/graft/MQBroker.scala`, which
has no test dependencies), the harness in `graftbench/src` and its
self-tests in `graftbench/tests`,
straight with the Scala compiler that ships in Spark's `jars/` directory
(the same jars the repo's sbt build uses as `unmanagedBase`). The classes
land in `.bench_build/classes`, keyed by a hash of every source file, so a
checkout compiles once and later runs reuse the classes.

    python3 graftbench/build.py          # build (no-op when up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
MQ_BROKER = os.path.join(ROOT, "src", "test", "scala", "graft", "MQBroker.scala")
BENCH_SRC = [os.path.join(HERE, "src"), os.path.join(HERE, "tests")]


class BuildError(Exception):
    pass


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        raise BuildError("no Spark jars directory under SPARK_HOME")
    return jars


def _sources():
    if not os.path.isdir(MAIN_SRC) or not os.path.isfile(MQ_BROKER):
        raise BuildError("service sources not found under %s" % ROOT)
    out = [MQ_BROKER]
    for base in [MAIN_SRC] + BENCH_SRC:
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    if os.path.isdir(MAIN_RES):
        for dirpath, _, names in sorted(os.walk(MAIN_RES)):
            for n in sorted(names):
                p = os.path.join(dirpath, n)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def classpath():
    """Build if needed; return the runtime classpath string."""
    files = _sources()
    jars = spark_jars()
    stamp = _stamp(files)
    out = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "classes.stamp")
    have = open(stamp_file).read().strip() if os.path.isfile(stamp_file) else None
    if have != stamp or not os.path.isdir(out):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        if os.path.isfile(stamp_file):
            os.remove(stamp_file)
        argfile = os.path.join(BUILD_DIR, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", out, "-classpath", cp, "@" + argfile]
        sys.stderr.write("[graftbench] compiling %d sources\n" % len(files))
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             timeout=800)
        if res.returncode != 0:
            sys.stderr.write(res.stdout.decode(errors="replace")[-4000:])
            raise BuildError("scalac failed with code %d" % res.returncode)
        if os.path.isdir(MAIN_RES):
            shutil.copytree(MAIN_RES, out, dirs_exist_ok=True)
        with open(stamp_file, "w") as fh:
            fh.write(stamp + "\n")
    return out + os.pathsep + os.path.join(jars, "*")


if __name__ == "__main__":
    try:
        print(classpath())
    except BuildError as e:
        sys.stderr.write("[graftbench] build failed: %s\n" % e)
        sys.exit(2)
