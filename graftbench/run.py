#!/usr/bin/env python3
"""Benchmark of the graft scheduler service.

    python3 graftbench/run.py --workload dag_http --seed 1 --seconds 30 --trace 0
    python3 graftbench/run.py --selftest
    python3 graftbench/run.py --workload mq_backlog --trace 1 --record-digests

Builds the service and the harness from the checkout's sources
(`build.py`), runs one workload in a fresh JVM (`graft.bench.Main`) on a
fresh state directory, and prints one JSON object as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones (the
traced run also writes its spans to `.bench_build/trace/`, and the traced
`mq_backlog` run ends with the query set over `data/sf0.01`, checked against
`expected/query_digests.tsv`; `--record-digests` rewrites that file from
what the run saw). Exits non-zero, printing no result, when the build or the
run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("dag_http", "mq_backlog")
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
DIGESTS = os.path.join(HERE, "expected", "query_digests.tsv")
RUN_TIMEOUT_S = 170

# org.apache.spark.launcher.JavaModuleOptions: what spark-submit would add
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(cp, work, main_args):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    return (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + opts +
            ["-cp", cp, "graft.bench.Main"] + main_args)


def run_java(cp, work, main_args, timeout):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(build.BUILD_DIR, "last-run.log")
    with open(log_path, "w") as log:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
        # scratch files inside the run's directory either way
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
        proc = subprocess.Popen(java_cmd(cp, work, main_args), cwd=work, env=env,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    with open(log_path, errors="replace") as fh:
        tail = fh.read()[-3000:]
    return code, tail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    try:
        os.makedirs(build.BUILD_DIR, exist_ok=True)
        cp = build.classpath()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        sys.stderr.write("[graftbench] build failed: %s\n" % e)
        return 2
    name = "selftest" if a.selftest else a.workload
    work = os.path.join(build.BUILD_DIR, "work", name)
    result = os.path.join(work, "result.json")
    if a.selftest:
        args = ["--selftest", "--result", result]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--result", result,
                "--trace-dir", os.path.join(build.BUILD_DIR, "trace"),
                "--data-dir", DATA_DIR, "--expected", DIGESTS]
        if a.record_digests:
            args += ["--digests-out", DIGESTS]
    code, tail = run_java(cp, work, args, RUN_TIMEOUT_S)
    out = None
    if code == 0 and os.path.isfile(result):
        with open(result) as fh:
            out = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    if out is None:
        sys.stderr.write(tail + "\n[graftbench] run failed (exit %s)\n" % code)
        return 1
    if a.selftest:
        print(json.dumps(out))
        return 0 if out.get("failed") == 0 else 1
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
