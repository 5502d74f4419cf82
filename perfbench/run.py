#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <index_build|query_indexed>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program from source together
with the harness under perfbench/ (sbt, once per source state), runs one
JVM, and prints the harness report followed, as the last line, by one JSON
object: {"correct", "attempted", "failed", "metrics"}. Inputs, Spark's
scratch space and run records stay under .bench_build/ in the checkout;
the inputs are deleted when the run ends. Exits non-zero, printing no
result, when the build or the run fails.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(BENCH, "target", "perfbench.jar")
CDS = os.path.join(STATE, "perfbench.jsa")
# A fixed heap and the throughput collector: with G1's adaptive heap
# sizing the same build spread by 16 % between JVMs, with these by 6 %.
XMX = "3g"
# corpus documents per workload: an index build takes seconds, a query a
# fraction of one
DOCS = {"index_build": 3000, "query_indexed": 2000}
TRAIN_DOCS = 300
GENERATE_ROUNDS = 3
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these outside spark-submit (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME (its jars/ is the compile and run classpath)")
    return home


def source_digest():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def generate(seed, docs, out):
    """Writes the inputs for `seed` to `out`; returns the seconds it took."""
    t0 = time.perf_counter()
    shutil.rmtree(out, ignore_errors=True)
    gen.write(*gen.corpus(seed, docs), out)
    return time.perf_counter() - t0


def java_cmd(home, main_args, extra=()):
    jars = sorted(os.path.join(home, "jars", f) for f in os.listdir(os.path.join(home, "jars"))
                  if f.endswith(".jar"))
    return (["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
             *extra]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join([JAR] + jars), "perfbench.Main", *main_args])


def build(home, env):
    """Compiles and packages the program with the harness, then records a
    JVM class-data archive from one short pass over every workload, which
    cuts each run's JVM and Spark start-up by several seconds."""
    stamp = os.path.join(STATE, "build.stamp")
    digest = source_digest()
    if os.path.exists(JAR) and os.path.exists(CDS) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return
    log = os.path.join(STATE, "build.log")
    train = os.path.join(STATE, "work", "train")
    with open(log, "w") as out:
        generate(0, TRAIN_DOCS, os.path.join(train, "input"))
        steps = [(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"], BENCH),
                 (java_cmd(home, ["--workload", "train", "--work", train,
                                  "--input", os.path.join(train, "input"), "--generate-s", "0",
                                  "--out", os.path.join(STATE, "runs", "train")],
                           [f"-XX:ArchiveClassesAtExit={CDS}",
                            f"-Djava.io.tmpdir={os.path.join(train, 'tmp')}"]), train)]
        for cmd, cwd in steps:
            os.makedirs(os.path.join(train, "tmp"), exist_ok=True)
            try:
                rc = subprocess.run(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
            if rc != 0:
                shutil.rmtree(train, ignore_errors=True)
                sys.stderr.write(open(log).read()[-4000:])
                fail(f"build step {cmd[0]} failed ({rc}); log in {log}", 3)
    shutil.rmtree(train, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(DOCS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources at {os.path.join(ROOT, 'src', 'main', 'scala')}: "
             "run from the root of a full checkout")
    home = spark_home()
    env = dict(os.environ, SPARK_HOME=home)
    os.makedirs(STATE, exist_ok=True)
    build(home, env)

    name = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = os.path.join(STATE, "work", name)
    out = os.path.join(STATE, "runs", name)
    log = os.path.join(STATE, "last-run.log")
    try:
        os.makedirs(os.path.join(work, "tmp"))
        docs = DOCS[a.workload]
        gen_s = [generate(a.seed, docs, os.path.join(work, "input"))
                 for _ in range(GENERATE_ROUNDS)]
        cmd = java_cmd(home, ["--workload", a.workload, "--seed", str(a.seed),
                              "--docs", str(docs), "--seconds", str(a.seconds),
                              "--trace", a.trace, "--input", os.path.join(work, "input"),
                              "--generate-s", ",".join(map(str, gen_s)),
                              "--work", work, "--out", out],
                       [f"-XX:SharedArchiveFile={CDS}",
                        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"])
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=err, stdin=subprocess.DEVNULL, text=True)
            try:
                report, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s; log in {log}", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = os.path.join(out, "result.json")
    if proc.returncode != 0 or not os.path.exists(result):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"run failed (exit {proc.returncode}); log in {log}", 1)
    sys.stdout.write(report)
    print(open(result).read().strip(), flush=True)


if __name__ == "__main__":
    main()
