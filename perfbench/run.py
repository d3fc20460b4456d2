#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the driver with perfbench/build.sbt, which builds the engine with the
repository's build.sbt, when their sources changed, then runs the driver in one
JVM at local[<cores>]. Everything it writes stays under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("store_check", "graph_fixpoint")
RUN_LIMIT_S = 170      # a run must end within 180 s
BUILD_LIMIT_S = 880    # the first run in a checkout may take 900 s

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest(root):
    """Hash of every input of the two builds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("no Spark distribution found (set SPARK_HOME)", 2)
    return home, jars


def sbt(cwd, log, deadline, env):
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"]
    with open(log, "ab") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env,
                             start_new_session=True)
        if wait(p, deadline) != 0:
            fail(f"build failed in {cwd}; see {log}", 3)


def wait(p, deadline):
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def build(root, state, spark_home, deadline):
    stamp = os.path.join(state, "build.stamp")
    digest = sources_digest(root)
    classes = [os.path.join(root, "target/scala-2.13/classes"),
               os.path.join(root, "perfbench/target/scala-2.13/classes")]
    if (os.path.exists(stamp) and open(stamp).read() == digest
            and all(os.path.isdir(c) for c in classes)):
        return classes, False
    env = dict(os.environ, SPARK_HOME=spark_home)
    # one sbt run: perfbench/build.sbt depends on the root build
    sbt(os.path.join(root, "perfbench"), os.path.join(state, "build.log"), deadline, env)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes, True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    start = time.time()
    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} is missing: run from the root of a graft checkout", 2)
    spark_home, jars = spark_jars()
    state = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)

    classes, built = build(root, state, spark_home, start + BUILD_LIMIT_S)
    deadline = time.time() + RUN_LIMIT_S if built else start + RUN_LIMIT_S

    work = os.path.join(state, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # the parallel collector: less GC work than G1 on a small, short-lived
    # heap; a fixed heap and young generation, so collections do not
    # change with the collector's sizing decisions while a run measures
    cmd = [java, "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classes[::-1] + [os.path.join(jars, "*")]),
            "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    log = os.path.join(state, f"{a.workload}-{a.seed}-t{a.trace}.log")
    try:
        with open(log, "wb") as err:
            p = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=err,
                                 stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                fail(f"run exceeded {RUN_LIMIT_S} s; see {log}", 4)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(state, f"spans-{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.decode("utf-8", "replace").splitlines() if l.startswith("{")]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail(f"driver exited {p.returncode} without a result; see {log}", 5)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
