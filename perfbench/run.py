#!/usr/bin/env python3
"""Benchmark driver for graft: builds the library and the benchmark from
source, then runs one workload in a fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --record-near-dup > perfbench/src/main/resources/expected_near_dup.tsv

Run from the root of a checkout. The build (sbt `package`, offline, then one
class-data-sharing training run) is cached under .bench_build/ and redone when
any source file, the Spark jars or the JDK change; each run's inputs and
outputs live under .bench_work/ and are removed at the start of the next run.
near_dup reads its fixed tables from perfbench/data/.
The last line on stdout is the result object; everything else goes to stderr.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_DIR = os.path.join(ROOT, ".bench_work")
DATA_DIR = os.path.join(HERE, "data")
JAR = os.path.join(BUILD_DIR, "perfbench.jar")
# Class-data-sharing archive of the classes a workload loads, dumped by one
# training run at build time; it halves JVM + Spark session start-up, which
# keeps the whole set of runs a comparison needs inside its time budget.
# Runs require it (-Xshare:on): a JVM that cannot map it fails instead of
# silently starting slower.
CDS_ARCHIVE = os.path.join(BUILD_DIR, "classes.jsa")
WORKLOADS = ("validate_scan", "gate_bulk", "gate_micro", "near_dup")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
BUILD_TASKS = ["package"]
# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(spark_home):
    """Hash of every file the build reads, of the Spark jars it compiles
    against and the archive covers, and of the JDK that dumps the archive."""
    h = hashlib.sha256(" ".join(BUILD_TASKS).encode())
    jars = os.path.join(spark_home, "jars")
    h.update("\n".join([jars] + sorted(os.listdir(jars))).encode())
    h.update(subprocess.run(["java", "-version"], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, check=True).stdout)
    roots = [LIB_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_killable(cmd, timeout, **kw):
    """Runs cmd in its own process group. On timeout, or when this script
    is told to stop, kills the whole group and waits for it, so nothing
    outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return p.returncode, out


def spark_env(work):
    """Spark's scratch space stays inside the checkout too."""
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))


def java_cmd(spark_home, work, *jvm_opts):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           # JVM log lines (CDS notices among them) must not reach stdout
           "-Xlog:disable", "-Xlog:all=warning:stderr", *jvm_opts]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", JAR + os.pathsep + os.path.join(spark_home, "jars", "*")]


def build(spark_home):
    stamp = source_stamp(spark_home)
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(JAR) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    log("building (sbt package, then a class-data-sharing training run)")
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for f in (stamp_file, CDS_ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    code, _ = run_killable(["sbt", "-batch", "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}"]
                           + BUILD_TASKS, BUILD_TIMEOUT_S, cwd=HERE, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(JAR):
        sys.exit(f"build failed (sbt exit {code})")
    work = os.path.join(WORK_DIR, "cds-training")
    shutil.rmtree(work, ignore_errors=True)
    cmd = java_cmd(spark_home, work, f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}") + [
        "perfbench.Main", "--workload", "gate_bulk", "--seed", "0", "--seconds", "0", "--trace", "0",
        "--work", work, "--data", DATA_DIR]
    code, _ = run_killable(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=sys.stderr, stdin=subprocess.DEVNULL,
                           env=spark_env(work))
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(CDS_ARCHIVE):
        sys.exit(f"class-data-sharing training run failed (exit {code})")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--record-near-dup", action="store_true",
                    help="print the near_dup expected-results table instead of running a workload")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=("0", "1"))
    a = ap.parse_args()
    if not a.record_near_dup and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        sys.exit(f"library sources not found under {LIB_SRC}: run from a full checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        sys.exit("SPARK_HOME must point at a Spark distribution (its jars/ are the classpath)")
    build(spark_home)

    work = os.path.join(WORK_DIR, "record" if a.record_near_dup else a.workload)
    shutil.rmtree(work, ignore_errors=True)
    cmd = java_cmd(spark_home, work, "-Xshare:on", f"-XX:SharedArchiveFile={CDS_ARCHIVE}")
    if a.record_near_dup:
        code, _ = run_killable(cmd + ["perfbench.RecordNearDup", "--work", work, "--data", DATA_DIR], None,
                               cwd=ROOT, stdin=subprocess.DEVNULL, env=spark_env(work))
        sys.exit(code)
    cmd += ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work, "--data", DATA_DIR]
    try:
        code, out = run_killable(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                                 stdin=subprocess.DEVNULL, text=True, env=spark_env(work))
    except subprocess.TimeoutExpired:
        sys.exit(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if code != 0 or not lines:
        sys.exit(f"benchmark process failed (exit {code})")
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
