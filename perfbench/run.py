#!/usr/bin/env python3
"""Run one perfbench workload against the engine sources of this checkout.

    python3 perfbench/run.py --workload serve-mixed --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout. The first run compiles the engine and the
benchmark (sbt, offline) into perfbench/target; later runs reuse the classes
while no source file changed. Each run starts one JVM, prints what it measured
and, as its last line, one JSON object with the keys correct, attempted,
failed and metrics. Exit status is 0 only when every output was checked
correct. Work files go to .bench_build/perfbench and are removed afterwards;
traced runs (--trace 1) leave their span file under .bench_build/perfbench/traces.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("serve-mixed", "index-batch")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
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


def source_stamp(root):
    """Digest of every file the build reads, so edited sources rebuild."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(root, "perfbench", "src")]
    files = [os.path.join(root, "perfbench", "build.sbt"),
             os.path.join(root, "perfbench", "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the engine builds and runs against."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    return home


def build(root, out, spark):
    classes = os.path.join(root, "perfbench", "target", "scala-2.13", "classes")
    stamp_file = os.path.join(out, "build.stamp")
    stamp = source_stamp(root)
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    env = dict(os.environ)
    env["SPARK_HOME"] = spark
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                       "-Dsbt.offline=true -Dsbt.server.forcestart=false -Xmx2g")
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                          cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.isdir(classes):
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        fail("build failed", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def heap():
    """Driver heap from MemTotal, as the engine's test command sizes it:
    half the memory, between 2 and 8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # sizes for the smoke test; the defaults are the calibrated benchmark
    ap.add_argument("--docs", type=int)
    ap.add_argument("--tail-vocab", type=int)
    ap.add_argument("--delta-docs", type=int)
    ap.add_argument("--corrupt-expected", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout: src/main/scala/graft is missing")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")
    out = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    spark = spark_home()
    classes = build(root, out, spark)

    work = os.path.join(out, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-XX:+UseG1GC", "-XX:MaxGCPauseMillis=50", f"-Xmx{heap()}",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-cp", f"{classes}:{os.path.join(spark, 'jars', '*')}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--trace-dir", os.path.join(out, "traces"),
            "--corrupt-expected", str(a.corrupt_expected)]
    for flag, v in (("--docs", a.docs), ("--tail-vocab", a.tail_vocab), ("--delta-docs", a.delta_docs)):
        if v is not None:
            cmd += [flag, str(v)]
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 5)
    shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(stdout.decode(errors="replace"))
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
