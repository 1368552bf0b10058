#!/usr/bin/env python3
"""DMARC archive-to-dashboard benchmark.

    python3 dmarcbench/run.py --workload backfill|dashboard|live_intake \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the benchmark and the
library's main sources with sbt (offline) into dmarcbench/target; later runs
reuse that build while the sources are unchanged. Each run starts one JVM
with Spark at local[nproc], writes only under dmarcbench/work, and prints the
run context and the workload's own figures as JSON lines, then the result as
the last line of stdout:

    {"correct": true, "attempted": N, "failed": N, "metrics": {...}}

Every workload reports the same metrics, each in its own terms. With
--trace 0 they are the end-to-end metrics of BENCHMARK.json; with --trace 1
the per-layer metrics and the tracing overhead, and the spans are kept in
dmarcbench/work/trace/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIB_SRC = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(BENCH, "target")
CLASSPATH_FILE = os.path.join(TARGET, "bench-classpath.txt")
STAMP_FILE = os.path.join(TARGET, "bench-stamp.txt")
WORK = os.path.join(BENCH, "work")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JAVA_MODULES = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"dmarcbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """$SPARK_HOME, else the installation whose bin/spark-submit is on PATH
    beside a jars directory (a pip-installed launcher has none)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.isfile(os.path.join(d, "spark-submit")) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == stamp:
                return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    if not os.path.isdir(os.path.join(env["SPARK_HOME"], "jars")):
        fail("Spark not found: set SPARK_HOME or put Spark's bin directory on PATH")
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g "
                       f"-Djna.tmpdir={os.path.join(TARGET, 'jna')} " + env.get("SBT_OPTS", ""))
    print("dmarcbench: building (sbt compile)", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if p.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "dashboard", "live_intake"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", choices=["wrong_answer", "withhold_file"],
                    help="self-test only: plant a wrong expected answer or withhold a drop file")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(LIB_SRC, "scala", "graft")):
        fail(f"library sources not found under {LIB_SRC}; run from a checkout of the repository")
    if shutil.which("java") is None:
        fail("java is not on PATH")
    build()
    with open(CLASSPATH_FILE) as f:
        classpath = f.read().strip()

    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cpus = nproc()
    opens = [x for m in JAVA_MODULES for x in ("--add-opens", f"java.base/{m}=ALL-UNNAMED")]
    cmd = ["java", "-Xmx3g", *opens,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-Dspark.ui.enabled=false",
           "-cp", classpath,
           "dmarcbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", run_dir]
    if a.inject:
        cmd += ["--inject", a.inject]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        # keep the spans of a traced run; drop the data
        trace = os.path.join(run_dir, "trace")
        if os.path.isdir(trace):
            os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
            for f in os.listdir(trace):
                shutil.move(os.path.join(trace, f), os.path.join(WORK, "trace", f))
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        fail(f"benchmark JVM exited with {proc.returncode} and no result")
    for l in lines:
        print(l)


if __name__ == "__main__":
    main()
