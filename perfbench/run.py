#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark program from source with sbt on first
use (cached under .perfbench/build, keyed by a digest of every source and
build file). The build ends with one short untimed run that dumps a
class-data-sharing archive, which every later run maps to start a few
seconds sooner. Each run is one JVM on local[nproc]; all its state lives
under .perfbench/runs/<run> and is deleted afterwards. Per-run reports, with
the workload's own figures and, for traced runs, the span tree, are kept
under .perfbench/reports/. The last line on stdout is the result object.
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
STATE = os.path.join(ROOT, ".perfbench")
BUILD = os.path.join(STATE, "build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("zoom_ingest", "sql_warehouse", "ann_search")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "3g"
CODE_CACHE = "256m"

# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    return home


def source_digest():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    digest = hashlib.sha256()
    for f in sorted(files):
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    return digest.hexdigest()


def jvm(cp, run_root, env, main_args, extra=()):
    """Run the benchmark JVM in `run_root`; its stdout goes to our stderr.
    Returns the exit code."""
    java = os.path.join(env["JAVA_HOME"], "bin", "java") \
        if env.get("JAVA_HOME") else "java"
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_root, d), exist_ok=True)
    # C1 only: on 4 cores, C2 compiler threads compete with Spark's task
    # threads for the whole of a run this short; measured there, C1-only
    # runs finish 20-25% sooner, op latencies included. C1-only shrinks
    # the default code cache to 48 MB, which Spark's generated classes
    # fill within a run: compilation then stops, later ops run
    # interpreted, and a task can die allocating an adapter. Hence the
    # explicit size.
    cmd = [java, f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1",
           f"-XX:ReservedCodeCacheSize={CODE_CACHE}",
           "-Xlog:cds=off", "-Xlog:cds+dynamic=off", *extra]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={run_root}/tmp",
            f"-Dspark.local.dir={run_root}/local",
            f"-Dspark.sql.warehouse.dir={run_root}/spark-warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main", *main_args]
    env = dict(env, SPARK_LOCAL_DIRS=os.path.join(run_root, "local"))
    proc = subprocess.Popen(cmd, cwd=run_root, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return 1


def build(env):
    """Compile engine + benchmark once per source digest; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"engine sources not found under {ROOT}/src/main/scala")
    stamp = source_digest()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh, open(cp_file) as cf:
            if fh.read().strip() == stamp:
                return cf.read().strip()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    # a jar classpath, because class-data sharing refuses directories
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
           "export Runtime/fullClasspathAsJars"]
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True,
                          timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()

    # dump the class archive from a short untimed run; without it, runs
    # only start slower
    run_root = os.path.join(STATE, "runs", f"archive-{os.getpid()}")
    try:
        code = jvm(cp, run_root, env,
                   ["--workload", "sql_warehouse", "--seed", "1",
                    "--seconds", "1", "--trace", "0", "--root", run_root,
                    "--result", os.path.join(run_root, "result.json"),
                    "--report", os.path.join(run_root, "report.json")],
                   [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    if code != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)

    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def read_json(path):
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    env["SPARK_HOME"] = spark_home()
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    cp = build(env)

    run_root = os.path.join(
        STATE, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    kind = "traced" if a.trace else "untraced"
    report = os.path.join(STATE, "reports", f"{a.workload}-seed{a.seed}-{kind}.json")
    result = os.path.join(run_root, "result.json")
    extra = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    try:
        code = jvm(cp, run_root, env,
                   ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--root", run_root, "--result", result, "--report", report],
                   extra)
        out = read_json(result) if code == 0 else None
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    if out is None:
        die(f"run failed (exit {code})")

    if a.trace:
        # tracing overhead: traced run_s minus the untraced run_s of the
        # same workload and seed, when that run was made in this checkout
        traced = read_json(report)
        base = read_json(report.replace("-traced.json", "-untraced.json"))
        if traced and base:
            over = (traced["end_to_end"]["run_s"]["value"]
                    - base["end_to_end"]["run_s"]["value"])
            traced["trace_overhead_s"] = over
            with open(report, "w") as fh:
                json.dump(traced, fh)
            print(f"perfbench: tracing overhead {over:.3f} s", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
