#!/usr/bin/env python3
"""Build graft and its benchmark from source, then run one workload.

Run from the repository root:

    python3 perfbench/run.py --workload sketch_ingest --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. Build output and Spark logs
go to standard error. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main")
BENCH_SOURCES = os.path.join(HERE, "src")
TARGET = os.path.join(HERE, "target")
JAR = os.path.join(TARGET, "perfbench.jar")
STAMP = os.path.join(TARGET, "sources.sha256")
WORKLOADS = ("sketch_ingest", "summary_serve", "curation_pipeline")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when a SparkSession starts outside
# spark-submit; the same list as the main build's javaOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("cannot find Spark: set SPARK_HOME")
    return home


def source_digest():
    h = hashlib.sha256()
    for top in (PROGRAM_SOURCES, BENCH_SOURCES):
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group and kills the group on timeout or
    interrupt, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(env):
    digest = source_digest()
    if os.path.exists(JAR) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "clean", "package"]
    try:
        code = run_child(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if code != 0:
        fail(f"build failed (sbt exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def main():
    # a terminated benchmark still stops its build or JVM (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", type=float, default=1.0,
                    help="row-count multiplier; below 1 only for the smoke test")
    ap.add_argument("--corrupt", action="store_true",
                    help="perturb one estimate before it is checked (negative test)")
    ap.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE",
                    help="extra Spark SQL setting; for the smoke test's negative tests only")
    args = ap.parse_args()
    if args.seed < 0 or args.seconds < 1:
        fail("--seed must be >= 0 and --seconds >= 1")
    if not os.path.isdir(os.path.join(PROGRAM_SOURCES, "scala")):
        fail(f"program sources not found under {PROGRAM_SOURCES}; run from a graft checkout")

    env = dict(os.environ, SPARK_HOME=spark_home())
    build(env)

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(work)
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    # JVM warnings go to stderr, never to stdout
    cmd = [java, "-Xmx4g", "-XX:+UseParallelGC", "-Xlog:disable", "-Xlog:all=warning:stderr"]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([JAR, os.path.join(env["SPARK_HOME"], "jars", "*")]),
            "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", work, "--scale", str(args.scale)]
    if args.corrupt:
        cmd.append("--corrupt")
    for kv in args.conf:
        cmd += ["--conf", kv]
    out_path = os.path.join(work, "stdout")
    try:
        with open(out_path, "w") as out:
            code = run_child(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stdout=out)
        with open(out_path) as fh:
            lines = [line for line in fh.read().splitlines() if line.startswith("{")]
    except subprocess.TimeoutExpired:
        fail("run timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not lines:
        fail(f"benchmark exited with {code}")
    print(lines[-1])


if __name__ == "__main__":
    main()
