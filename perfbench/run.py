#!/usr/bin/env python3
"""Build and run the ingestion-pipeline benchmark.

    python3 perfbench/run.py --workload <backfill|daily_cadence|store_reads>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the repository root. The first run compiles the program's sources
together with the benchmark (sbt, offline) into `.bench_build/`; later runs
reuse that build while no source changed. The JVM's standard output is
passed through unchanged, so its last line is the result object.
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "classpath.stamp")

# What the program is built from: without these there is nothing to measure.
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_MARKER = os.path.join(PROGRAM_SOURCES, "graft", "IngestJob.scala")

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session is created outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [PROGRAM_SOURCES, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout or
    interruption and always waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout}s: {cmd[0]}")
        return 124
    finally:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return True
    sbt = shutil.which("sbt")
    if sbt is None:
        log("sbt not found on PATH")
        return False
    os.makedirs(BUILD, exist_ok=True)
    log("building the program and the benchmark (sbt)")
    opts = os.environ.get("SBT_OPTS", "")
    env = dict(os.environ, SBT_OPTS=opts, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    cmd = [sbt, "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"writeClasspath {CLASSPATH}"]
    # sbt's output goes to stderr: stdout carries only the benchmark's lines
    rc = run_child(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr,
                   stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(CLASSPATH):
        log(f"build failed (exit {rc})")
        return False
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    return True


def main():
    # a terminated launcher still kills and reaps its child (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["backfill", "daily_cadence", "store_reads"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, every workload and check, traced and untraced")
    a = ap.parse_args()
    if not a.smoke and a.workload is None:
        ap.error("--workload is required")
    if not os.path.isfile(PROGRAM_MARKER):
        log(f"program sources not found under {os.path.relpath(PROGRAM_SOURCES, os.getcwd())}")
        return 2
    if not build():
        return 3
    with open(CLASSPATH) as fh:
        cp = ":".join(line.strip() for line in fh if line.strip())
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main", "--root", ROOT,
    ]
    if a.smoke:
        jvm += ["--smoke", "--seed", str(a.seed)]
    else:
        jvm += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    return run_child(jvm, RUN_TIMEOUT_S, cwd=ROOT, stdin=subprocess.DEVNULL)


if __name__ == "__main__":
    sys.exit(main())
