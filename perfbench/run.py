#!/usr/bin/env python3
"""Run one benchmark measurement of the graft engine.

    python3 perfbench/run.py --workload lidar_scan --seed 1 --seconds 10 --trace 0

Run from the repository root. The first call builds the engine and the
benchmark harness from source with sbt (offline, from the local dependency
cache) into perfbench/target; later calls reuse that build while the
sources are unchanged. Each run then starts one JVM in a fresh work
directory under perfbench/.work, which is deleted when the run ends. The
last line of standard output is the JSON result; see perfbench/README.md.
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
ENGINE = os.path.join(ROOT, "src", "main", "scala", "graft")
DATA = os.path.join(BENCH, "data", "sf0.01")
EXPECTED = os.path.join(BENCH, "expected", "graded_sf0.01.tsv")
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
OUT = os.path.join(BENCH, ".out")
WORKLOADS = ("lidar_scan", "lidar_ingest", "graded_suite")
RUN_TIMEOUT = 170
BUILD_TIMEOUT = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha1()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env(tmp):
    """Offline sbt (local dependency cache only), temp files in `tmp`."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if not env.get("SBT_OPTS"):
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Xmx2g"]
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    env["SBT_OPTS"] += f" -Dsbt.offline=true -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return env


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    print("perfbench: building engine and harness with sbt", file=sys.stderr)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(tmp), stdout=subprocess.PIPE, stderr=sys.stderr,
            text=True, timeout=BUILD_TIMEOUT, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out", 3)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    cps = [l for l in lines if os.pathsep in l and ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed", 3)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(ENGINE):
        fail(f"engine sources not found at {os.path.relpath(ENGINE)}; "
             "run from a full checkout of the repository")
    for need in (DATA, EXPECTED):
        if not os.path.exists(need):
            fail(f"missing benchmark input {os.path.relpath(need)}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    cp = build()
    # a killed earlier run may have left its work directory behind
    shutil.rmtree(WORK, ignore_errors=True)
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(OUT, exist_ok=True)
    cores = max(1, min(4, os.cpu_count() or 1))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--data", DATA, "--expected", EXPECTED,
        "--cores", str(cores),
        "--spans", os.path.join(OUT, f"spans-{args.workload}.jsonl")]
    proc = subprocess.Popen(cmd, cwd=work, start_new_session=True, stdin=subprocess.DEVNULL)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
    try:
        code = proc.wait(timeout=RUN_TIMEOUT)
    except subprocess.TimeoutExpired:
        stop()
        proc.wait()
        print("perfbench: run timed out", file=sys.stderr)
        code = 3
    finally:
        stop()
        shutil.rmtree(WORK, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
