#!/usr/bin/env python3
"""Benchmark launcher for graft.

    python3 graftbench/run.py --workload refresh --seed 1 --seconds 4 --trace 0

Run from the repository root. It builds the program and the harness from
source with sbt (offline) the first time, or when a source changed, then
starts one fresh JVM with pinned settings, relays its output, and prints
the harness's JSON result as the last line of stdout. Everything it writes
goes under `.bench_build/` (build products, per-run scratch, logs) and
`.bench_out/` (trace files); the per-run scratch is removed at exit.

Extra flag: `--record 1` prints each op's observed digest as a golden line
instead of checking it (see record_goldens.py).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.join(ROOT, "graftbench")
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
HEAP = "3g"
JVM_SECONDS = 165  # the whole run must end within 180 s
BUILD_SECONDS = 800
# the add-opens the program's build.sbt passes to every forked JVM
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class Stop(Exception):
    """Raised by SIGALRM (a time limit), SIGTERM or SIGINT."""


def stop(*_):
    raise Stop


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "graftbench/build.sbt", "graftbench/project/build.properties",
                "graftbench/src"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt; cache the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.txt")
    want = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            have, cp = fh.read().split("\n", 1)
        if have == want:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        r = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        signal.alarm(BUILD_SECONDS)
        try:
            r.wait()
        except Stop:
            os.killpg(r.pid, signal.SIGKILL)
            r.wait()
            die(f"build stopped (over {BUILD_SECONDS} s, or signalled); log in {log}")
        finally:
            signal.alarm(0)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if os.pathsep in l and l.endswith(".jar") and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (sbt exit {r.returncode}); log in {log}")
    with open(stamp, "w") as fh:
        fh.write(want + "\n" + cps[-1])
    return cps[-1]


def java(work, cp):
    """The pinned JVM: the program's own flags (whole heap committed up
    front, add-opens, GCLocker retries; default tiered JIT), the run's own
    tmpdir, and no perf-data file (the JVM would write it under /tmp,
    outside the checkout)."""
    exe = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [exe, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=100",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-cp", cp]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--record", choices=["0", "1"], default="0")
    a = ap.parse_args()
    for sig in (signal.SIGALRM, signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("run from the root of a graft checkout (no build.sbt / src/main/scala/graft here)")
    cp = build()

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_build", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    logs = os.path.join(ROOT, ".bench_out", "logs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(logs, exist_ok=True)
    cmd = java(work, cp) + ["graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--cpus", str(cpus),
            "--goldens", os.path.join(HERE, "goldens.tsv"),
            "--record", a.record,
            "--trace-out", os.path.join(ROOT, ".bench_out", "traces")]
    log = os.path.join(logs, f"{a.workload}-{a.seed}-trace{a.trace}.log")
    lines = []
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True,
                             start_new_session=True)
        signal.alarm(JVM_SECONDS)
        try:
            for line in p.stdout:
                lines.append(line.rstrip("\n"))
            p.wait()
        except Stop:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            die(f"run stopped (over {JVM_SECONDS} s, or signalled); log in {log}")
        finally:
            signal.alarm(0)
    shutil.rmtree(work, ignore_errors=True)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if p.returncode != 0 or not isinstance(result, dict) or "metrics" not in result:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        die(f"harness exited {p.returncode} without a result; log in {log}")
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
