#!/usr/bin/env python3
"""Layered benchmark entry point.

    python3 perfbench/run.py --workload <ingest_web|ingest_heavy|serve_reads> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark from
source with sbt (offline) the first time, or when a source file changed,
then runs one JVM sized to the host: local[nproc] and a heap derived from
MemTotal the way the repository's test command derives SPARK_DRIVER_MEM.
The last line of standard output is the result JSON. The build writes
under target/ and perfbench/target, and a run under perfbench/.work.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
CP_FILE = os.path.join(TARGET, "bench-classpath.txt")
STAMP_FILE = os.path.join(TARGET, "bench-stamp.txt")
WORKLOADS = ("ingest_web", "ingest_heavy", "serve_reads")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath was built from these sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("program sources (src/main/scala) not found next to perfbench/")
    stamp = source_stamp()
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read() == stamp:
                with open(CP_FILE) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        die("sbt not found")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    # also for the JVM the sbt script starts to read the Java version
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    # sbt's caches, temp files, server socket and JNA libraries all go under
    # perfbench/target; it reads the toolchain's coursier cache offline
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
           f"-Dsbt.global.base={TARGET}/sbt-global", f"-Dsbt.boot.directory={TARGET}/sbt-boot",
           f"-Dsbt.ivy.home={TARGET}/ivy", "compile", "export Runtime/fullClasspath"]
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die(f"build failed (exit {p.returncode})")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(cp)
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", flush=True)
    return cp


def host_cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_gb():
    """max(2, min(8, MemTotal / 2 GiB)) GiB, as the repository's test command."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return 2 if g < 2 else 8 if g > 8 else g
    except OSError:
        pass
    return 2


def main():
    # on SIGTERM, raise SystemExit so subprocess.run kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = f"{heap_gb()}g"
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    cmd = ([java, f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.language=en", "-Duser.country=US", f"-Djava.io.tmpdir={tmp}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", run_dir, "--cores", str(host_cores())])
    try:
        p = subprocess.run(cmd, cwd=run_dir, stdin=subprocess.DEVNULL, capture_output=True,
                           text=True, timeout=RUN_TIMEOUT_S)
        results = os.path.join(run_dir, "results")
        if os.path.isdir(results):
            keep = os.path.join(WORK, "results")
            os.makedirs(keep, exist_ok=True)
            for f in os.listdir(results):
                shutil.copy(os.path.join(results, f), keep)
    except subprocess.TimeoutExpired as e:
        err = e.stderr or ""
        sys.stderr.write(err.decode("utf-8", "replace") if isinstance(err, bytes) else err[-4000:])
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    out = [l for l in p.stdout.splitlines() if l.strip()]
    result = None
    if out:
        try:
            result = json.loads(out[-1])
        except ValueError:
            result = None
    if p.returncode != 0 or not isinstance(result, dict) or "metrics" not in result:
        sys.stderr.write(p.stderr[-6000:])
        for l in out if result is None else out[:-1]:
            print(l)
        die(f"benchmark JVM failed (exit {p.returncode})")
    for l in out:
        print(l)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
