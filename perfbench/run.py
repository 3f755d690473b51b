#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the
harness together with the engine's sources (sbt, offline) into
.bench_build/; later runs reuse that build until a source file changes.
Each run starts one JVM, which measures the workload, checks its outputs
and prints {"correct", "attempted", "failed", "metrics"}; this script
passes that line through last. `--pin 1` re-pins the batch workloads'
expected output fingerprints (perfbench/expected/) from the current code.
`--full 1` times and gates every query of the workload's modules, not just
its mix: the per-op profile the mix is chosen from.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("event_analytics", "corpus_dedup")
FIXTURES = ("events", "orders", "documents", "embeddings")
RUN_TIMEOUT_S = 170
FULL_TIMEOUT_S = 1200
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    out = [os.path.join(BENCH, "build.sbt"),
           os.path.join(BENCH, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def fingerprint(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles if any source changed since the last build; returns the
    runtime classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp = fingerprint(sources())
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == fp:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp, cp_file):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
             "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            print("".join(f.readlines()[-30:]), file=sys.stderr)
        fail(f"build failed (log: {os.path.relpath(log, ROOT)})")
    with open(cp_file) as f:
        cp = f.read().strip()
    with open(stamp, "w") as f:
        f.write(fp)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--pin", default="0", choices=("0", "1"))
    ap.add_argument("--full", default="0", choices=("0", "1"))
    a = ap.parse_args()

    data = os.path.join(BENCH, "data")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    missing = [t for t in FIXTURES
               if not os.path.isfile(os.path.join(data, f"{t}.parquet"))]
    if missing:
        fail(f"fixtures missing: {missing}")
    cp = build()

    work = os.path.join(BUILD, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_dir = os.path.join(BUILD, "logs")
    os.makedirs(log_dir, exist_ok=True)
    log = os.path.join(log_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-full{a.full}.log")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--data", data, "--work", work,
            "--expected", os.path.join(BENCH, "expected", f"{a.workload}.tsv"),
            "--traces", os.path.join(BUILD, "traces"), "--pin", a.pin,
            "--full", a.full]

    timeout = FULL_TIMEOUT_S if a.full == "1" else RUN_TIMEOUT_S
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {timeout} s (log: {os.path.relpath(log, ROOT)})")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    with open(log) as f:
        notes = [l.rstrip() for l in f if "[perfbench]" in l]
    for l in notes:
        print(l, file=sys.stderr)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"run failed with code {proc.returncode} (log: {os.path.relpath(log, ROOT)})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
