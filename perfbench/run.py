#!/usr/bin/env python3
"""CDC benchmark entry point.

    python3 perfbench/run.py --workload <live|docs_index> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds the engine and the
benchmark package (perfbench/build.sbt, a source dependency on the engine
build) with sbt and caches the runtime classpath under .bench_build/; later
calls rebuild only when a source or build file changed. The run itself is
one JVM (perfbench/src/main/scala/graft/cdc/bench/Main.scala) that prints
comment lines starting with '#' and, last, one JSON result object, which
this script re-prints as its own last line.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
BENCH = os.path.join(ROOT, "perfbench")
RUN_TIMEOUT_S = 170

# JDK 17 module openings Spark needs outside spark-submit (the same list the
# engine's build passes to its forked runs).
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


def source_digest():
    """Hash of every input of the build, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
            "perfbench/project/build.properties"]
    files = [os.path.join(ROOT, t) for t in tops]
    for d in ["src/main", "perfbench/src/main"]:
        for base, _, names in os.walk(os.path.join(ROOT, d)):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt (offline) and return the runtime classpath."""
    for need in ["build.sbt", "src/main/scala", "perfbench/build.sbt"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"missing {need}: run from the root of a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            saved, cp = fh.read().split("\n", 1)
        if saved == digest:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if r.returncode != 0 or not lines:
        fail(f"build failed (see {log})")
    cp = lines[-1]
    if "graft" not in cp and "classes" not in cp:
        fail(f"could not read the classpath from the build (see {log})")
    with open(stamp, "w") as fh:
        fh.write(digest + "\n" + cp)
    return cp


def host_probe():
    """Host load at run start, for attribution only (never used to scale
    a metric): the 1-minute load average and the time of a fixed spin."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i & 7
    spin_ms = (time.perf_counter() - t) * 1000
    return {"loadavg_1m": os.getloadavg()[0], "spin_ms": round(spin_ms, 2)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["live", "docs_index"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    print("# host " + json.dumps(host_probe()), flush=True)
    work = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.cdc.bench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=open(os.path.join(BUILD, "last-run.err"), "w"),
                            stdin=subprocess.DEVNULL, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in stdout.splitlines() if l.strip()]
    traces = [f for f in os.listdir(work) if f.startswith("trace-")]
    if traces:
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        for f in traces:
            shutil.move(os.path.join(work, f), os.path.join(BUILD, "traces", f))
    shutil.rmtree(work, ignore_errors=True)
    if not lines or not lines[-1].startswith("{"):
        fail(f"run printed no result (exit {proc.returncode}; see .bench_build/last-run.err)")
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result), flush=True)
    sys.exit(0 if proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
