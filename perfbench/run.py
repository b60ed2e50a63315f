#!/usr/bin/env python3
"""Run one CAWD benchmark workload from the root of a source checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source with sbt (once per source
state; the classpath is cached under .bench_build/perfbench), then runs the
harness in one JVM at local[nproc]. Inputs, scratch files and traces stay
under .bench_build/perfbench; generated inputs are deleted when the run
ends. The last line of standard output is the result object.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("orc-snapshots", "parquet-results", "stream-waves")
RUN_TIMEOUT_S = 170          # one run, build excluded
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these opens (the engine's
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint(root):
    """SHA-1 over every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha1()
    inputs = ["build.sbt", "project/build.properties",
              "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, fs in sorted(os.walk(os.path.join(root, top))):
            inputs += [os.path.relpath(os.path.join(d, f), root) for f in sorted(fs)]
    for rel in inputs:
        path = os.path.join(root, rel)
        if os.path.isfile(path):
            h.update(rel.encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha1(f.read()).digest())
    return h.hexdigest()


def runnable(cp):
    """Whether every classpath entry still exists and holds the harness."""
    entries = cp.split(os.pathsep)
    return all(os.path.exists(e) for e in entries) and any(
        os.path.isfile(os.path.join(e, "perfbench", "Main.class")) for e in entries)


def build(root, cache):
    """Compile engine + harness; return the runtime classpath."""
    stamp = os.path.join(cache, f"classpath-{source_fingerprint(root)}.txt")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            cp = f.read().strip()
        # build outputs can be cleaned while the stamp survives
        if runnable(cp):
            return cp
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join(filter(None, [env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                             "-Dsbt.server.autostart=false"]))
    t = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "--error", "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit(f"build failed (exit {proc.returncode})")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if "perfbench" not in cp:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build did not report a classpath")
    log(f"built in {time.time() - t:.1f} s")
    with open(stamp, "w") as f:
        f.write(cp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/cawd/CawdEngine.scala", "perfbench/build.sbt"):
        if not os.path.isfile(os.path.join(root, need)):
            raise SystemExit(f"run from the root of an engine source checkout: {need} not found")

    cache = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(cache, exist_ok=True)
    cp = build(root, cache)

    # a fixed path: the engine's per-file wire header counts the path's
    # length, so a per-run name would move traffic_pct between runs
    work = os.path.join(cache, "run")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap size: a full GC between ops (retained-heap probe) would
    # otherwise shrink the heap and slow the next op's allocations
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 2))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"harness failed (exit {proc.returncode})")
    for l in lines:
        print(l)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
