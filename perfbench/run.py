#!/usr/bin/env python3
"""Run one benchmark workload from the root of a source checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness from source with sbt on first use
(the build is cached under `.bench_build/`, keyed by a digest of every
source file), then runs the harness in one JVM on local[nproc] and
relays its result: the last line of stdout is one JSON object with
`correct`, `attempted`, `failed` and `metrics`.

Environment: SPARK_DRIVER_MEM sets the JVM heap, fixed and pre-touched
(default: an eighth of physical memory, clamped to 2-4 GiB); SPARK_GRAFT_CPUS the local core
count (default: all). Spark scratch goes to `.bench_build/run-<pid>/spark-local`
through SPARK_GRAFT_LOCAL_DIR and is removed after the run.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["raster_ingest", "serve_mixed", "suite_raw", "curation_stream"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build if the sources changed since the cached build; return the
    runtime classpath."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved, cp = f.read().split("\n", 1)
        if saved == digest:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest + "\n" + lines[-1])
    return lines[-1]


def heap():
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(4, max(2, kb // 8 // 1048576))}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for need in ["build.sbt", os.path.join("src", "main", "scala", "graft")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found ({need}); run from a source checkout")

    cp = classpath()
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=local, TMPDIR=tmp,
               SPARK_DRIVER_MEM=heap(), PYTHON=sys.executable,
               PERFBENCH_DIR=HERE)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           # a fixed, pre-touched heap: peak RSS then moves with the
           # engine's native memory, not with when the collector grows
           # the heap
           + [f"-Xms{env['SPARK_DRIVER_MEM']}", f"-Xmx{env['SPARK_DRIVER_MEM']}",
              "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
              "-Dlog4j2.level=warn", "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work-dir", os.path.join(run_dir, "work"),
              "--trace-out", os.path.join(BUILD, "trace", f"{a.workload}-seed{a.seed}.json")])
    try:
        out = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                             stdin=subprocess.DEVNULL, text=True, timeout=170)
    except subprocess.TimeoutExpired:
        fail("run exceeded 170 s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode != 0 or not lines:
        fail(f"harness exited with {out.returncode}")
    print(lines[-1])


if __name__ == "__main__":
    main()
