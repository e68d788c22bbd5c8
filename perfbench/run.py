#!/usr/bin/env python3
"""Ingest-pipeline benchmark: one run of one workload.

    python3 perfbench/run.py --workload ingest_trickle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the program and the benchmark
from source with the offline sbt toolchain on first use (the build is
cached under .bench_build/ and redone when a source changes), runs the
workload in one JVM, prints every reported metric with its unit and, as
the last line, the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The run's full artifact (provenance, both metric sets, spans, failures)
is kept under .bench_build/results/.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("ingest_trickle", "ingest_catchup")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "2g"
SBT_FLAGS = [
    "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
    "-Dsbt.override.build.repos=true",
    "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
    "-Dsbt.offline=true",
]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every input of the build: the program's and the benchmark's."""
    h = hashlib.sha256()
    roots = [PROGRAM, os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Classpath of the compiled program and benchmark, building if stale."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.digest")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = run_child(["sbt", *SBT_FLAGS, "compile", "export Runtime/fullClasspath"],
                       BENCH, env, fh, BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}", 1)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return cps[-1]


def run_child(cmd, cwd, env, out, timeout):
    """Run a child process to completion; on timeout kill it and wait."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        return -9
    except BaseException:
        os.killpg(proc.pid, 9)
        proc.wait()
        raise


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def default_cpus():
    """Spark task threads: one core is left to query planning, JIT, GC and
    the generator. At local[4] on four cores, catch-up runs read 16k or 20k
    events/s from one JVM to the next; at local[3] they stay within 6%."""
    return min(4, max(1, len(os.sched_getaffinity(0)) - 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--cpus", type=int, default=default_cpus(),
                    help="Spark local[n] threads (default: nproc - 1, at most 4)")
    a = ap.parse_args()
    # a terminated run still stops and reaps its build or JVM (run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (1 <= a.seconds <= 60):
        fail("--seconds must be 1..60")
    if not os.path.isfile(os.path.join(PROGRAM, "graft", "engine", "stream", "StreamProcessor.scala")):
        fail(f"no program sources under {PROGRAM}: run from the root of a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    digest = source_digest()
    cp = build(digest)

    stamp = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = os.path.join(BUILD, "work", stamp)
    tmp = os.path.join(work, "tmp")
    results = os.path.join(BUILD, "results")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(results, exist_ok=True)
    artifact = os.path.join(results, stamp + ".json")
    log = os.path.join(results, stamp + ".log")

    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=256m",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={os.path.join(tmp, 'local')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cpus", str(a.cpus),
           "--spec", os.path.join(ROOT, "BENCHMARK.json"), "--bench", BENCH,
           "--work", os.path.join(work, "data"), "--out", artifact]
    load_start = os.getloadavg()
    try:
        with open(log, "w") as fh:
            rc = run_child(cmd, ROOT, dict(os.environ), fh, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_end = os.getloadavg()

    if not os.path.exists(artifact):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"run produced no artifact (exit {rc}); log in {log}", 1)
    with open(artifact) as fh:
        art = json.load(fh)
    art["provenance"] = {
        "cpus": a.cpus, "nproc": len(os.sched_getaffinity(0)), "heap": HEAP,
        "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "workload": a.workload,
        "loadavg_start": load_start, "loadavg_end": load_end,
        "git_sha": git_sha(), "source_digest": digest, "exit_code": rc,
    }
    with open(artifact, "w") as fh:
        json.dump(art, fh, indent=1)

    if rc != 0:
        reason = art.get("error") or "; ".join(art.get("invalid", [])) or f"exit {rc}"
        fail(f"run not usable: {reason}; artifact {artifact}", 3 if rc == 3 else 1)
    result = art["result"]
    for f in art.get("failures", [])[:20]:
        print(f"FAILED {f}")
    print(f"{a.workload} seed={a.seed} cpus={a.cpus} trace={a.trace} "
          f"attempted={result['attempted']} failed={result['failed']} "
          f"error_rate={art['error_rate']:.6f}")
    for name, m in result["metrics"].items():
        print(f"  {name:40s} {m['value']:>16.4f} {m['unit']}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
