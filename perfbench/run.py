#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

    python3 perfbench/run.py --workload crop_tile --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark with sbt (offline), records a class-data-sharing archive from
one short training run, and caches both under perfbench/.build/; later
runs reuse them until a source file changes. The benchmark then runs in
its own JVM, started directly rather than through sbt, so its standard
output is not wrapped. The last line of standard
output is one JSON object with the keys correct, attempted, failed and
metrics. Inputs, Spark scratch space and the full per-run records live
under perfbench/.work/.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("crop_tile", "neighbors", "las_pipeline")
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(BENCH_DIR, ".build")
WORK_DIR = os.path.join(BENCH_DIR, ".work")
# a first run (build + archive + run) stays under 900 s, any later one under 180 s
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 480
CDS_LIMIT_S = 150
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the engine's own
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the engine's and the benchmark's."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH_DIR, "build.sbt"), os.path.join(BENCH_DIR, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, limit, capture):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it. Returns (returncode, stdout or None)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if capture else None, text=True)
    try:
        out, _ = proc.communicate(timeout=limit)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise


def java_cmd(cp, work, args, cds):
    """The benchmark JVM command line. `cds` is ("use"|"dump", archive) or None."""
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           # a fixed heap and few collector threads: fewer threads contend
           # with the run's own for the host's few cores
           "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
           # JVM log lines go to stderr: stdout carries only the benchmark's output
           "-Xlog:disable", "-Xlog:all=warning:stderr"]
    if cds:
        mode, archive = cds
        cmd.append(f"-XX:SharedArchiveFile={archive}" if mode == "use" else f"-XX:ArchiveClassesAtExit={archive}")
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return cmd + ["-cp", cp, "graft.perfbench.Main", "--work", work] + args


def fresh_work(name):
    work = os.path.join(WORK_DIR, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def build():
    """Returns (classpath, class-data-sharing archive or None), building the
    engine and the benchmark as jars first when any source changed. After a
    build, one short training run records the classes a run loads into a
    CDS archive, which cuts JVM and Spark start-up in every later run."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    archive = os.path.join(BUILD_DIR, "classes.jsa")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip(), (archive if os.path.exists(archive) else None)
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    env = dict(os.environ)
    # the build resolves only from local caches (~/.sbt/repositories)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g")
    print("perfbench: building engine and benchmark (sbt)", file=sys.stderr)
    code, out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
                            BENCH_DIR, env, BUILD_LIMIT_S, capture=True)
    if code != 0:
        sys.stderr.write(out or "")
        fail("build failed" if code is not None else "build timed out")
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        sys.stderr.write(out)
        fail("sbt printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    print("perfbench: recording the class-data-sharing archive", file=sys.stderr)
    work = fresh_work("cds-training")
    code, _ = run_bounded(java_cmd(cp, work, ["--workload", "crop_tile", "--seed", "0", "--seconds", "1",
                                              "--trace", "1"], ("dump", archive)),
                          work, dict(os.environ), CDS_LIMIT_S, capture=True)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 and os.path.exists(archive):
        os.remove(archive)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, (archive if os.path.exists(archive) else None)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 and r.stdout.strip() else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    # a terminated run still stops (and waits for) the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.seconds < 1:
        fail("--seconds must be at least 1", 2)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the engine sources (build.sbt, src/main/scala/graft) are not next to perfbench/", 2)
    if shutil.which("java") is None:
        fail("java is not on PATH")

    cp, archive = build()
    started = time.monotonic()
    work = fresh_work(f"{a.workload}-seed{a.seed}-trace{a.trace}")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--commit", git_commit()]
    code, out = run_bounded(java_cmd(cp, work, args, ("use", archive) if archive else None),
                            work, dict(os.environ), RUN_LIMIT_S - (time.monotonic() - started),
                            capture=True)
    records = os.path.join(WORK_DIR, "records")
    os.makedirs(records, exist_ok=True)
    for f in os.listdir(os.path.join(work, "records")) if os.path.isdir(os.path.join(work, "records")) else []:
        shutil.copy(os.path.join(work, "records", f), records)
    if code is None:
        fail(f"run exceeded {RUN_LIMIT_S} s")
    lines = (out or "").rstrip("\n").splitlines()
    for line in lines[:-1]:
        print(line)
    if code != 0 or not lines:
        fail(f"benchmark exited with {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"} or result["attempted"] < 1:
        fail("malformed result line")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = [m["name"] for m in json.load(fh)["per_layer" if a.trace == "1" else "end_to_end"]]
    if sorted(result["metrics"]) != sorted(declared):
        fail("the metrics printed differ from those BENCHMARK.json declares")
    bad = [k for k, m in result["metrics"].items() if not math.isfinite(m["value"])]
    if bad:
        fail(f"no value measured for {', '.join(bad)}")
    shutil.rmtree(work, ignore_errors=True)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
