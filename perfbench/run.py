#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload bi_thrift --seed 1 --seconds 20 --trace 0

Builds the library and the benchmark from source with sbt when the sources
changed since the last build (the first run in a checkout builds), then
starts one JVM that sets up the workload, measures it for --seconds seconds,
checks its outputs and prints one JSON object as the last line of stdout.
Everything the run writes goes under perfbench/ in the checkout: the build
under perfbench/target, scratch data under perfbench/.work (deleted when the
run ends) and a per-run artifact under perfbench/out.
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
WORKLOADS = ("bi_thrift", "ingest_commit", "dml_mixed")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
REQUIRED_KEYS = {"correct", "attempted", "failed", "metrics"}
# The JVM sizes itself (Spark's local[N] master and shuffle partitions via
# GraftSession.builder, GC and JIT threads) for half of a 4-vCPU machine,
# so other load on the machine perturbs the measured program less.
JVM_CPUS = 2

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    or interrupt, and wait until it has ended."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return out, p.returncode
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build():
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "bench.classpath")
    stamp_file = os.path.join(target, "bench.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read()
    t0 = time.time()
    try:
        tmp = os.path.join(target, "tmp")
        os.makedirs(tmp, exist_ok=True)
        _, rc = run_group(["sbt", "-batch", "-Dsbt.server.autostart=false",
                           f"-Djava.io.tmpdir={tmp}", "writeClasspath"],
                          BUILD_TIMEOUT_S,
                          cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                          stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {rc})", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    with open(cp_file) as cf:
        return cf.read()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", type=int, choices=(0, 1), default=0,
                    help="self-check: add one statement that must fail")
    args = ap.parse_args()
    # a SIGTERM unwinds like an interrupt, so run_group kills the JVM's
    # process group and waits for it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found next to "
             "perfbench/; run from a full checkout", 4)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required", 4)

    classpath = build()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    artifact = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}"
        f"{'-inject' if args.inject_failure else ''}")
    tmp = os.path.join(work, "tmp")
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData",
            f"-XX:ActiveProcessorCount={JVM_CPUS}",
            "-XX:+IgnoreUnrecognizedVMOptions",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dhive.exec.scratchdir={tmp}/hive",
            f"-Dhive.exec.local.scratchdir={tmp}/hive-local",
            f"-Dhive.downloaded.resources.dir={tmp}/hive-res",
            f"-Dhive.querylog.location={tmp}/hive-qlog",
            f"-Dhive.server2.logging.operation.log.location={tmp}/hive-oplog"]
           + [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--inject-failure", str(args.inject_failure),
              "--work", work, "--artifact", artifact])
    try:
        out, rc = run_group(cmd, RUN_TIMEOUT_S, cwd=work,
                            stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
        lines = out.decode("utf-8", "replace").splitlines()
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S}s", 5)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if rc != 0 or not isinstance(result, dict) or set(result) != REQUIRED_KEYS:
        fail(f"benchmark JVM exited {rc} without a result", 6)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
