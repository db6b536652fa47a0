#!/usr/bin/env python3
"""Closed-loop benchmark of the graft mailbox connector.

Run from the root of a checkout:

    python3 perfbench/run.py --workload mbx_indexed --seed 1 --seconds 15 --trace 0

It builds the program and the harness from source with sbt (once per
source state), runs one workload in a fresh JVM, and prints the result
JSON as the last line of stdout. It exits non-zero when the checkout
holds no program sources, when the run fails, or when any result is
wrong. `--trace 1` reports per-layer metrics instead of end-to-end ones
and writes the span artifact to perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("indexed", "landing")
FIXTURE = os.path.join(ROOT, "fixtures", "mailbox", "unittest_ansi.pst")
BUILD_DIR = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
# a run (after the build) must end well within three minutes
RUN_TIMEOUT_S = 170

JAVA_OPENS = [
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


def source_files():
    """Every file the build reads, relative to ROOT, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames[:] = sorted(d for d in dirnames if d != "target")
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    return sorted(os.path.relpath(f, ROOT) for f in files)


def source_hash():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s", 3)
    return proc.returncode, out, err


def build():
    """Compile with sbt unless this source state was already built;
    returns the runtime classpath."""
    stamp_file = os.path.join(BUILD_DIR, "perfbench-stamp.txt")
    cp_file = os.path.join(BUILD_DIR, "perfbench-classpath.txt")
    stamp = source_hash()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true "
                        "-Dsbt.server.autostart=false -Xmx2g")
    code, out, err = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        840, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("sbt build failed")
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines) if "perfbench" in l and not l.startswith("[")), None)
    if cp is None:
        sys.stderr.write(out[-4000:])
        fail("sbt printed no classpath")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala; run from a full checkout")
    if not os.path.isfile(FIXTURE):
        fail(f"missing fixture {FIXTURE}")

    classpath = build()

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    trace_out = os.path.join(HERE, "out", f"trace-{args.workload}-seed{args.seed}.json")
    log_path = os.path.join(WORK, "jvm.log")
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK}/tmp",
            "-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(len(os.sched_getaffinity(0))), "--work", WORK, "--fixture", FIXTURE,
            "--trace-out", trace_out]
    try:
        with open(log_path, "w") as log:
            code, out, _ = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                                       stdout=subprocess.PIPE, stderr=log, text=True)
        with open(log_path) as log:
            jvm_log = log.read()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    for line in jvm_log.splitlines():
        if line.startswith(("WRONG ", "meta:", "query:", "phase ", "corpus:")):
            print(line, file=sys.stderr)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(jvm_log[-6000:])
        fail(f"the benchmark JVM exited with {code} and printed no result")
    print(json.dumps(result))
    if args.trace:
        print(f"perfbench: trace written to {os.path.relpath(trace_out, ROOT)}", file=sys.stderr)
    if code != 0 or not result["correct"] or result["failed"]:
        fail("wrong results or failed ops (see WRONG lines above)", 1)


if __name__ == "__main__":
    main()
