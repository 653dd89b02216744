#!/usr/bin/env python3
"""Deployable-job benchmark for graft: times graft.SubmitJob end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (this directory is its own sbt build); later
runs reuse the build while no source file changed. Each run then starts one
fresh JVM, which generates the seeded inputs and times graft.SubmitJob on them.

The last line of stdout is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. See README.md in this directory for what each metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("fresh_full", "resume_quarter", "violation_heavy")

# Input rows per generated table (16 hive partitions).
ROWS = 100_000
BUILD_TIMEOUT_S = 700
JVM_TIMEOUT_S = 150
HEAP = "-Xmx3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_digest():
    """Digest of every input of the build, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles the program and the benchmark; returns (classpath, jvm options)."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    opts_file = os.path.join(target, "jvmopts.txt")
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    built = (os.path.exists(cp_file) and os.path.exists(stamp)
             and open(stamp).read() == digest)
    if not built:
        log = os.path.join(WORK, "logs", "build.log")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        with open(log, "w") as out:
            try:
                code = subprocess.run(
                    ["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                    cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=out,
                    stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                code = "timeout"
        if code != 0 or not os.path.exists(cp_file):
            sys.stderr.write(tail(log))
            fail(f"build failed ({code})")
        with open(stamp, "w") as f:
            f.write(digest)
    with open(cp_file) as f:
        classpath = f.read().strip()
    with open(opts_file) as f:
        opts = [o for o in f.read().split("\n") if o and not o.startswith("-Xmx")]
    return classpath, opts


def jvm(classpath, opts, log, main_args):
    """Runs one benchmark JVM; returns the parsed RESULT object."""
    # a killed earlier run may have left its inputs and job outputs behind
    shutil.rmtree(os.path.join(WORK, "runs"), ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", HEAP, f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"]
           + opts + ["-cp", classpath, "graftbench.Main", "--rows", str(ROWS),
                     "--work", WORK] + main_args)
    with open(log, "a") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.stderr.write(tail(log))
            fail("benchmark JVM timed out")
    results = [l[len("RESULT "):] for l in stdout.splitlines() if l.startswith("RESULT ")]
    if proc.returncode != 0 or not results:
        sys.stderr.write(tail(log))
        fail(f"benchmark JVM exited with {proc.returncode}")
    return json.loads(results[-1])


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()

    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    classpath, opts = build()

    log = os.path.join(WORK, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    open(log, "w").close()
    result = jvm(classpath, opts, log, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
