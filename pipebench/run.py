#!/usr/bin/env python3
"""Pipeline benchmark entry point.

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness from
source with sbt (once per source state; the classpath is cached under
pipebench/target), then runs the harness in one JVM and relays its output.
The last line of standard output is the JSON result record.

Exits non-zero without a result when the checkout holds no engine sources.
"""

import argparse
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSPATH_FILE = os.path.join(HERE, "target", "classpath.txt")
WORKLOADS = ("web_clean", "near_dedup", "semantic_dedup", "stream_dedup")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Inputs of the build: the engine's sources and build, and the harness's.
BUILD_INPUTS = [
    os.path.join(ROOT, "build.sbt"),
    os.path.join(ROOT, "project", "build.properties"),
    os.path.join(ROOT, "src", "main"),
    os.path.join(HERE, "build.sbt"),
    os.path.join(HERE, "project", "build.properties"),
    os.path.join(HERE, "src", "main"),
]


def fail(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        paths = [top]
        if os.path.isdir(top):
            paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, stdout, stderr, env=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr, env=env,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def classpath():
    """Build with sbt if the sources changed since the cached classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            cached_stamp, _, cp = f.read().partition("\n")
        if cached_stamp == stamp and cp.strip():
            return cp.strip()
    os.makedirs(WORK, exist_ok=True)
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as log:
        code = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            HERE, BUILD_TIMEOUT_S, log, subprocess.STDOUT)
    with open(log_path) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); log in {log_path}")
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(stamp + "\n" + cps[-1])
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("no engine sources next to the benchmark (expected build.sbt and src/main/scala/graft)")

    cp = classpath()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g",
        "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "-Dspark.ui.enabled=false",
        "-cp", cp, "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--work", WORK,
    ]
    log_path = os.path.join(WORK, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    out_path = log_path[:-4] + ".out"
    with open(out_path, "w") as out, open(log_path, "w") as err:
        code = run_bounded(cmd, ROOT, RUN_TIMEOUT_S, out, err)
    with open(out_path) as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    if code != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with {code}; log in {log_path}")
    for line in lines:
        print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
