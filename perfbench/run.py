#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Builds the benchmark (the engine's sources plus perfbench/src, with sbt)
when the sources differ from the last build, starts one JVM that runs the
workload and checks its outputs, and prints
{"correct", "attempted", "failed", "metrics"} as the last stdout line.
Exits non-zero without a result when the engine's sources are missing or
the run does not finish.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "perfbench.classpath")
WORKLOADS = ("resolve_blueprint", "medallion_cdc")
HEAP = "2g"
RUN_LIMIT_S = 175  # a run (after any build) must end within 180 s
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


def source_hash():
    h = hashlib.sha256()
    inputs = [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            inputs += [os.path.join(d, f) for f in files]
    for p in sorted(inputs):
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath():
    """The runtime classpath, building first when the sources changed."""
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = proc.stdout.splitlines()
    cps = [l.strip() for l in lines
           if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 1)
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(digest + "\n" + cps[-1])
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
             "run from the root of a checkout")

    cp = classpath()
    started = time.monotonic()
    work = os.path.join(BENCH, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out = os.path.join(BENCH, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out, exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    # -UsePerfData: the JVM would otherwise write its counters file to /tmp
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"] +
           [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", work, "--out", out])
    try:
        with open(log_path, "w") as log:
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                  timeout=RUN_LIMIT_S - (time.monotonic() - started))
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        if result is None:
            with open(log_path) as f:
                tail = [l for l in f.readlines()[-200:] if not l.startswith("\tat ")]
                sys.stderr.write("".join(tail[-40:]))
            fail(f"workload JVM exited {proc.returncode} without a result", 1)
        if not result["correct"]:
            with open(log_path) as f:
                sys.stderr.writelines(l for l in f if "CHECK FAILED" in l)
    except subprocess.TimeoutExpired:
        fail("run did not finish in time", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
