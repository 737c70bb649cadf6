#!/usr/bin/env python3
"""Run one benchmark workload and print its JSON result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the harness
together with the repository's sources (sbt, into .bench_build/); later
runs reuse the build while no source file has changed, and start the JVM
directly. Inputs are generated under .bench_build/work/ and deleted when
the run ends.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "stamp.txt")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"
# A young generation small enough that every pass collects many times
# (about 24 times an infer_local pass, 80 a spark_pipeline pass), so
# live_heap_mb, the largest heap left after a collection during a pass,
# samples what the program holds all through the pass. Under default
# sizing the young generation may take most of the 2 GB heap, and a pass
# then collects a few times or not at all.
YOUNG = "64m"
WORKLOADS = ("spark_pipeline", "infer_local")

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile unless the last build is of the same sources."""
    stamp = source_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    log("building the harness and the repository's sources with sbt")
    os.makedirs(BUILD, exist_ok=True)
    for f in (CLASSPATH, STAMP):
        if os.path.exists(f):
            os.remove(f)
    t = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        log("build failed")
        sys.exit(3)
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    log(f"built in {time.time() - t:.1f} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isdir(os.path.join(REPO, "src", "main", "scala"))
            and os.path.isfile(os.path.join(REPO, "build.sbt"))):
        log("no repository sources next to the benchmark; nothing to measure")
        sys.exit(2)
    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    work = os.path.join(BUILD, "work", f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        run(a, cp, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, cp, work, tmp):
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Xmn{YOUNG}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--traces", os.path.join(BUILD, "traces")]
    t0 = time.time_ns()
    proc = subprocess.Popen(cmd + ["--t0", str(t0)], cwd=REPO,
                            stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.terminate()
        try:
            proc.wait(timeout=5)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        sys.exit(4)
    lines = out.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if l not in result:
            print(l, file=sys.stderr)
    if proc.returncode != 0 or not result:
        log(f"run failed with exit code {proc.returncode}")
        sys.exit(proc.returncode or 5)
    print(result[-1], flush=True)


if __name__ == "__main__":
    main()
