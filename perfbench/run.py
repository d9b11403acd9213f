#!/usr/bin/env python3
"""Run one benchmark workload against the engine sources of this checkout.

    python3 perfbench/run.py --workload search|churn --seed N \
        --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds the engine and
the benchmark from source with sbt (perfbench/build.sbt depends on the
repository's own build) and caches the runtime classpath under
.bench_build/; later runs reuse it while the sources are unchanged. The
workload runs in one JVM on local[nproc]. Its report lines are printed
first; the last line of stdout is the JSON result. A full artifact
(environment, samples, checks, spans) goes to .bench_build/artifacts/.
Everything the run writes stays under .bench_build/ and is removed
except the build cache, the artifacts and the logs.
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

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("search", "churn")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark 4 on JDK 17 needs these outside spark-submit (the same list as
# the engine's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a source change rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH_DIR, "build.sbt"),
              os.path.join(BENCH_DIR, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_group(cmd, cwd, stdout, stderr, timeout):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it to end. Returns (exit code, timed out)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout), False
    except subprocess.TimeoutExpired:
        return None, True
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def classpath():
    stamp = source_stamp()
    cp_file = os.path.join(OUT, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    log = os.path.join(OUT, "logs", "build.log")
    with open(log, "w") as out:
        code, timed_out = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BENCH_DIR, out, subprocess.STDOUT, BUILD_TIMEOUT_S)
    if timed_out or code != 0:
        fail(f"build failed (see {log})")
    with open(log) as f:
        lines = [l.strip() for l in f if os.sep + "perfbench" + os.sep in l
                 and ":" in l and not l.startswith("[")]
    if not lines:
        fail(f"build printed no classpath (see {log})")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("no engine sources here: run from the root of a checkout")

    cp = classpath()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    artifact = os.path.join(OUT, "artifacts", f"{tag}.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--artifact", artifact]
    out_path = os.path.join(work, "stdout.txt")
    log = os.path.join(OUT, "logs", f"{tag}.log")
    t0 = time.time()
    try:
        with open(out_path, "w") as out, open(log, "w") as err:
            code, timed_out = run_group(cmd, ROOT, out, err, RUN_TIMEOUT_S)
        with open(out_path) as f:
            lines = f.read().splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if timed_out:
        fail(f"{tag} did not finish within {RUN_TIMEOUT_S} s (see {log})")
    if code != 0 or not lines:
        fail(f"{tag} exited with {code} (see {log})")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"{tag} printed no result line (see {log})")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{tag} printed a malformed result line")
    for line in lines[:-1]:
        print(line)
    print(f"  wall {time.time() - t0:.1f} s, artifact {os.path.relpath(artifact, ROOT)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
