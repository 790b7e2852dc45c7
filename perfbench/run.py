#!/usr/bin/env python3
"""Run one workload of the klogs benchmark and print its result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds the library and the
benchmark with sbt (perfbench/build.sbt depends on the root build) and caches
the runtime classpath under perfbench/target, keyed by a hash of every source
file; later calls start a plain JVM on that classpath, so sbt start-up never
lands in a measurement. Each run works in its own directory under
perfbench/.runs/, removed afterwards. Build and JVM logs go to stderr; stdout
carries only the result object the JVM prints last.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("ingest_wire", "query_mix")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
JVM_OPTS = [
    "-Xmx3g", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: both build definitions and all main sources."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """The runtime classpath, building first when any source changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        log("no library sources next to the benchmark (build.sbt, src/main); nothing to build")
        sys.exit(2)
    key = stamp(source_files())
    cp_file = os.path.join(TARGET, "bench-classpath.txt")
    stamp_file = os.path.join(TARGET, "bench-stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == key:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building library and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, check=False)
    except subprocess.TimeoutExpired:
        log("build timed out")
        sys.exit(2)
    lines = out.stdout.decode(errors="replace").splitlines()
    cps = [l.strip() for l in lines if "perfbench" in l and os.pathsep in l and not l.startswith("[")]
    if out.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        log("build failed")
        sys.exit(2)
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(key)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    cp = classpath()
    work = os.path.join(HERE, ".runs", uuid.uuid4().hex)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-cp", cp,
                               "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                               "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    # a SIGTERM to this script must still stop the JVM and remove the run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(4))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log("run timed out")
        sys.exit(3)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in out.decode(errors="replace").splitlines():
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "metrics" in obj:
            result = line
    if proc.returncode != 0 or result is None:
        log("benchmark JVM exited with %d and %s result" % (proc.returncode, "a" if result else "no"))
        sys.exit(1)
    print(result, flush=True)


if __name__ == "__main__":
    main()
