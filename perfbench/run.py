#!/usr/bin/env python3
"""Build the program from source and run one benchmark workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload append|serve --seed N --seconds S --trace 0|1

The first run in a checkout compiles the program's sources (src/main/scala)
together with the harness in perfbench/src with sbt; later runs reuse the
classes while the sources are unchanged. Every build output and run file
stays under .bench_build/ in the checkout. The last line on stdout is the
JSON result; the run's host context (and, with --trace 1, its spans) is
written to .bench_build/results/.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "source.sha256")
RESULTS = os.path.join(BUILD, "results")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """sha256 over every source and build file the classes depend on."""
    h = hashlib.sha256()
    roots = [SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout and wait."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} exceeded {timeout} s and was stopped")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def build(digest):
    if not os.path.isdir(SRC):
        fail(f"no program sources at {os.path.relpath(SRC, ROOT)}; run from the root of a checkout")
    if not shutil.which("sbt"):
        fail("sbt is not on PATH")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set (the build compiles against $SPARK_HOME/jars)")
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
           "-Dsbt.server.forcestart=false", "-J-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    print("[perfbench] building the program from source (sbt compile)", file=sys.stderr)
    t0 = time.time()
    code, out = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    lines = out.splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code})")
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(digest)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)


def ensure_built():
    digest = source_hash()
    current = None
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as fh:
            current = fh.read().strip()
    if current != digest:
        build(digest)
    return digest


def commit_hash():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["append", "serve"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(BENCH, "build.sbt")):
        fail("run from the root of a checkout (perfbench/build.sbt not found)")

    digest = ensure_built()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    with open("/proc/loadavg") as fh:
        load = fh.read().strip()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(RESULTS, exist_ok=True)
    cmd = ["java"]
    for p in JVM_ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    env = dict(os.environ, PERFBENCH_LOADAVG=load, PERFBENCH_COMMIT=commit_hash(),
               PERFBENCH_SOURCE_SHA256=digest)
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True)
        lines = [l for l in out.splitlines() if l.strip()]
        if code != 0 or not lines:
            fail(f"benchmark process exited with {code}")
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            fail(f"malformed result line: {lines[-1]}")
        for name in ("context.json", "spans.json"):
            src = os.path.join(work, name)
            if os.path.isfile(src):
                shutil.copyfile(src, os.path.join(RESULTS, f"{tag}.{name}"))
        if not result["correct"]:
            print(f"[perfbench] CORRECTNESS FAILURE: {result['failed']} of "
                  f"{result['attempted']} checks failed", file=sys.stderr)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
