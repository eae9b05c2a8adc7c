#!/usr/bin/env python3
"""Serving benchmark launcher.

Run from the root of a checkout:

    python3 servebench/run.py --workload dash_light --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark from source with sbt (once per
source state), runs one workload in a fresh JVM with the launch settings
pinned below, prints the report, and prints the result object as the
last line of standard output. `--trace 1` makes the traced run instead
and also writes the span tree and per-layer table to
`.bench_build/servebench/trace-<workload>-<seed>.json`.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "servebench")
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")

WORKLOADS = ("dash_light", "ingest_mix")

# Launch settings, pinned. graft.Serve builds its session as local[N] with
# N cores, N shuffle partitions, adaptive execution on and a UTC session
# time zone (Setup.session repeats these); its sbt launcher passes the JVM
# flags below, with an 8 GB heap by default.
HEAP = "8g"
JVM_FLAGS = [
    f"-Xmx{HEAP}",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [
    arg
    for pkg in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar",
    )
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")
]

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"servebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [PROGRAM_SOURCES, os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(d, "build.sbt") for d in (ROOT, HERE)] + \
        [os.path.join(d, "project", "build.properties") for d in (ROOT, HERE)]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


_children = []


def _stop_children(signum, _frame):
    """Kill every child process group and wait for it before exiting."""
    for p in _children:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    (or when this launcher is told to stop) and wait until it has ended."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    finally:
        _children.remove(p)
    return p.returncode, out, err


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = os.path.join(BUILD, "classpath.txt")
    want = digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            have, cp = f.read().split("\n", 1)
        if have == want:
            return cp.strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out, _ = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    # `export` prints the classpath as the last absolute path list
    cp = [l for l in out.splitlines() if l.startswith("/") and "classes" in l][-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(want + "\n" + cp)
    return cp


def main():
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(PROGRAM_SOURCES, "graft")):
        fail(f"no program sources at {os.path.relpath(PROGRAM_SOURCES, ROOT)}; "
             "run from the root of a full checkout")
    if shutil.which("java") is None:
        fail("java is not on PATH")

    cp = build()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    trace_out = os.path.join(BUILD, f"trace-{a.workload}-{a.seed}.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    print(f"launch: local[{cpus}], {cpus} shuffle partitions, AQE on, UTC, heap {HEAP}; "
          f"workload {a.workload}, seed {a.seed}, {a.seconds} s, trace {a.trace}", flush=True)
    try:
        code, _, _ = run_bounded(
            ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={work}", "-cp", cp, "servebench.Main",
             "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", a.trace, "--cpus", str(cpus), "--workdir", work, "--out", out,
             "--trace-out", trace_out],
            RUN_TIMEOUT_S, cwd=ROOT, env=env)
        if code != 0 or not os.path.exists(out):
            fail(f"benchmark JVM exited with {code}")
        with open(out) as f:
            line = f.read().strip()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(line, flush=True)


if __name__ == "__main__":
    main()
