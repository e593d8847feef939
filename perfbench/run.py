#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds graft's main sources together with the
harness in perfbench/src (sbt, offline) the first time, or whenever a source
changed, then runs one workload in one JVM at local[nproc]. The harness
prints provenance and check lines, and as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. Build output, the
run's temp root and traces live under .bench_build/perfbench/; the temp
root is deleted when the run ends.
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

WORKLOADS = ("build_sync", "query_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


_children = []  # (process, temp dir or None) this runner started


def _stop_children():
    """Kill every process this runner started, wait for it, drop its temp
    dir."""
    for proc, tmp in _children:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        if tmp:
            shutil.rmtree(tmp, ignore_errors=True)


def _on_signal(signum, _frame):
    _stop_children()
    sys.exit(128 + signum)


def fail(msg, code=2):
    _stop_children()
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def start(cmd, tmp=None, **kw):
    """Start `cmd` in its own process group, registered for cleanup."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append((proc, tmp))
    return proc


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if the sources changed; return the runtime classpath."""
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "stamp.txt")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g"])
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        proc = start(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"],
                     cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out, see {log}", 4)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed, see {log}", 4)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(want)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not here; "
             "run from the root of a graft checkout")
    cp = build()

    tmp = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--bench-dir", BENCH, "--tmp", tmp]
    if a.trace == "1":
        cmd += ["--trace-out", os.path.join(
            OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    proc = start(cmd, tmp, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    t0 = time.time()
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    _stop_children()

    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    for l in lines[:-1] if result is not None else lines:
        print(l)
    print(f"perfbench: {a.workload} seed {a.seed} ran {time.time() - t0:.1f} s",
          file=sys.stderr)
    if proc.returncode != 0 or not isinstance(result, dict) or \
            set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"harness exited with {proc.returncode} and no result", 5)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
