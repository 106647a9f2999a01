#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload ann-serve --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark with sbt (offline) and caches the runtime classpath under
.perfbench/, keyed by a hash of the sources; later runs start the JVM
directly. A traced run (--trace 1) first makes the untraced run of the
same workload and seed in its own JVM, to measure tracing overhead
against. The last line of stdout is the result JSON printed by
perfbench.Main; nothing is printed after it.
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
STATE = os.path.join(ROOT, ".perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
WORKLOADS = ["ann-serve", "ann-batch", "ingest-churn"]
# A fixed young generation keeps GC work, and the peak resident set, from
# depending on how far G1 happened to grow eden in a run.
HEAP = ["-Xmx3g", "-Xmn512m"]

# Spark on JDK 17 outside spark-submit needs these (as in the root build).
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


def source_hash():
    """Hash of every file the build reads from this checkout."""
    files = [os.path.join(ROOT, f) for f in ("build.sbt", "perfbench/build.sbt")]
    for proj in ("project", "perfbench/project"):
        d = os.path.join(ROOT, proj)
        files.extend(os.path.join(d, n) for n in os.listdir(d)
                     if os.path.isfile(os.path.join(d, n)))
    for tree in ("src/main", "perfbench/src/main"):
        for d, _, names in os.walk(os.path.join(ROOT, tree)):
            files.extend(os.path.join(d, n) for n in names)
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group, killing the group on timeout.
    Returns (exit code, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} exceeded {timeout} s")
    try:  # leftovers of the group (a forked compiler server, say)
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    return p.returncode, out


def classpath(digest):
    """Build once per source state; return the runtime classpath.

    sbt writes classes into target/ directories that any later build of
    another source state overwrites, so the cache keeps its own copy of
    every classpath entry that lives in the checkout, under
    .perfbench/build-<digest>/. Entries outside it (the Scala library,
    the Spark jars) are immutable and stay where they are.
    """
    build_dir = os.path.join(STATE, f"build-{digest}")
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        + ([f"-Dsbt.repository.config={repos}"] if os.path.exists(repos) else [])))
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as fh:
        code, out = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
            stderr=fh, stdin=subprocess.DEVNULL, text=True)
        fh.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "[" in lines[-1]:
        fail(f"build failed (exit {code}); see {log}")
    tmp = build_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = []
    for i, entry in enumerate(lines[-1].split(os.pathsep)):
        inside = os.path.commonpath([ROOT, os.path.abspath(entry)]) == ROOT
        if not inside or not os.path.exists(entry):
            cp.append(entry)
            continue
        name = f"{i:03d}-{os.path.basename(entry.rstrip(os.sep))}"
        if os.path.isdir(entry):
            shutil.copytree(entry, os.path.join(tmp, name))
        else:
            shutil.copy2(entry, os.path.join(tmp, name))
        cp.append(os.path.join(build_dir, name))
    with open(os.path.join(tmp, "classpath.txt"), "w") as fh:
        fh.write(os.pathsep.join(cp))
    shutil.rmtree(build_dir, ignore_errors=True)
    os.rename(tmp, build_dir)
    return os.pathsep.join(cp)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           capture_output=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def run_main(cp, digest, a, trace, extra, timeout):
    """One perfbench.Main JVM; returns its stdout."""
    cmd = (["java"] + HEAP
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(STATE, 'tmp')}",
              f"-Dperfbench.work={os.path.join(STATE, 'work')}",
              f"-Dperfbench.commit={git_commit()}",
              f"-Dperfbench.source_hash={digest}"]
           + extra
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", trace])
    # Spark's scratch space stays inside the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(STATE, "spark-local"))
    code, out = run_group(cmd, timeout, cwd=ROOT, env=env,
                          stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                          text=True)
    if code != 0:
        sys.stdout.write(out)
        fail(f"workload {a.workload} (trace {trace}) exited with {code}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    for need in ("build.sbt", "src/main/scala", "project",
                 "perfbench/build.sbt", "perfbench/project"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the repository root: {need} is missing")
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)
    digest = source_hash()
    cp = classpath(digest)
    deadline = time.monotonic() + RUN_TIMEOUT_S
    extra = []
    if a.trace == "1":
        # Tracing overhead is the traced latency against this untraced
        # run of the same workload and seed, made first in its own JVM.
        out = run_main(cp, digest, a, "0", [], RUN_TIMEOUT_S // 2)
        untraced = json.loads(out.strip().splitlines()[-1])
        p50 = untraced["metrics"]["search_p50_ms"]["value"]
        print(f'{{"untraced_run":{json.dumps(untraced)}}}')
        extra = [f"-Dperfbench.untraced_search_p50_ms={p50!r}"]
    out = run_main(cp, digest, a, a.trace, extra,
                   max(1, int(deadline - time.monotonic())))
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
