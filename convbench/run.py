#!/usr/bin/env python3
"""Conversion benchmark: docs table in -> triples written and committed.

Run from the root of a checkout of the repository:

    python3 convbench/run.py --workload uniform --seed 1 --seconds 10 --trace 0

Builds the benchmark (its own sbt project in this directory, on top of the
checkout's library build) when the sources changed, then runs two JVMs: one
stages the workload's seeded input under convbench/.work when it is missing,
the other times the cold set-up and measures in local[nproc]. With
--trace 0 it prints the end-to-end metrics, with --trace 1 the per-layer
ones; the last line of standard output is the result as one JSON object.
See convbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
STAMP = os.path.join(HERE, "target", "bench-build.stamp")
WORKLOADS = ("uniform", "skewed", "cli_ttl")
# a fixed heap: the JVM does not resize it during the window, so the number of
# collections a conversion meets does not depend on how the heap grew before
HEAP = ["-Xms4g", "-Xmx4g"]
RUN_LIMIT_S = 170  # a run, build excluded, must end well within 180 s
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("convbench: " + msg, file=sys.stderr)
    sys.exit(code)


def run_proc(cmd, log, timeout, cwd=ROOT, env=None):
    """Runs cmd in its own process group with stderr to `log`; returns its
    stdout. Kills the whole group when it overruns `timeout`."""
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=err,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            fail("timed out after %.0f s: %s (log: %s)" % (timeout, " ".join(cmd[-12:]), log))
    if p.returncode != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        fail("command failed with exit code %d: %s\n%s" % (p.returncode, " ".join(cmd[-12:]), tail))
    return out


def sources_fingerprint():
    """Paths, sizes and mtimes of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(d, f) for d in (ROOT, HERE)
             for f in ("build.sbt", os.path.join("project", "build.properties"), os.path.join("src", "main"))]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(("%s %d %d\n" % (os.path.relpath(f, ROOT), st.st_size, st.st_mtime_ns)).encode())
    return h.hexdigest()


def build():
    fp = sources_fingerprint()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == fp:
        return
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"  # the toolchain comes from the local caches only
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    run_proc(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
             os.path.join(WORK, "logs", "build.log"), 850, cwd=HERE, env=env)
    with open(STAMP, "w") as f:
        f.write(fp)


def java(step, args, deadline):
    cp = open(CLASSPATH).read().strip()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + HEAP + ["-Djava.io.tmpdir=" + tmp, "-cp", cp, "graft.convbench.Main"] + args)
    return run_proc(cmd, os.path.join(WORK, "logs", step + ".log"), deadline - time.time())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    for rel in ("build.sbt", "src/main/scala/graft/operators/Pipeline.scala",
                "src/main/scala/graft/IfcToRdf.scala"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            fail("%s not found: run from the root of a checkout of the repository" % rel)
    build()

    deadline = time.time() + RUN_LIMIT_S
    shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    common = ["--workload", a.workload, "--seed", str(a.seed), "--work", WORK]
    # staging runs in a JVM of its own, so that every timed set-up starts
    # equally cold whether or not the input was staged before
    java("stage", ["--mode", "stage"] + common, deadline)
    out = java("bench", ["--mode", "trace" if a.trace else "measure", "--seconds", str(a.seconds)] + common,
               deadline)
    lines = out.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("the benchmark JVM printed no result line")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
