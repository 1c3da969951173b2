#!/usr/bin/env python3
"""graft end-to-end benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
benchmark from source with sbt (offline) into target directories of the
checkout; later runs reuse the build while no source file has changed.
Inputs are generated from the seed into .bench_build/data and reused.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end ones; with --trace 1 they are the per-layer ones of a separate
traced run (spans land in .bench_build/trace). BENCHMARK.json at the
checkout root documents every metric and workload.
"""

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("nested_ingest", "curate_batch", "dedup_increment")
# a fixed, pre-touched heap: resident memory then moves only with what
# the program adds beyond it, not with how far the collector grew the heap
HEAP = ["-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch"]
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


_child = None


def _die_with_parent():
    # Linux: the child gets SIGKILL if this process dies first
    try:
        ctypes.CDLL(None).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except (OSError, AttributeError):
        pass


def _on_signal(signum, _frame):
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(128 + signum)


def run_proc(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout, or when this process
    is told to stop, kill the whole group and wait for it, so no process
    outlives the benchmark."""
    global _child
    _child = subprocess.Popen(cmd, start_new_session=True, preexec_fn=_die_with_parent, **kw)
    try:
        out, err = _child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.communicate()
        raise
    finally:
        code, _child = _child.returncode, None
    return code, out, err


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile graft and the benchmark unless the sources are unchanged
    since the last build; return (classpath, JVM options)."""
    stamp_file = os.path.join(BUILD, "stamp")
    launch = os.path.join(HERE, "target", "launch.txt")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    fresh = os.path.isfile(launch) and os.path.isfile(stamp_file) and \
        open(stamp_file).read() == stamp
    if not fresh:
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        code, out, _ = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                                BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
        with open(os.path.join(BUILD, "build.log"), "wb") as fh:
            fh.write(out)
        if code != 0 or not os.path.isfile(launch):
            sys.stderr.write(out.decode(errors="replace")[-4000:])
            fail("build failed (log in .bench_build/build.log)", 3)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    lines = open(launch).read().splitlines()
    # the root build's JVM options, minus its heap size: the benchmark sets its own
    return lines[0], [o for o in lines[1:] if not o.startswith("-Xmx")]


def jvm(cp, opts, args, timeout):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + opts + HEAP + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
                           "--root", ROOT, "--t0-ns", str(time.time_ns())] + args
    code, out, _ = run_proc(cmd, timeout, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=None)
    lines = out.decode(errors="replace").splitlines()
    if code != 0:
        fail(f"benchmark JVM exited with {code}", 4)
    return lines


def tagged(lines, tag):
    return [json.loads(l[len(tag) + 1:]) for l in lines if l.startswith(tag + " ")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "Graft.scala")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    # scratch space of earlier runs (Spark's block manager, JVM temp files)
    for d in ("spark-local", "tmp"):
        shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    deadline = time.monotonic() + RUN_TIMEOUT_S
    cp, opts = build()
    args = ["--workload", a.workload, "--seed", str(a.seed)]
    # two set-up samples per run: a first JVM starts a session, runs a
    # trivial job and writes any missing inputs; the measuring JVM's own
    # set-up is the second
    setups = [s["setup_s"] for s in tagged(
        jvm(cp, opts, args + ["--mode", "prepare"], max(30, deadline - time.monotonic())),
        "PERFBENCH_SETUP")]
    # inputs just written must not be flushed to disk while the next JVM measures
    os.sync()
    lines = jvm(cp, opts, args + ["--seconds", str(a.seconds), "--trace", str(a.trace)],
                max(30, deadline - time.monotonic()))
    results = tagged(lines, "PERFBENCH_RESULT")
    if not results:
        fail("benchmark JVM printed no result", 4)
    result = results[-1]
    if a.trace == 0:
        setups.append(result["metrics"]["setup_s"]["value"])
        result["metrics"]["setup_s"]["value"] = statistics.median(setups)
    for d in tagged(lines, "PERFBENCH_DETAIL"):
        d["setup_samples_s"] = setups
        print(json.dumps(d))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
