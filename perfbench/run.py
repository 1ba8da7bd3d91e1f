#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload dedup_batch --seed 1 --seconds 8 --trace 0

Builds the engine together with the benchmark harness from source on first
use (sbt, offline) and records a class-data-sharing archive from a tiny
training run, so each run's JVM starts without re-parsing Spark's classes.
Then it runs the harness JVM once:

  * cores come from the CPU affinity mask (what `nproc` prints);
  * the heap follows the SPARK_DRIVER_MEM rule of the repository's test
    command: MemTotal / 2 GiB, clamped to 2..8 GiB;
  * Spark's local dir, the parquet inputs and the streaming state live in
    perfbench/.scratch, which is emptied before and after every run.

The harness prints every metric by name and unit; the last stdout line is
one JSON result object. Any failure exits nonzero; a run that cannot start
(no engine sources, no build) exits nonzero without printing a result.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
CLASSPATH = os.path.join(BENCH, "target", "perfbench-classpath.txt")
ARCHIVE = os.path.join(BENCH, "target", "perfbench-classes.jsa")
SCRATCH = os.path.join(BENCH, ".scratch")
TRACES = os.path.join(BENCH, "traces")
WORKLOADS = ("dedup_batch", "find_lookup", "stream_ingest")
BUILD_TIMEOUT_S = 600
TRAIN_TIMEOUT_S = 240
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def driver_mem():
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "2g"
    return f"{min(8, max(2, kb // 2097152))}g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def newest_source_mtime():
    newest = os.path.getmtime(os.path.join(BENCH, "build.sbt"))
    for top in (ENGINE_SRC, os.path.join(BENCH, "src", "main")):
        for d, _, files in os.walk(top):
            for name in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, name)))
    return newest


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group. The whole group is killed, and
    waited for, on timeout or when this script is told to stop."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(SCRATCH, ignore_errors=True)
        sys.exit(128 + signum)

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
    return p.returncode, out


def jvm(classpath, *flags):
    """The harness JVM command line up to the main class."""
    mem = driver_mem()
    return (["java", f"-Xmx{mem}", "-XX:+UseParallelGC",
             # JVM warnings go to stderr: stdout ends with the result line
             "-Xlog:disable", "-Xlog:all=warning:stderr",
             f"-Djava.io.tmpdir={os.path.join(SCRATCH, 'tmp')}", "-Dspark.ui.enabled=false"]
            + list(flags)
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath])


def fresh_scratch():
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(os.path.join(SCRATCH, "tmp"))


def build():
    """Compile and package the engine plus harness when any source is newer
    than the last build, record the runtime classpath, then record the
    class-data-sharing archive from a training run."""
    if (os.path.exists(CLASSPATH) and os.path.exists(ARCHIVE)
            and os.path.getmtime(CLASSPATH) >= newest_source_mtime()):
        return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    for stale in (CLASSPATH, ARCHIVE):
        if os.path.exists(stale):
            os.remove(stale)
    code, _ = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (exit {code})")
    with open(CLASSPATH) as f:
        classpath = f.read().strip()
    fresh_scratch()
    try:
        code, _ = run_group(
            jvm(classpath, f"-XX:ArchiveClassesAtExit={ARCHIVE}")
            + ["graft.perfbench.Train", str(cores()), SCRATCH],
            TRAIN_TIMEOUT_S, cwd=ROOT, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    if code != 0 or not os.path.exists(ARCHIVE):
        fail(f"class-data-sharing training run failed (exit {code})")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}")
    if shutil.which("java") is None:
        fail("java is not on PATH")
    build()
    with open(CLASSPATH) as f:
        classpath = f.read().strip()

    fresh_scratch()
    trace_out = os.path.join(TRACES, f"{args.workload}-seed{args.seed}.json")
    cmd = jvm(classpath, f"-XX:SharedArchiveFile={ARCHIVE}") + [
        "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--cores", str(cores()), "--scratch", SCRATCH, "--trace-out", trace_out]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                              stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
