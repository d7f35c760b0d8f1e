#!/usr/bin/env python3
"""Run one benchmark workload for one seed and print its metrics.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with the Scala compiler that
ships in the Spark distribution (once per source tree, into .bench_build/),
generates the seeded inputs (cached per workload
and seed under .bench_build/perfbench/fixtures/), runs the workload in one
JVM at local[4], and prints every metric as `metric <name> <value> <unit>`,
the run record, and last one JSON line:

    {"correct": true, "attempted": 7, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end_to_end metrics of BENCHMARK.json,
with --trace 1 its per_layer metrics. The exit code is 0 only when a result
was printed.
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

HOME = "perfbench"
BUILD = ".bench_build"
WORK = os.path.join(BUILD, "perfbench")
CLASSES = os.path.join(WORK, "classes")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = []
    for root in ("src/main/scala", os.path.join(HOME, "src")):
        for dirpath, _, names in os.walk(root):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


CHILDREN = []


def kill_children(signum=None, _frame=None):
    """Kill every child process group and wait for it; on a signal, exit."""
    for proc in CHILDREN:
        if proc.poll() is None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    if signum is not None:
        fail(f"stopped by signal {signum}", 6)


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout and wait."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    CHILDREN.append(proc)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill_children()
        fail(f"{cmd[0]} did not finish within {timeout} s", 5)
    return proc.returncode, out, err


def build(digest, jars):
    """Compile the program and the benchmark with scalac from the Spark jars.

    Needs no build tool, dependency resolution or network, and writes only
    under .bench_build/ (perfbench/build.sbt builds the same classes with sbt).
    """
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(stamp) and os.path.isdir(CLASSES):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return
    if not any(n.startswith("scala-compiler-") for n in os.listdir(jars)):
        fail(f"no scala-compiler jar in {jars}")
    t0 = time.time()
    if os.path.exists(stamp):
        os.remove(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    code, out, _ = run_bounded(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
         "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", CLASSES] + source_files(),
        BUILD_TIMEOUT_S, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("build failed", 3)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    print(f"build {time.time() - t0:.1f} s")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars in {jars}")
    return os.path.abspath(jars)


def git_sha():
    if not os.path.isdir(".git"):
        return ""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    args = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, kill_children)

    if not os.path.isfile("BENCHMARK.json") or not os.path.isdir("src/main/scala"):
        fail("run from the repository root: BENCHMARK.json or the program sources are missing")
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    wanted = spec["per_layer" if args.trace == "1" else "end_to_end"]

    digest = source_digest()
    jars = spark_jars()
    build(digest, jars)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HOME, 'log4j2.properties')}",
            "-cp", os.pathsep.join([CLASSES, os.path.join(jars, "*")]),
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--home", HOME, "--work", WORK,
            "--git-sha", git_sha(), "--source-sha", digest])
    code, out, _ = run_bounded(cmd, JVM_TIMEOUT_S, stdout=subprocess.PIPE, text=True)
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if code != 0 or result is None:
        fail(f"benchmark JVM exited with {code} and no result", 4)
    missing = [m["name"] for m in wanted if m["name"] not in result["metrics"]]
    if missing:
        fail(f"run did not measure {', '.join(missing)}", 4)
    for m in wanted:
        got = result["metrics"][m["name"]]
        if got["unit"] != m["unit"]:
            fail(f"unit of {m['name']} is {got['unit']}, BENCHMARK.json says {m['unit']}", 4)
        if not isinstance(got["value"], (int, float)):
            fail(f"{m['name']} has no numeric value", 4)
    sys.stdout.flush()
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: result["metrics"][m["name"]] for m in wanted},
    }))


if __name__ == "__main__":
    main()
