#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: wsi_roundtrip, corpus_flagship, crawl_frontier, artifact_cycle.

The first run in a checkout builds the engine and the harness with sbt
(perfbench/build.sbt compiles the checkout's own sources); later runs
reuse the build while the sources are unchanged. The run itself is one
JVM on local[<cpus>]. Everything it writes stays under .bench_build/ in
the checkout. The last line of standard output is the JSON result.

    python3 perfbench/run.py --make-golden   # rewrite perfbench/golden.json
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(STATE, "classpath.txt")
STAMP = os.path.join(STATE, "build.stamp")
RUN_TIMEOUT_S = 170
GOLDEN_TIMEOUT_S = 1500
BUILD_TIMEOUT_S = 700
WORKLOADS = ("wsi_roundtrip", "corpus_flagship", "crawl_frontier", "artifact_cycle")

# What SparkSession needs opened on JDK 17 when it is not started by
# spark-submit (the list in the root build.sbt).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build: the engine and the harness."""
    h = hashlib.sha1()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha1(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(digest):
    """Compile with sbt and record the runtime classpath."""
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    os.makedirs(STATE, exist_ok=True)
    log = os.path.join(STATE, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
                                stderr=out, text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(f"build timed out; see {log}")
        out.write(stdout)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (exit {proc.returncode}); see {log}")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP, "w") as f:
        f.write(digest)


def stop(proc):
    """Kill the process group and wait until the process has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def commit_id(digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "source-" + digest[:12]


def java_cmd(work, main_args):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # A fixed heap, and a metaspace threshold high enough that the
    # classes Spark generates never trigger a full GC mid-pass: such a
    # GC also sets off the cleanup of every earlier pass's shuffles.
    return (["java"] + opens +
            ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:MetaspaceSize=1g",
             f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
             f"-Dderby.stream.error.file={work}/derby.log",
             "-cp", cp, "perfbench.Main"] + main_args)


def run_jvm(work, main_args, timeout=RUN_TIMEOUT_S):
    """Run the harness JVM; returns its stdout lines."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    errlog = os.path.join(STATE, "jvm.log")
    with open(errlog, "w") as err:
        proc = subprocess.Popen(java_cmd(work, main_args), cwd=work, env=env,
                                stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(f"run exceeded {timeout} s; see {errlog}")
        stop(proc)  # reaps anything the JVM left in its process group
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stdout.write(stdout)
        fail(f"harness exited with {proc.returncode}; see {errlog}")
    return stdout.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-golden", action="store_true")
    args = ap.parse_args()
    if not args.make_golden and not args.workload:
        ap.error("--workload is required")

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a full checkout of the engine")

    t0 = time.time()
    digest = source_digest()
    build(digest)
    build_s = time.time() - t0
    work = os.path.join(STATE, f"run-{os.getpid()}")
    fixtures = os.path.join(BENCH, "fixtures")
    golden = os.path.join(BENCH, "golden.json")
    if args.make_golden:
        lines = run_jvm(work, ["--make-golden", golden, "--fixtures", fixtures, "--work", work],
                        timeout=GOLDEN_TIMEOUT_S)
        print("\n".join(lines))
        return
    lines = run_jvm(work, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--fixtures", fixtures, "--golden", golden, "--work", work,
        "--results", os.path.join(STATE, "results"), "--commit", commit_id(digest)])
    if not lines or not lines[-1].startswith("{"):
        print("\n".join(lines))
        fail("harness printed no result line")
    print(f"build_check_s={build_s:.3f}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
