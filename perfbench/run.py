#!/usr/bin/env python3
"""Build the engine and the benchmark, run one workload, print its result.

Run from the root of the repository:

    python3 perfbench/run.py --workload etl --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the engine and the benchmark with sbt
(offline) and records the classpath under .bench_build/; later runs reuse
it until a source or build file changes. Each run starts one JVM, which
writes its scratch files under .bench_build/work/ and removes them on exit.
The last line printed is the result as one JSON object; lines before it
starting with "[perfbench]" name each metric with its unit.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl", "registry_mix")
RUN_TIMEOUT_S = 170
HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file whose change calls for a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, names in os.walk(base):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".sbt", ".properties"))]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles if needed; returns (classpath, engine JVM options)."""
    os.makedirs(BUILD, exist_ok=True)
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    want = stamp()
    have = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if have != want or not os.path.exists(launch):
        sbt = shutil.which("sbt") or fail("sbt not found on PATH")
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            rc = subprocess.call([sbt, "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                 cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(launch):
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"build failed (exit {rc}); see {log}")
        with open(stamp_file, "w") as fh:
            fh.write(want)
    lines = open(launch).read().splitlines()
    return lines[0], [l for l in lines[1:] if l]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "App.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from the root of a full checkout of the engine")
    fixture = os.path.join(HERE, "data", "sf0.01")
    expected = os.path.join(HERE, "expected", "registry_fingerprints.tsv")
    java = shutil.which("java") or fail("java not found on PATH")
    classpath, engine_opts = build()

    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    result = os.path.join(work, "result.json")
    stdout_log = os.path.join(work, "stdout.log")
    stderr_log = os.path.join(BUILD, f"{a.workload}.stderr.log")
    cores = len(os.sched_getaffinity(0))
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.stream.error.file={work}/derby.log",
           *engine_opts, "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", work, "--out", result, "--cores", str(cores),
           "--fixture", fixture, "--expected", expected]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    try:
        with open(stdout_log, "w") as out, open(stderr_log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=err,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                rc = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s; see {stderr_log}")
        if rc != 0 or not os.path.exists(result):
            sys.stderr.write(open(stderr_log).read()[-4000:])
            fail(f"{a.workload} exited with {rc}; see {stderr_log}")
        for line in open(stdout_log):
            if line.startswith("[perfbench]"):
                print(line.rstrip())
        res = json.load(open(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
