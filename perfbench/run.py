#!/usr/bin/env python3
"""graft benchmark: one seeded workload run, from the root of a checkout.

    python3 perfbench/run.py --workload serve|queries \
        --seed N --seconds N --trace 0|1

The first run in a checkout builds the program and the harness with sbt
and prepares the once-per-checkout inputs (serving cube, places, sf1);
later runs reuse them. Build outputs and inputs go to $CARGO_TARGET_DIR
(default .bench_build). The JVM writes a raw record; this script turns
it into metrics, checks correctness and prints the result as the last
line of stdout. See perfbench/README.md.
"""

import argparse
import fcntl
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("serve", "queries")
PREPARE_VERSION = "1"
HEAP = "4g"
RUN_TIMEOUT_S = 170
FIRST_RUN_TIMEOUT_S = 880
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
PROGRAM_SOURCES = ["build.sbt", "project/build.properties", "src/main"]
HARNESS_SOURCES = ["perfbench/build.sbt", "perfbench/project/build.properties",
                   "perfbench/src/main"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env(build_dir):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["PERFBENCH_BUILD_DIR"] = build_dir
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt_classpath(cwd, logfile, env, deadline):
    """compile, then the runtime classpath as sbt exports it"""
    with open(logfile, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=cwd, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=max(1, deadline - time.time()))
    if r.returncode != 0:
        raise BenchError(f"sbt build failed in {cwd}, see {logfile}")
    with open(logfile) as fh:
        lines = [ln.strip() for ln in fh if ".jar" in ln
                 and not ln.startswith("[")]
    if not lines:
        raise BenchError(f"no classpath in {logfile}")
    return lines[-1]


def ensure_build(build_dir, deadline):
    stamp_file = os.path.join(build_dir, "build.stamp")
    stamp = tree_hash(PROGRAM_SOURCES + HARNESS_SOURCES)
    cp_file = os.path.join(build_dir, "run.classpath")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read().strip(), False
    log("building the program and the harness (sbt)")
    env = sbt_env(build_dir)
    program_cp = sbt_classpath(".", os.path.join(build_dir, "build-program.log"),
                               env, deadline)
    with open(os.path.join(build_dir, "program.classpath"), "w") as fh:
        fh.write(program_cp)
    cp = sbt_classpath("perfbench", os.path.join(build_dir, "build-harness.log"),
                       env, deadline)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, True


def java(cp, build_dir, args, logfile, deadline):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(build_dir, 'tmp')}",
            "-cp", cp, "graft.perfbench.Main"] + args
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(build_dir, "work", "spark-local")
    with open(logfile, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"JVM timed out, see {logfile}")
    if rc != 0:
        raise BenchError(f"JVM exited with {rc}, see {logfile}")


def ensure_inputs(cp, build_dir, cpus, deadline):
    data = os.path.join(build_dir, "data")
    ready = os.path.join(data, "READY")
    version = PREPARE_VERSION + ":" + tree_hash(
        ["perfbench/src/main/scala/graft/perfbench/Prepare.scala"])
    if os.path.isfile(ready):
        with open(ready) as fh:
            if fh.read().strip() == version:
                return data, False
    log("preparing inputs (serving cube, places, sf1)")
    subprocess.run(["rm", "-rf", data], check=True)
    os.makedirs(data)
    java(cp, build_dir, ["prepare", "--data", data,
                         "--sf01", "perfbench/data/sf0.1",
                         "--work", os.path.join(build_dir, "work"),
                         "--cpus", str(cpus)],
         os.path.join(build_dir, "prepare.log"), deadline)
    with open(ready, "w") as fh:
        fh.write(version)
    return data, True


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--no-observe", action="store_true",
                    help="queries: plain noop write, no fingerprint")
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="queries: store this run's fingerprints as "
                         "the expected ones")
    args = ap.parse_args()

    started = time.time()
    for p in PROGRAM_SOURCES + HARNESS_SOURCES + ["perfbench/data/sf0.1"]:
        if not os.path.exists(p):
            raise BenchError(f"{p} is missing: run from the root of a graft checkout")
    cpus = len(os.sched_getaffinity(0))
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    for d in ("", "tmp", "work", "runs", "logs"):
        os.makedirs(os.path.join(build_dir, d), exist_ok=True)
    load_start = os.getloadavg()[0]

    with open(os.path.join(build_dir, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        deadline = started + FIRST_RUN_TIMEOUT_S
        cp, built = ensure_build(build_dir, deadline)
        data, prepared = ensure_inputs(cp, build_dir, cpus, deadline)
        if not (built or prepared):
            deadline = started + RUN_TIMEOUT_S
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        record_file = os.path.join(build_dir, "runs", name + ".record.json")
        if os.path.exists(record_file):
            os.remove(record_file)
        jargs = ["run", "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--cpus", str(cpus), "--data", data,
                 "--sf01", "perfbench/data/sf0.1",
                 "--work", os.path.join(build_dir, "work"),
                 "--out", record_file]
        if args.no_observe:
            jargs.append("--no-observe")
        java(cp, build_dir, jargs, os.path.join(build_dir, "logs", name + ".log"),
             deadline)

    with open(record_file) as fh:
        record = json.load(fh)
    if args.record_fingerprints:
        metrics.record_fingerprints(record, HERE)
    result = metrics.evaluate(record, HERE, trace=bool(args.trace))
    result["provenance"] = {
        "commit": git_commit(), "sources": tree_hash(PROGRAM_SOURCES)[:16],
        "nproc": cpus, "master": record["master"], "xmx": HEAP,
        "seed": args.seed, "seconds": args.seconds,
        "load_avg_1min": [load_start, os.getloadavg()[0]],
    }
    with open(os.path.join(build_dir, "runs", name + ".summary.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    metrics.report(result, sys.stdout)
    print(json.dumps(result["line"]), flush=True)


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(str(e))
        sys.exit(2)
