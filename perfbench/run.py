#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload {ingest,query_mix} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The first run builds graft from the
checkout's sources together with the benchmark (sbt, offline) and caches the
classpath; later runs start the benchmark JVM directly. The last line of
standard output is the result object. Everything the benchmark writes stays
under perfbench/.work and perfbench/target.

    python3 perfbench/run.py --record   re-records perfbench/fingerprints.tsv
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

RUN_LIMIT_S = 170           # every run must end within 180 s
BUILD_LIMIT_S = 840         # the first run of a checkout may take 900 s
HEAP = "2g"
YOUNG = "512m"

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
FINGERPRINTS = os.path.join(BENCH, "fingerprints.tsv")
WORKLOADS = ("ingest", "query_mix")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    inputs = [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for top in (PROGRAM_SRC, os.path.join(BENCH, "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, limit, **kw):
    """Runs cmd in its own process group; kills the group after `limit` s."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=max(1.0, limit))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out, err


def classpath():
    """Builds if any build input changed; returns the runtime classpath."""
    stamp_file = os.path.join(BENCH, "target", "perfbench.stamp")
    cp_file = os.path.join(BENCH, "target", "perfbench.classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building graft and the benchmark (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.monotonic()
    code, out, err = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "-Dsbt.server.forcestart=false", "compile", "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed with exit code {code}", 1)
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if not lines or "classes" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail("build printed no classpath", 1)
    cp = lines[-1]
    log(f"built in {time.monotonic() - t0:.1f} s")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, run_dir, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # A fixed heap and young generation keep the peak resident set from
    # depending on the collector's sizing decisions.
    return [java, *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-cp", cp, "graft.perfbench.Main", "--work", run_dir, "--cache", WORK, *args]


def jvm(cp, run_dir, args, limit, log_name):
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    with open(os.path.join(WORK, "logs", log_name), "w") as errf:
        code, out, _ = run_bounded(java_cmd(cp, run_dir, args), limit, cwd=run_dir,
                                   env=env, stdout=subprocess.PIPE, stderr=errf,
                                   stdin=subprocess.DEVNULL, text=True)
    with open(os.path.join(WORK, "logs", log_name)) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    if code != 0:
        fail(f"benchmark JVM exited with code {code} (log: perfbench/.work/logs/{log_name})", 1)
    return out


def last_json(out, key):
    for line in reversed(out.splitlines()):
        line = line.strip()
        if line.startswith("{") and key in line:
            return json.loads(line)
    fail(f"benchmark JVM printed no {key} line", 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not a.record and (a.workload is None or a.seed is None or a.seconds is None):
        fail("--workload, --seed and --seconds are required")
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"no graft sources at {os.path.relpath(PROGRAM_SRC, ROOT)}: "
             "run from the root of a full checkout")
    if shutil.which("sbt") is None and not os.path.exists(
            os.path.join(BENCH, "target", "perfbench.classpath")):
        fail("sbt is not on PATH")

    cp = classpath()
    start = time.monotonic()  # a build may take the first run past 180 s
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if a.record:
            jvm(cp, run_dir, ["--mode", "record", "--fingerprints", FINGERPRINTS],
                RUN_LIMIT_S * 3, "record.log")
            log(f"wrote {os.path.relpath(FINGERPRINTS, ROOT)}")
            return
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        limit = RUN_LIMIT_S - (time.monotonic() - start)
        out = jvm(cp, run_dir,
                  ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                   "--fingerprints", FINGERPRINTS,
                   "--spans", os.path.join(WORK, "spans", f"{tag}.jsonl")],
                  limit, f"{tag}.log")
        result = last_json(out, "perfbench")["perfbench"]
        if a.trace == 1:
            log(f"spans written to perfbench/.work/spans/{tag}.jsonl")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    try:
        main()
    except subprocess.TimeoutExpired:
        fail("benchmark exceeded its time limit", 1)
