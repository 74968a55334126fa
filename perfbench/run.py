#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ann_serve|curate_sync \\
        --seed N --seconds S --trace 0|1 [--small]
    python3 perfbench/run.py --selftest

Run from the repository root. The first run in a checkout compiles the
library sources under src/main/scala together with the benchmark code
(sbt, offline) into .bench_build/; later runs reuse that build while the
sources are unchanged. Each run starts one JVM, prints the JVM's log on
stderr and ends its stdout with one JSON result line. Run artifacts
(summary.json, and spans.jsonl for traced runs) are kept under
.bench_build/artifacts/.

--selftest runs both workloads at small size, traced, and checks that
every output check passed and that the printed metrics match the names in
BENCHMARK.json.
"""

import argparse
import fcntl
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
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SOURCES = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("ann_serve", "curate_sync")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


_child = None


def _stop_child(signum, _frame):
    """Stops the running child's whole process group, then exits."""
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(128 + signum)


def run_child(cmd, cwd, env, timeout, what):
    """Runs `cmd` in its own process group, capturing stdout, and kills the
    whole group when it overruns `timeout` or this process is stopped."""
    global _child
    _child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                              stderr=sys.stderr, text=True,
                              start_new_session=True)
    try:
        out, _ = _child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
        die(f"{what} exceeded {timeout} s", 3)
    finally:
        code = _child.returncode
        _child = None
    return code, out


def source_files():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d, _, names in os.walk(os.path.join(HERE, "src")):
        files += [os.path.join(d, n) for n in names]
    for d, _, names in os.walk(LIB_SOURCES):
        files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compiles once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(LIB_SOURCES, "graft")):
        die("library sources src/main/scala/graft not found: run from a "
            "checkout of the repository")
    spark_home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(spark_home, "jars")):
        die("SPARK_HOME must name a Spark installation with a jars/ directory")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, f"classpath-{h.hexdigest()[:16]}.txt")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp):
            with open(stamp) as fh:
                return fh.read().strip()
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
               "export Runtime/fullClasspath"]
        print("perfbench: building (first run in this checkout)",
              file=sys.stderr)
        code, out = run_child(cmd, HERE, env, BUILD_TIMEOUT_S, "build")
        lines = [l.strip() for l in out.splitlines() if l.strip()]
        sys.stderr.write(out)
        cp = next((l for l in reversed(lines)
                   if ".jar" in l and not l.startswith("[")), None)
        if code != 0 or cp is None:
            die(f"build failed (sbt exit {code})")
        with open(stamp, "w") as fh:
            fh.write(cp)
        return cp


def run_jvm(cp, args, workdir):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dderby.system.home={os.path.join(workdir, 'derby')}",
           f"-Dderby.stream.error.file={os.path.join(workdir, 'derby.log')}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args + ["--workdir", workdir]
    return run_child(cmd, workdir, None, RUN_TIMEOUT_S, "run")


def result_line(out):
    for line in reversed(out.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                r = json.loads(line)
            except ValueError:
                continue
            if set(r) == {"correct", "attempted", "failed", "metrics"}:
                return line, r
    return None, None


def run_once(workload, seed, seconds, trace, small):
    cp = build()
    tag = f"{workload}-seed{seed}-trace{trace}{'-small' if small else ''}"
    workdir = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    args = ["--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace)]
    if small:
        args.append("--small")
    try:
        code, out = run_jvm(cp, args, workdir)
        sys.stderr.write("".join(l + "\n" for l in out.splitlines()[:-1]))
        line, r = result_line(out)
        art = os.path.join(workdir, "artifact")
        if os.path.isdir(art):
            dest = os.path.join(BUILD, "artifacts", tag)
            shutil.rmtree(dest, ignore_errors=True)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            shutil.move(art, dest)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    if code != 0 or line is None:
        die(f"run failed (jvm exit {code})", 1)
    return line, r


def selftest():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"] for m in spec["end_to_end"]}
    layer = {m["name"] for m in spec["per_layer"]}
    ok = True
    t0 = time.time()
    for w in WORKLOADS:
        _, r = run_once(w, 1, 3, 1, small=True)
        with open(os.path.join(BUILD, "artifacts", f"{w}-seed1-trace1-small",
                               "summary.json")) as fh:
            summary = json.load(fh)
        problems = []
        if not r["correct"] or r["failed"] or r["attempted"] < 1:
            problems.append(f"checks failed: {summary['facts']['failures']}")
        if set(r["metrics"]) != layer:
            problems.append(f"per-layer names differ from BENCHMARK.json: "
                            f"{sorted(set(r['metrics']) ^ layer)}")
        if not e2e <= set(summary["metrics"]):
            problems.append(f"end-to-end metrics missing: "
                            f"{sorted(e2e - set(summary['metrics']))}")
        print(f"{w}: attempted={r['attempted']} failed={r['failed']} "
              f"{'ok' if not problems else '; '.join(problems)}")
        ok = ok and not problems
    print(f"selftest {'passed' if ok else 'FAILED'} in {time.time() - t0:.0f} s")
    return 0 if ok else 1


def main():
    signal.signal(signal.SIGTERM, _stop_child)
    signal.signal(signal.SIGINT, _stop_child)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--small", action="store_true",
                    help="small inputs, for the benchmark's own tests")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        sys.exit(selftest())
    if a.workload is None or a.seed is None or a.seconds is None \
            or a.trace is None:
        ap.error("--workload, --seed, --seconds and --trace are required")
    if a.seconds <= 0:
        ap.error("--seconds must be positive")
    line, _ = run_once(a.workload, a.seed, a.seconds, a.trace, a.small)
    sys.stdout.flush()
    print(line)


if __name__ == "__main__":
    main()
