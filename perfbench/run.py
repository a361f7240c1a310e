#!/usr/bin/env python3
"""GSMLS ETL benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the engine and the benchmark from
source on first use (see build.py), then runs the workload in one JVM: a
``local[nproc]`` Spark session with an embedded in-memory Derby sink. The
last line of standard output is the result JSON; with ``--trace 0`` it
carries the end-to-end metrics, with ``--trace 1`` the per-layer ones.
Each run also leaves an artifact (set-up breakdown, contention sentinels,
per-pass times, check details, and for traced runs the spans) under
``$CARGO_TARGET_DIR/results`` (default ``.bench_build/results``).
Exits non-zero, without a result, when the build or the run fails, and
with 1 after the result when an output check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("backfill", "deliveries")
TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17+ outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class Stopped(Exception):
    pass


def _stop(signum, frame):
    raise Stopped()


def main():
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _stop)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    try:
        classes = build.build(root)
        jars = build.spark_jars()
    except (build.BuildError, Stopped) as e:
        print("perfbench: %s" % (e or "stopped"), file=sys.stderr)
        return 2

    out = build.build_dir(root)
    work = os.path.join(out, "work-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # A fixed-size heap and the throughput collector: no heap resizing and no
    # concurrent GC threads competing with the four task threads, which
    # keeps pass times and peak RSS steady from run to run.
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Duser.timezone=UTC",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dderby.system.home=" + os.path.join(work, "derby"),
           "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--results", os.path.join(out, "results")]
    log = os.path.join(out, "logs", "%s-seed%d-trace%d.log" % (a.workload, a.seed, a.trace))
    os.makedirs(os.path.dirname(log), exist_ok=True)
    proc = None
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                    cwd=work, start_new_session=True)
            stdout, _ = proc.communicate(timeout=TIMEOUT_S)
    except (subprocess.TimeoutExpired, Stopped) as e:
        if proc is not None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        why = "stopped" if isinstance(e, Stopped) else "exceeded %ds" % TIMEOUT_S
        print("perfbench: run %s; log in %s" % (why, log), file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if proc.returncode != 0 or not isinstance(result, dict):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        print("perfbench: run failed (exit %d); log in %s" % (proc.returncode, log), file=sys.stderr)
        return 4
    with open(log) as fh:
        for line in fh:
            if line.startswith("perfbench:"):
                sys.stderr.write(line)
    print(lines[-1])
    return 0 if result.get("correct") is True else 1


if __name__ == "__main__":
    sys.exit(main())
