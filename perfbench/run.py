#!/usr/bin/env python3
"""Benchmark entry point.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (perfbench/build.py) on
first use, then runs one closed-loop workload in one JVM (one client
thread, Spark master local[<cpus>]). Prints one record line with the run's
stamps and input sizes, then, as the last line, the result:
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
All files are written under the build directory inside the checkout.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("odds_refresh", "dedup_maintenance")
HEAP = "3g"
# the JVM's own deadline; the whole run must end within 180 s
JVM_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unavailable"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        _, cp, src_hash = build.ensure_built()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(nproc)
    run_id = f"{a.workload}-{a.seed}-{os.getpid()}"
    work = os.path.abspath(os.path.join(build.build_dir(), "work", run_id))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    here = os.path.dirname(os.path.abspath(__file__))
    stamps = {
        "nproc": nproc, "spark_graft_cpus": cpus, "heap": HEAP,
        "git_commit": git_commit(), "source_sha256": src_hash,
        "seed": a.seed, "workload": a.workload, "seconds": a.seconds,
        "trace": a.trace,
    }
    # C1 only: in a run this short, C2 compiler threads compete with the
    # Spark task threads (one odds run: 3.8 s/op with C1, 4.2 s/op
    # without, 4 cores); no perf-data file, so nothing is written
    # outside the checkout
    cmd = (["java", f"-Xmx{HEAP}", "-Xss16m", "-XX:ReservedCodeCacheSize=512m",
            "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-Dspark.callstack.depth=400",
              f"-Djava.io.tmpdir={work}/tmp",
              "-Dlog4j2.configurationFile=" + os.path.join(here, "log4j2.properties"),
              "-cp", cp, "perfbench.Main",
              a.workload, str(a.seed), str(a.seconds), str(a.trace), work,
              json.dumps(stamps), os.path.abspath("BENCHMARK.json")])
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=work + "/tmp")
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    log_path = work + ".log"
    t0 = time.time()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env,
                             text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            out = None
    shutil.rmtree(work, ignore_errors=True)
    lines = (out or "").strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        why = "timed out" if out is None else f"exit code {p.returncode}"
        print(f"[perfbench] run failed ({why}, {time.time() - t0:.0f} s); "
              f"JVM log: {os.path.abspath(log_path)}", file=sys.stderr)
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        for ln in lines:
            if not ln.startswith('{"correct"'):
                print(ln, file=sys.stderr)
        return 1
    os.remove(log_path)
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
