"""Benchmark of the graft engine: import/export, corpus curation, search serving
and search under ingest.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the engine from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py) into a run directory of
its own, runs the benchmark program in one JVM on local[N], and removes the run
directory again. Lines before the last are detail (host context, set-up
repetitions, tail percentile and, traced, the layer table); the last line
is the result: {"correct", "attempted", "failed", "metrics"}. --trace 0
reports the end-to-end metrics, --trace 1 the per-layer ones.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

TIME_LIMIT_S = 175

# Spark on JDK 17 needs these when the session starts outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    if a.workload not in cfg["workloads"]:
        sys.exit(f"unknown workload {a.workload}; have {sorted(cfg['workloads'])}")
    wl = cfg["workloads"][a.workload]
    fixtures = os.path.join(root, "src", "test", "resources", "fixtures")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")) or not os.path.isdir(fixtures):
        sys.exit("run from the root of a graft checkout: src/main/scala and its fixtures are missing")

    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = build.ensure_built(root, build_dir)
    jars = build.spark_jars_dir(root)
    start = time.monotonic()  # the time limit counts from the end of the build

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, scratch, tmp = (os.path.join(run_dir, d) for d in ("inputs", "scratch", "tmp"))
    for d in (scratch, tmp):
        os.makedirs(d)
    try:
        gen.generate(a.workload, a.seed, inputs, wl["params"], fixtures)
        cores = max(1, min(cfg["spark_cores_max"], os.cpu_count() or 1))
        cmd = (["java", "-XX:-UsePerfData", f"-Xms{cfg['driver_heap']}", f"-Xmx{cfg['driver_heap']}",
                f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                f"-Dspark.hadoop.hadoop.tmp.dir={tmp}"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
                  "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", a.trace,
                  "--inputs", inputs, "--scratch", scratch, "--cores", str(cores),
                  "--cycle-seconds", str(wl["cycle_seconds"])])
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                                start_new_session=True, cwd=run_dir)

        def stop(signum, frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(f"stopped by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=max(10, TIME_LIMIT_S - (time.monotonic() - start)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit("benchmark run exceeded its time limit")
        if proc.returncode != 0:
            sys.exit(f"benchmark JVM exited {proc.returncode}")
        lines = [l for l in out.splitlines() if l.startswith("{")]
        result = json.loads(lines[-1]) if lines else None
        if not result or set(result) != {"correct", "attempted", "failed", "metrics"}:
            sys.exit("benchmark JVM printed no result line")
        for l in lines[:-1]:
            print(l)
        print(json.dumps(result, separators=(",", ":")))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
