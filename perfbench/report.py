"""Layer report: the per-serve-type and per-import-format layer table.

Runs one workload twice with the same seed, untraced and traced, and prints
for each serve type and each import format: wall, time outside any Spark
job, Catalyst time, jobs, and executor run and CPU time (medians of wall
and outside-jobs, means of the rest, per call). It ends with the tracing
overhead: the traced run's mean op time against the untraced run's.

Usage (from the root of a checkout):
  python3 perfbench/report.py --workload search_serve [--seed 1] [--seconds 10]
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True).stdout
    return [json.loads(l) for l in out.splitlines() if l.startswith("{")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    a = ap.parse_args()

    plain = run(a.workload, a.seed, a.seconds, 0)
    traced = run(a.workload, a.seed, a.seconds, 1)
    spans = {d["span"]: d for d in traced if "span" in d}
    rows = [(n, d) for n, d in sorted(spans.items())
            if n.startswith("serve.") or n.startswith("importer:")]
    cols = ["n", "wall ms", "outside jobs", "Catalyst", "jobs", "exec run / CPU ms"]
    print("| span | " + " | ".join(cols) + " |")
    print("|---" * (len(cols) + 1) + "|")
    for name, d in rows:
        print(f"| {name} | {d['n']} | {d['wall_ms_p50']:.0f} | {d['outside_jobs_ms_p50']:.0f}"
              f" | {d['catalyst_ms']:.0f} | {d['jobs']:.1f}"
              f" | {d['exec_run_ms']:.0f} / {d['exec_cpu_ms']:.0f} |")
    host = next(d["host"] for d in traced if "host" in d)
    untraced = plain[-1]["metrics"]["op_ms_mean"]["value"]
    traced_mean = traced[-1]["metrics"]["op.traced_ms_mean"]["value"]
    print(f"\nhost: {json.dumps(host, sort_keys=True)}")
    print(f"mean op: untraced {untraced:.1f} ms, traced {traced_mean:.1f} ms; "
          f"tracing overhead {100 * (traced_mean / untraced - 1):+.1f}%")


if __name__ == "__main__":
    main()
