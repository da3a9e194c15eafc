"""Run every workload through run.py and summarise.

    python3 perfbench/suite.py                  # all workloads, seed 0
    python3 perfbench/suite.py --tiny           # smoke run, small inputs
    python3 perfbench/suite.py --seeds 10 --workloads pyramid
    python3 perfbench/suite.py --trace          # adds one traced run each

Run from the repository root.  For each workload it runs one process
per seed (seeds 0..N-1) and prints every end-to-end metric by name and
unit: the median over seeds and the spread, i.e. the distance between
the first and third quartiles as a share of the median.  With --trace
it also runs the workload once with the event log on and reports the
tracing overhead, traced job_cpu_s over untraced job_cpu_s.  Exits non-zero
when any run fails or any output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pyramid", "pyramid_sparse", "queries")


def run(workload: str, seed: int, seconds: int, trace: int, size: str):
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--size", size]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    for line in lines[:-1]:
        print(f"    {line}")
    if proc.returncode != 0 or not lines:
        print(f"    run.py exited {proc.returncode}")
        return None
    return json.loads(lines[-1])


def spread(values) -> float:
    if len(values) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--seeds", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args(argv)
    size = "tiny" if args.tiny else "full"
    ok = True
    for wl in args.workloads.split(","):
        print(f"== {wl} ({size}, seeds 0..{args.seeds - 1})", flush=True)
        outs = []
        for seed in range(args.seeds):
            out = run(wl, seed, args.seconds, 0, size)
            ok &= out is not None and out["correct"]
            if out is not None:
                outs.append(out)
                print(f"  seed {seed}: correct {out['correct']} "
                      f"({out['failed']}/{out['attempted']} checks failed)",
                      flush=True)
        if not outs:
            continue
        for name, first in outs[0]["metrics"].items():
            vals = [o["metrics"][name]["value"] for o in outs]
            print(f"  {name:14s} {statistics.median(vals):12.4f} "
                  f"{first['unit']:5s} spread {spread(vals):6.1%}  "
                  + " ".join(f"{v:.4g}" for v in vals))
        if args.trace:
            traced = run(wl, 0, args.seconds, 1, size)
            ok &= traced is not None and traced["correct"]
            if traced is not None:
                job = statistics.median(
                    o["metrics"]["job_cpu_s"]["value"] for o in outs)
                tj = traced["metrics"]["trace.job_cpu_s"]["value"]
                print(f"  tracing overhead: traced job_cpu_s {tj:.3f} s vs "
                      f"untraced {job:.3f} s ({tj / job - 1:+.1%}); layer "
                      f"table in .perfbench/{wl}/layers.json")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
