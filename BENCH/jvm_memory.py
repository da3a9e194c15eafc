"""Where the pyramid job's memory lives: JVM areas and process RSS.

Runs the perfbench pyramid job (``perfbench/workloads.py``, the same
box fit as ``perfbench/run.py``) ``--jobs`` times in one Spark session
whose JVM runs with ``-XX:NativeMemoryTracking=summary``.  After the
setup and after each job it prints:

* the ``jcmd <pid> VM.native_memory summary`` areas that commit more
  than ``AREA_FLOOR_MB`` (Java Heap, Class, Thread, GC, ...);
* the RSS of the process tree, split into the JVM, the Python workers
  (``pyspark.daemon`` and its forks), this driver process and the rest.

A memory claim can then name the JVM area that moved.  NMT itself
costs a few percent of JVM memory and CPU, so its numbers are for
comparing two commits under this script, not for the benchmark gate.

Usage (from the repository root, Linux with a JDK ``jcmd``):

    python BENCH/jvm_memory.py --workload pyramid --jobs 4 --seed 0
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
AREA_FLOOR_MB = 10
_AREA = re.compile(r"^-\s+(.+?) \(reserved=(\d+)MB, committed=(\d+)MB")


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read()
    except OSError:
        return b""


def jvm_pid(tree) -> int:
    """The Spark driver JVM among the process tree."""
    for pid in tree:
        if os.path.basename(_cmdline(pid).split(b"\0")[0]) == b"java":
            return pid
    raise RuntimeError("no java process under this driver")


def native_memory(pid: int) -> dict:
    """Committed MB per NMT area, plus ``Total``."""
    env = {k: v for k, v in os.environ.items()
           if k != "JAVA_TOOL_OPTIONS"}
    out = subprocess.run(
        ["jcmd", str(pid), "VM.native_memory", "summary", "scale=MB"],
        capture_output=True, text=True, env=env, check=True).stdout
    areas = {}
    for line in out.splitlines():
        line = line.strip()
        if line.startswith("Total:"):
            areas["Total"] = int(re.search(r"committed=(\d+)MB",
                                           line).group(1))
        m = _AREA.match(line)
        if m:
            areas[m.group(1)] = int(m.group(3))
    return areas


def rss_split(run, jvm: int) -> dict:
    """Process-tree RSS in GB: JVM, Python workers, driver, other."""
    me = os.getpid()
    split = {"jvm": 0, "python_workers": 0, "driver": 0, "other": 0}
    for pid in run.process_tree(me):
        if pid == jvm:
            key = "jvm"
        elif pid == me:
            key = "driver"
        elif b"pyspark.daemon" in _cmdline(pid):
            key = "python_workers"
        else:
            key = "other"
        split[key] += run.rss_bytes([pid])
    return {k: v / 1e9 for k, v in split.items()}


def report(label: str, run, jvm: int) -> None:
    areas = native_memory(jvm)
    big = ", ".join(f"{name} {mb}" for name, mb in sorted(
        areas.items(), key=lambda kv: -kv[1])
        if name != "Total" and mb > AREA_FLOOR_MB)
    rss = rss_split(run, jvm)
    print(f"{label}: NMT committed MB: total {areas.get('Total')}; {big}")
    print(f"{label}: RSS GB: " + ", ".join(
        f"{k} {v:.3f}" for k, v in rss.items())
        + f", tree {sum(rss.values()):.3f}", flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=("pyramid", "pyramid_sparse"),
                    default="pyramid")
    ap.add_argument("--jobs", type=int, default=4)
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]
    import run
    from workloads import WORKLOADS, Spans

    work = os.path.join(REPO, ".perfbench", "jvm_memory")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    box = run.fit_box(work, trace=False)
    os.environ["JAVA_TOOL_OPTIONS"] += " -XX:NativeMemoryTracking=summary"
    print(f"box: nproc {box['box.nproc']}, mem "
          f"{box['box.mem_total_gb']:.1f} GB, heap {box['heap_gb']}g",
          flush=True)

    from gdal2mbtiles_spark.session import get_spark
    spark = get_spark(cores=box["box.nproc"], app="jvm_memory")
    try:
        page = spark._jsc.sc().env().memoryManager().pageSizeBytes()
        print(f"Tungsten page {page / 2 ** 20:.0f} MiB")
        jvm = jvm_pid(run.process_tree(os.getpid()))
        wl = WORKLOADS[args.workload](spark, data, args.seed, "full",
                                      Spans(spark.sparkContext,
                                            args.workload))
        wl.setup(0)
        report("setup", run, jvm)
        for i in range(1, args.jobs + 1):
            t0 = time.time()
            wl.job()
            print(f"job {i}: {time.time() - t0:.2f}s")
            report(f"job {i}", run, jvm)
    finally:
        run.stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
