"""Fixed Python-worker CPU per Spark task.

Runs a trivial ``mapInPandas`` (it passes its batches through) over 4,
16 and 64 partitions of a 64k-row range, after one untimed warm-up
action that starts the workers.  Around each action it sums the CPU
time (user + system, including reaped children) of every
``pyspark.daemon`` process from ``/proc``: the daemon and the workers
it forked.  Each partition count runs ``REPEATS`` times and reports
the median; the slope of worker CPU against task count is the fixed
cost of one Python task, since the rows per action stay the same.

The kernel imports ``gdal2mbtiles_spark`` the way every engine UDF
does when a worker unpickles it, so the workers are in the state they
are in under the engine.

Usage: python BENCH/python_task_cost.py   (Linux only; prints JSON)
"""

from __future__ import annotations

import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PARTITIONS = (4, 16, 64)
REPEATS = 3
ROWS = 65536


def daemon_cpu_s() -> float:
    """User + system CPU seconds of all pyspark.daemon processes."""
    ticks = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:         # the process exited while we looked
            continue
        # fields[11:15] = utime, stime, cutime, cstime (proc(5) 14-17)
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _passthrough(batches):
    import gdal2mbtiles_spark  # noqa: F401
    yield from batches


def worker_cpu_s(spark, partitions: int) -> float:
    df = (spark.range(ROWS, numPartitions=partitions)
          .mapInPandas(_passthrough, schema="id long"))
    before = daemon_cpu_s()
    df.groupBy().sum("id").collect()
    return daemon_cpu_s() - before


def main() -> None:
    sys.path.insert(0, REPO)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from gdal2mbtiles_spark.session import get_spark

    spark = get_spark(cores=int(os.environ.get("SPARK_GRAFT_CPUS",
                                               os.cpu_count())),
                      app="python_task_cost")
    try:
        worker_cpu_s(spark, PARTITIONS[-1])          # warm-up
        cpu = {p: statistics.median(worker_cpu_s(spark, p)
                                    for _ in range(REPEATS))
               for p in PARTITIONS}
    finally:
        spark.stop()
    n = len(PARTITIONS)
    mx = sum(PARTITIONS) / n
    my = sum(cpu.values()) / n
    slope = (sum((p - mx) * (cpu[p] - my) for p in PARTITIONS)
             / sum((p - mx) ** 2 for p in PARTITIONS))
    print(json.dumps({
        "worker_cpu_s": {str(p): round(cpu[p], 3) for p in PARTITIONS},
        "cpu_per_task_s": {str(p): round(cpu[p] / p, 4)
                           for p in PARTITIONS},
        "slope_s_per_task": round(slope, 4),
        "python": sys.version.split()[0],
        "nproc": os.cpu_count(),
    }))


if __name__ == "__main__":
    main()
