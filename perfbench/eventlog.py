"""Spark event log -> per-span layer table.

Reads an UNCOMPRESSED, non-rolling event log (one file, or the
event-log directory holding it) and groups jobs by their job
description, which the benchmark sets to
``<workload>/<span>@<iteration>`` around each library call.  Per span it
reports task, stage and SQL metrics, plus:

- ``stage_wall_s``: the union of the span's stage intervals;
- ``unattributed_s``: span wall not covered by any stage;
- ``reconciled``: whether the stage wall is within 10% of the span wall.

Usage:
    python3 perfbench/eventlog.py <event log file or directory>

Run standalone, a description's wall is taken from its first job
submission to its last job end; run.py passes the driver-side span wall
instead, which also counts time before the first job.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

RECONCILE_SHARE = 0.10

# SQL metric names as Spark 4.1 logs them (task accumulables, ms/bytes)
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"


def read_events(path: str):
    """The events of the log at ``path``, or of the one log file in the
    event-log directory ``path``."""
    if os.path.isdir(path):
        files = os.listdir(path)
        if len(files) != 1:
            raise ValueError(f"{path}: expected one event log, got {files}")
        path = os.path.join(path, files[0])
    with open(path) as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


class Log:
    """Jobs, stages and per-stage task metrics of one application."""

    def __init__(self, events):
        self.jobs = {}      # job id -> {desc, stages, submit, end}
        self.stages = {}    # stage id -> {submit, complete, tasks: [...]}
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "desc": props.get("spark.job.description"),
                    "stages": e.get("Stage IDs", []),
                    "submit": e["Submission Time"] / 1000.0, "end": None}
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in self.jobs:
                    self.jobs[e["Job ID"]]["end"] = \
                        e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = self.stages.setdefault(info["Stage ID"], {"tasks": []})
                st["submit"] = info.get("Submission Time", 0) / 1000.0
                st["complete"] = info.get("Completion Time", 0) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = self.stages.setdefault(e["Stage ID"], {"tasks": []})
                st["tasks"].append(_task(e))

    def descriptions(self):
        return sorted({j["desc"] for j in self.jobs.values() if j["desc"]})

    def span(self, descs, wall: float = None) -> dict:
        """Aggregate every job whose description is in ``descs`` (one
        description or a collection of them)."""
        descs = {descs} if isinstance(descs, str) else set(descs)
        jobs = [j for j in self.jobs.values() if j["desc"] in descs]
        stage_ids = {s for j in jobs for s in j["stages"]
                     if "submit" in self.stages.get(s, {})}
        tasks = [t for s in stage_ids for t in self.stages[s]["tasks"]]
        covered = _union([(self.stages[s]["submit"],
                           self.stages[s]["complete"]) for s in stage_ids])
        if wall is None:
            ends = [j["end"] for j in jobs if j["end"] is not None]
            wall = (max(ends) - min(j["submit"] for j in jobs)
                    if jobs and ends else 0.0)
        durs = sorted(t["dur"] for t in tasks)
        q = (statistics.quantiles(durs, n=20, method="inclusive")
             if len(durs) > 1 else durs * 19)
        return {
            "wall_s": wall,
            "jobs": len(jobs),
            "stages": len(stage_ids),
            "tasks": len(tasks),
            "stage_wall_s": covered,
            "unattributed_s": max(wall - covered, 0.0),
            "reconciled": abs(wall - covered) <= RECONCILE_SHARE * wall,
            "task_s_p50": statistics.median(durs) if durs else 0.0,
            "task_s_p95": q[18] if durs else 0.0,
            "task_s_max": durs[-1] if durs else 0.0,
            "jvm_cpu_s": sum(t["cpu"] for t in tasks),
            "gc_s": sum(t["gc"] for t in tasks),
            "python_worker_s": sum(t["py_run"] for t in tasks),
            "bytes_to_python": sum(t["py_sent"] for t in tasks),
            "bytes_from_python": sum(t["py_back"] for t in tasks),
            "shuffle_write_bytes": sum(t["shuffle_w"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
        }


def _task(e) -> dict:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    acc = {}
    for a in info.get("Accumulables", []):
        try:
            acc[a.get("Name")] = acc.get(a.get("Name"), 0) + int(
                a.get("Update", 0))
        except (TypeError, ValueError):
            pass
    return {
        "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
        "cpu": m.get("Executor CPU Time", 0) / 1e9,
        "gc": m.get("JVM GC Time", 0) / 1000.0,
        "shuffle_w": (m.get("Shuffle Write Metrics") or {})
        .get("Shuffle Bytes Written", 0),
        "spill": m.get("Memory Bytes Spilled", 0)
        + m.get("Disk Bytes Spilled", 0),
        "py_run": acc.get(_PY_RUN, 0) / 1000.0,
        "py_sent": acc.get(_PY_SENT, 0),
        "py_back": acc.get(_PY_BACK, 0),
    }


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def main(argv) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    log = Log(read_events(argv[1]))
    cols = ("wall_s", "stage_wall_s", "unattributed_s", "jobs", "tasks",
            "python_worker_s", "jvm_cpu_s", "shuffle_write_bytes")
    print("description".ljust(48) + "".join(c.rjust(16) for c in cols)
          + "  reconciled")
    for desc in log.descriptions():
        r = log.span(desc)
        print(desc[:48].ljust(48)
              + "".join(f"{r[c]:16.3f}" if isinstance(r[c], float)
                        else f"{r[c]:16d}" for c in cols)
              + f"  {r['reconciled']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
