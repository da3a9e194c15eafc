"""Benchmark entry point: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload pyramid --seed 0 --seconds 5 \\
        --trace 0

Run from the repository root.  One process drives one Spark session on
``local[nproc]``; the job is issued again only when the previous one
returned (closed loop, one client).  After one warm-up job the loop
times jobs for ``--seconds`` (at least MIN_ITERS of them) and reports
medians.

The last line printed is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` enables an uncompressed Spark event
log and reports the per-layer metrics (eventlog.py).  Metric names and
units come from BENCHMARK.json.  ``attempted`` and ``failed`` count the
output checks, so failed/attempted is the run's error rate.

``--size tiny`` runs the same code on small inputs (suite.py --tiny).
``--record`` stores this run's check values as the expected values for
the default seed in expected.json.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback

from eventlog import RECONCILE_SHARE, Log, read_events

T_START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
DEFAULT_SEED = 0
SETUP_REPS = 3
MIN_ITERS = 1
# end-to-end metrics of the queries workload on top of BENCHMARK.json's:
# job wall (job_s) and the summed spans of one pass
QUERY_SUMS = {"pip_join_s": "operators.spatial.pip_join",
              "knn_join_s": "operators.spatial.knn_join",
              "dedup_s": "operators.dedup.",
              "ann_s": "operators.similarity.",
              "text_s": "functions.text."}


def read_meminfo_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 ** 2
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def fit_box(work: str, trace: bool) -> dict:
    """Size the deployment to this machine and keep every file Spark,
    the JVM and Python workers write inside ``work``.  Must run before
    the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    mem_gb = read_meminfo_gb()
    heap_gb = max(1, min(8, int(mem_gb // 4)))
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "eventlog")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    confs = [f"spark.sql.warehouse.dir=file://{work}/warehouse"]
    if trace:
        confs += ["spark.eventLog.enabled=true",
                  "spark.eventLog.compress=false",
                  "spark.eventLog.rolling.enabled=false",
                  f"spark.eventLog.dir=file://{events}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"
    return {"box.nproc": cores, "box.mem_total_gb": mem_gb,
            "box.loadavg_start": os.getloadavg()[0],
            "heap_gb": heap_gb, "eventlog": events}


def md5_gbps(seconds: float = 0.3) -> float:
    """Single-core hashlib MD5 throughput over 256 KiB buffers: the
    floor of the tile kernel, which hashes full 256x256 RGBA canvases."""
    buf = bytes(256 * 1024)
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        hashlib.md5(buf).digest()
        n += 1
    return n * len(buf) / (time.perf_counter() - t0) / 1e9


def process_tree(root: int):
    """``root`` and all its descendants, from /proc."""
    children = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def cpu_seconds(pids) -> float:
    """User plus system CPU time of ``pids`` and of their reaped
    children, from /proc.  Time the hypervisor gave to other guests
    (steal) is not in it."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ticks += sum(map(int, fh.read().rsplit(")", 1)[1]
                                 .split()[11:15]))
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def rss_bytes(pids) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * os.sysconf("SC_PAGE_SIZE")


class PeakRss(threading.Thread):
    """Peak memory of the benchmark's process tree (this process, the
    driver JVM and its Python workers): the largest summed RSS seen,
    polled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.done = threading.Event()

    def run(self):
        while not self.done.wait(self.interval):
            self.peak = max(self.peak,
                            rss_bytes(process_tree(os.getpid())))

    def stop(self) -> float:
        """Stop polling; the peak in GB."""
        self.done.set()
        self.join()
        return self.peak / 1e9


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()      # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def guarded(name: str, fn) -> list:
    """``fn()``'s checks, or one failed check when it raises."""
    try:
        return list(fn())
    except Exception:
        traceback.print_exc()
        return [(name, False)]


def layer_metrics(wl, spans, log, last: int, box: dict, session_s: float,
                  job_times: list, job_cpu: list):
    """Per-layer metrics of the traced run, and the per-span table."""
    m = wl.layer_metrics(log, last)
    m["session.start_s"] = session_s
    m["sources.iceberg.write_s"] = statistics.median(wl.write_s)
    for step in ("plan", "scan"):
        m[f"sources.iceberg.{step}_s"] = spans.wall(
            f"sources.iceberg.{step}", "diag")
    for k in ("box.md5_gbps", "box.nproc", "box.mem_total_gb",
              "box.loadavg_start"):
        m[k] = box[k]
    table = [dict(log.span(spans.description(r["name"], r["iteration"]),
                           r["t1"] - r["t0"]),
                  span=r["name"], iteration=r["iteration"])
             for r in spans.records if r["iteration"] != "setup"]
    timed = [r for r in table if r["iteration"] == last]
    m["trace.job_s"] = statistics.median(job_times)
    m["trace.job_cpu_s"] = statistics.median(job_cpu)
    m["trace.spans"] = len(timed)
    m["trace.unattributed_s"] = sum(r["unattributed_s"] for r in timed)
    m["trace.stage_wall_share"] = (sum(r["stage_wall_s"] for r in timed)
                                   / sum(r["wall_s"] for r in timed))
    print(f"layer table (timed job = iteration {last}; reconciled = stage "
          f"wall within {RECONCILE_SHARE:.0%} of span wall):")
    for row in table:
        print(f"  {str(row['iteration']):8s} {row['span']:40s} wall "
              f"{row['wall_s']:7.3f}s  stages {row['stage_wall_s']:7.3f}s  "
              f"unattributed {row['unattributed_s']:6.3f}s  reconciled "
              f"{row['reconciled']}")
    return m, table


def end_to_end(workload, spans, last: int, times, cpu, setup_s,
               peak_gb) -> dict:
    """Untraced metrics: medians over the timed jobs 1..last."""
    m = {"job_s": statistics.median(times),
         "job_cpu_s": statistics.median(cpu),
         "setup_s": statistics.median(setup_s), "peak_rss_gb": peak_gb}
    if workload != "queries":
        return m
    for key, prefix in QUERY_SUMS.items():
        m[key] = statistics.median(
            sum(r["t1"] - r["t0"] for r in spans.records
                if r["iteration"] == i and r["name"].startswith(prefix))
            for i in range(1, last + 1))
    return m


def report(metrics: dict, units: dict, listed: bool) -> dict:
    """The result line's metrics: exactly BENCHMARK.json's list for a
    listed workload, else every computed metric that has a unit."""
    if listed:
        missing = sorted(set(units) - set(metrics))
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
    return {k: {"value": metrics[k], "unit": units[k]}
            for k in units if k in metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    if not os.path.isdir(os.path.join(ROOT, "gdal2mbtiles_spark")):
        print(f"error: no gdal2mbtiles_spark package under {ROOT}; run "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    with open(SPEC) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS, Spans
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    if args.record and args.seed != DEFAULT_SEED:
        ap.error("--record stores default-seed values only")

    work = os.path.join(ROOT, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    box = fit_box(work, bool(args.trace))
    box["box.md5_gbps"] = md5_gbps()
    print(f"box: nproc {box['box.nproc']}, mem {box['box.mem_total_gb']:.1f}"
          f" GB, heap {box['heap_gb']}g, loadavg "
          f"{box['box.loadavg_start']:.2f}, md5 "
          f"{box['box.md5_gbps']:.3f} GB/s", flush=True)
    rss = PeakRss()
    rss.start()

    from gdal2mbtiles_spark.session import get_spark
    t0 = time.time()
    spark = get_spark(cores=box["box.nproc"], app=f"perfbench-{args.workload}")
    session_s = time.time() - t0
    try:
        spans = Spans(spark.sparkContext, args.workload)
        wl = WORKLOADS[args.workload](spark, data, args.seed, args.size,
                                      spans)
        setup_s = []
        for rep in range(SETUP_REPS):
            t0 = time.time()
            wl.setup(rep)
            setup_s.append(time.time() - t0)
        spans.iteration = 0
        t0 = time.time()
        results = [wl.job()]
        warm_s = time.time() - t0
        times, cpu, it = [], [], 0
        deadline = time.time() + args.seconds
        while it < MIN_ITERS or time.time() < deadline:
            it += 1
            spans.iteration = it
            t0, c0 = time.time(), cpu_seconds(process_tree(os.getpid()))
            results.append(wl.job())
            times.append(time.time() - t0)
            cpu.append(cpu_seconds(process_tree(os.getpid())) - c0)
        print(f"session {session_s:.2f}s; set-ups "
              f"{', '.join(f'{s:.2f}' for s in setup_s)}s; warm-up "
              f"{warm_s:.2f}s; jobs "
              f"{', '.join(f'{t:.2f}' for t in times)}s; cpu "
              f"{', '.join(f'{t:.2f}' for t in cpu)}s", flush=True)
        names = [r["name"] for r in spans.records if r["iteration"] == it]
        print("  per span (median s): " + ", ".join(
            f"{n.split('.')[-1]} " + format(statistics.median(
                spans.wall(n, i) for i in range(1, it + 1)), ".3f")
            for n in names), flush=True)

        with open(EXPECTED) as fh:
            recorded = json.load(fh)
        expected = (recorded.get(args.workload, {}).get(args.size, {})
                    if args.seed == DEFAULT_SEED and not args.record else {})
        checks = [("iterations_agree",
                   all(r == results[0] for r in results[1:]))]
        checks += guarded("checks_completed", lambda: wl.checks(expected))
        if args.trace:
            checks += guarded("diagnostics_completed",
                              lambda: wl.diagnostics(expected))
        for name, ok in checks:
            print(f"  check {name}: {'ok' if ok else 'FAILED'}")
        if args.record:
            entry = recorded.setdefault(args.workload, {})
            entry[args.size] = dict(entry.get(args.size, {}),
                                    **wl.observed())
            with open(EXPECTED, "w") as fh:
                json.dump(recorded, fh, indent=2, sort_keys=True)
                fh.write("\n")
    finally:
        stop_spark(spark)
        peak_gb = rss.stop()

    listed = args.workload in {w["name"] for w in spec["workloads"]}
    if args.trace:
        log = Log(read_events(box["eventlog"]))
        metrics, table = layer_metrics(wl, spans, log, it, box, session_s,
                                       times, cpu)
        with open(os.path.join(work, "layers.json"), "w") as fh:
            json.dump({"metrics": metrics, "spans": table}, fh, indent=1)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        metrics = end_to_end(args.workload, spans, it, times, cpu, setup_s,
                             peak_gb)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        if not listed:
            units.update(dict.fromkeys(["job_s", *QUERY_SUMS], "s"))
    shutil.rmtree(data, ignore_errors=True)
    print(f"run wall {time.time() - T_START:.1f}s")
    failed = sum(1 for _, ok in checks if not ok)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(checks), "failed": failed,
        "metrics": report(metrics, units, listed)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
