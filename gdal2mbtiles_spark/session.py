"""SparkSession factory tuned for the tile data plane.

The engine moves both 262,144-byte RGBA tile buffers and ~40-byte
sparse pixel rows through Arrow batches; the static batch limits below
serve both (a batch closes at whichever limit it hits first), so no
job has to change them.  AQE is on so skewed tile-hash or cell joins
re-plan at runtime (SURVEY.md §4 R7/R8).
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession

# Arrow batch limits: 64 MiB holds 256 RGBA tiles (256*256*4 bytes
# each), while 64k records keep pixel and content rows in batches of a
# few MB instead of the 10 KB a 256-row cap would give them.
ARROW_MAX_RECORDS = 65536
ARROW_MAX_BYTES = 64 * 1024 * 1024


def get_spark(cores: Optional[int] = None,
              app: str = "gdal2mbtiles_spark",
              shuffle_partitions: Optional[int] = None,
              ui: bool = False) -> SparkSession:
    """Build (or fetch) a local SparkSession.

    cores defaults to $SPARK_GRAFT_CPUS (driver contract) or 32.  On a
    real cluster the same engine code runs unchanged — only
    master/partition settings differ (spark-submit --py-files).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Make the package importable in executor Python workers even when
    # the driver wasn't launched from the repo root (clusters ship it
    # via spark-submit --py-files; local workers inherit this env).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (pkg_root + os.pathsep + pypath
                                    if pypath else pkg_root)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    # Executor-isolated mode (north_rule: N vs 4N *executors*):
    # SPARK_GRAFT_EXECUTORS=E runs a real multi-executor deployment in
    # one box — local-cluster[E, cores/E, mem] spawns E separate
    # executor JVMs (own heap, GC, python workers), the sandbox
    # stand-in for E cluster nodes.  Per-executor memory is constant
    # across E (adding nodes adds memory, as on a real cluster).
    n_execs = int(os.environ.get("SPARK_GRAFT_EXECUTORS", "0"))
    if n_execs > 0:
        per_exec = max(cores // n_execs, 1)
        if per_exec * n_execs != cores:
            # a non-divisible split silently drops task slots while
            # parallelism/shuffle partitions stay sized to the nominal
            # cores — skewing the N-vs-4N ratios the harness measures
            raise ValueError(
                f"SPARK_GRAFT_CPUS={cores} not divisible by "
                f"SPARK_GRAFT_EXECUTORS={n_execs}")
        exec_mem_mb = int(os.environ.get("SPARK_GRAFT_EXEC_MEM_MB",
                                         "12288"))
        builder = (
            SparkSession.builder
            .master(f"local-cluster[{n_execs},{per_exec},{exec_mem_mb}]")
            .appName(app)
            .config("spark.executor.memory", f"{exec_mem_mb}m")
            # ship the package to executor python workers
            .config("spark.executorEnv.PYTHONPATH",
                    os.environ.get("PYTHONPATH", ""))
        )
        if os.environ.get("SPARK_GRAFT_CAP_PROCS") == "1":
            builder = builder.config(
                "spark.executor.extraJavaOptions",
                f"-XX:ActiveProcessorCount={2 * per_exec}")
    else:
        builder = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName(app)
        )
        # Scaling-evidence fairness (BENCH/scaling.py sets this): cap
        # the JVM's visible processors at 2*cores (one JVM task thread
        # + one python worker per task) so a local[4] leg on a 32-CPU
        # host can't borrow idle CPUs for GC/JIT/compression that a
        # real 4-core executor would not have.
        if os.environ.get("SPARK_GRAFT_CAP_PROCS") == "1":
            builder = builder.config(
                "spark.driver.extraJavaOptions",
                f"-XX:ActiveProcessorCount={2 * cores}")
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_MAX_RECORDS))
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(ARROW_MAX_BYTES))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
