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


def default_driver_memory() -> str:
    """Driver heap sized to this machine: 40% of physical memory, at
    least 1g and at most 32g (6g on a 16 GB box).  Local mode runs the
    executors inside the driver JVM, and the Python workers and the OS
    page cache need the rest."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(32, int(0.4 * total / 2 ** 30)))}g"


def get_spark(cores: Optional[int] = None,
              app: str = "gdal2mbtiles_spark",
              shuffle_partitions: Optional[int] = None,
              ui: bool = False) -> SparkSession:
    """Build (or fetch) a local SparkSession.

    cores defaults to $SPARK_GRAFT_CPUS (driver contract) or 32, and
    the driver heap to $SPARK_GRAFT_DRIVER_MEM or
    :func:`default_driver_memory`.  On a real cluster the same engine
    code runs unchanged — only master/partition settings differ
    (spark-submit --py-files).
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
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
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
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or default_driver_memory())
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def broadcast_threshold(spark: SparkSession) -> int:
    """spark.sql.autoBroadcastJoinThreshold in bytes (-1: broadcast
    joins disabled).  Operators size their small side against it to
    choose between a hinted broadcast join and a shuffle."""
    raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold",
                             "33554432"))
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    low = raw.strip().lower().removesuffix("b")
    if low and low[-1] in units:
        return int(float(low[:-1]) * units[low[-1]])
    try:
        return int(low)
    except ValueError:
        return 32 * 1024 * 1024
