"""Per-stage lineage + resumable checkpoints (north_rule: "every stage
writes per-partition lineage + metrics and is resumable from
checkpoint").

A *stage* is a named DataFrame materialized to Parquet under a run
directory.  ``run_stage``:

1. if ``<run_dir>/<stage>/_SUCCESS`` exists, SKIPS the computation and
   returns a reader of the persisted output (idempotent re-run — the
   engine analogue of the reference's buffered-pyramid resume,
   vips.py:838-853);
2. otherwise computes the DataFrame, writes it to Parquet, and appends
   per-partition metrics (rows, bytes, checksum) to the ``lineage``
   table (FIXTURES.md §5 schema:
   ``lineage(stage, partition_id, rows, bytes, checksum)``).

The checksum is an order-insensitive XOR-of-row-hashes so it is stable
under any parallelism.
"""

from __future__ import annotations

import os
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def _stage_dir(run_dir: str, stage: str) -> str:
    return os.path.join(run_dir, "stages", stage)


def _lineage_dir(run_dir: str) -> str:
    return os.path.join(run_dir, "lineage")


def stage_is_complete(run_dir: str, stage: str) -> bool:
    return os.path.exists(os.path.join(_stage_dir(run_dir, stage),
                                       "_SUCCESS"))


def compute_lineage(df: DataFrame, stage: str) -> DataFrame:
    """Per-partition (rows, approx bytes, order-insensitive checksum)."""
    cols = df.columns
    row_hash = F.xxhash64(*[F.col(c) for c in cols])
    # coalesce per column: a single NULL column would null-propagate
    # the whole row's term and silently drop it from the bytes sum
    byte_est = sum([F.coalesce(F.length(F.col(c).cast("string")),
                               F.lit(0))
                    for c in cols], F.lit(0))
    # sum-of-row-hashes folded mod 2^62: order-insensitive (stable at
    # any parallelism); decimal accumulation avoids ANSI long overflow
    from pyspark.sql.types import DecimalType
    checksum = F.pmod(
        F.sum(row_hash.cast(DecimalType(38, 0))),
        F.lit(str(2 ** 62)).cast(DecimalType(38, 0))).cast("long")
    return (df.withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(F.count("*").alias("rows"),
                 F.sum(byte_est).cast("bigint").alias("bytes"),
                 checksum.alias("checksum"))
            .select(F.lit(stage).alias("stage"), "partition_id",
                    "rows", "bytes", "checksum"))


def run_stage(spark: SparkSession, run_dir: str, stage: str,
              build: Callable[[], DataFrame],
              partition_by: Optional[list] = None) -> DataFrame:
    """Compute-or-resume a named stage (see module docstring)."""
    out = _stage_dir(run_dir, stage)
    if stage_is_complete(run_dir, stage):
        return spark.read.parquet(out)
    df = build()
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out)
    persisted = spark.read.parquet(out)
    lineage = compute_lineage(persisted, stage)
    (lineage.write.mode("append")
     .parquet(_lineage_dir(run_dir)))
    return persisted


def read_lineage(spark: SparkSession, run_dir: str) -> DataFrame:
    return spark.read.parquet(_lineage_dir(run_dir))
