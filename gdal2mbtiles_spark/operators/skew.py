"""Explicit skew handling: salted repartition + two-phase aggregation
on hot cells (north_rule: "explicit salted repartitioning on hot H3
cells to kill skew at 10^12-document scale"; SURVEY.md §4 R8).

Two mechanisms, composable:

- :func:`salted_repartition` — spread a hot partition key over
  ``n_salts`` reducers by repartitioning on (key, salt) where salt is a
  deterministic pmod of a row hash.  Use before any per-key kernel
  whose input must not concentrate on one task.
- :func:`two_phase_agg` — aggregate on (key, salt) first (partial),
  then merge partials per key (final).  Exactly the reference-dedup /
  burn-histogram trick generalized: the salted exchange bounds the
  biggest reducer at ~|hot key| / n_salts.

AQE's runtime skew-join splitting stays enabled as a backstop
(session.py), but these operators make the plan skew-proof by
construction rather than by rescue.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int = 16,
              salt_col: str = "_salt",
              entropy_cols: Optional[Sequence[str]] = None) -> DataFrame:
    """Deterministic salt column in [0, n_salts): pmod of a row hash
    over ``entropy_cols`` (default: all columns), so re-runs at any
    parallelism produce identical salted keys."""
    if entropy_cols is not None and not list(entropy_cols):
        # an explicitly empty list is a caller bug: falling back to
        # ALL columns would silently hash 262KB px buffers
        raise ValueError("entropy_cols must be non-empty or None")
    cols = (list(entropy_cols) if entropy_cols is not None
            else df.columns)
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(*[F.col(c) for c in cols]),
                         F.lit(n_salts)).cast("int"))


def salted_repartition(df: DataFrame, keys: Sequence[str],
                       n_partitions: int, n_salts: int = 16,
                       entropy_cols: Optional[Sequence[str]] = None
                       ) -> DataFrame:
    """repartition(n, key..., salt): a hot key's rows land on up to
    ``n_salts`` different reducers instead of one."""
    salted = with_salt(df, n_salts=n_salts, entropy_cols=entropy_cols)
    return salted.repartition(n_partitions,
                              *[F.col(k) for k in keys],
                              F.col("_salt")).drop("_salt")


def two_phase_agg(df: DataFrame, keys: Sequence[str],
                  aggs: List[Column],
                  merge: List[Column],
                  n_salts: int = 16,
                  entropy_cols: Optional[Sequence[str]] = None
                  ) -> DataFrame:
    """Salted partial aggregation then final merge.

    aggs: aggregate expressions for the (keys + salt) partial pass —
    each must be aliased.  merge: aggregates over the partial columns
    for the final per-key pass — aliases define the output schema.
    """
    salted = with_salt(df, n_salts=n_salts, entropy_cols=entropy_cols)
    partial = salted.groupBy(*keys, "_salt").agg(*aggs)
    return partial.groupBy(*keys).agg(*merge)


def hot_keys(df: DataFrame, keys: Sequence[str], threshold: int
             ) -> DataFrame:
    """Diagnostic: keys whose row count exceeds ``threshold`` — feed a
    monitoring table or choose per-key salting."""
    return (df.groupBy(*keys).count()
            .where(F.col("count") > threshold)
            .orderBy(F.col("count").desc()))
