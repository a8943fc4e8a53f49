"""Deterministic dataset splitting (round 4).

A training-data pipeline needs train/val/test assignment that is (a)
deterministic across runs, clusters, and engines — never `rand()`, whose
draw depends on partitioning; (b) stable under corpus growth — a document's
split never changes when other documents arrive; (c) cheap — one hash per
row, no shuffle, no global state.

The standard construction: bucket = md5(id || salt) taken as a uniform
integer mod 10_000, split by cumulative weight thresholds. md5 is
bit-identical in Spark and DuckDB (the same property the MinHash-LSH
oracle relies on, functions/text.py), so split assignment is fully
hash-checkable by the driver gate. The salt namespaces independent
splits (two different experiments get uncorrelated assignments).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKETS = 10_000


def hash_bucket(id_col: Column, salt: str = "") -> Column:
    """Uniform bucket in [0, 10000) from the first 8 md5 hex chars (32
    bits — unbiased enough at 10^4 buckets: bias < 3e-6)."""
    h = F.md5(F.concat(id_col.cast("string"), F.lit(salt)))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % BUCKETS


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: Mapping[str, float],
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Adds ``out_col`` assigning each row to a named split with the given
    weights (normalized; insertion order defines the threshold order).
    Map-side only: no shuffle, no driver state, stable under growth."""
    total = float(sum(weights.values()))
    bucket = hash_bucket(F.col(id_col), salt)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total * BUCKETS
        branch = F.when(bucket < F.lit(int(round(acc))), F.lit(name))
        expr = branch if expr is None else expr.when(
            bucket < F.lit(int(round(acc))), F.lit(name)
        )
    # last split takes the remainder, so the thresholds always cover 10000
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn(out_col, expr)
