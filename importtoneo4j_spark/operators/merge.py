"""MERGE-semantics building blocks, re-expressed as set algebra.

The reference's exception-driven three-tier upsert
(VariantDatabase.java:265-317: session cache -> index lookup -> create) and
its property/label merge rules collapse into three deterministic batch
operators:

* first_wins   — addNodeProperties sets a property only if absent
                 (Neo4j.java:230-242 guard at :236); under parallelism this
                 is only deterministic with an explicit ordering, so it is a
                 salted two-phase min(struct(order_cols..., payload...))
                 aggregation (SURVEY.md §7 hard parts 1 & 3).
* label_union  — addNodeLabel accumulates labels (Neo4j.java:243-253) ->
                 two-phase collect_set / array_union, sorted for determinism.
* idempotent_append — re-running an already-imported run must be a no-op
                 (Main.java:73-76 duplicate-analysisId abort; delta sink
                 VariantDatabase.java:235-263) -> left_anti join vs snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT_BUCKETS = 16


def first_wins(
    df: DataFrame,
    keys: list[str],
    order_by: list[str],
    payload: list[str],
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
) -> DataFrame:
    """One row per key: the row minimal under lexicographic (order_by...,
    payload...) ordering. Two-phase (salted partial -> final) so a hot key
    (e.g. an entity mentioned in 20% of all turns) never concentrates on one
    reducer: min is associative, so pre-aggregating per salt bucket is exact.

    order_by columns must be non-null (struct comparison with nulls is not
    total); payload columns must be orderable (no maps — build maps after).
    """
    cols = order_by + payload
    strukt = F.struct(*[F.col(c) for c in cols]).alias("_w")
    if salt_buckets <= 1:
        # single-phase: hash-aggregate min(struct) partial-merges map-side,
        # so even a key holding 20% of all rows collapses to one partial row
        # per task before the shuffle — explicit salting only pays when the
        # aggregate has no partial (collect_list, exact percentile) or the
        # skew sits in a join, and it costs a second shuffle here
        final = df.groupBy(*keys).agg(F.min(strukt).alias("_w"))
        return final.select(*keys, *[F.col(f"_w.{c}").alias(c) for c in cols])
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in order_by]), F.lit(salt_buckets))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(F.min(strukt).alias("_w"))
    )
    final = partial.groupBy(*keys).agg(F.min("_w").alias("_w"))
    return final.select(
        *keys, *[F.col(f"_w.{c}").alias(c) for c in cols]
    )


def label_union(
    df: DataFrame,
    keys: list[str],
    label_col: str,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
) -> DataFrame:
    """Set-union of labels per key, sorted array output (deterministic).
    Two-phase: per-salt collect_set -> flatten + array_distinct."""
    salt = F.pmod(F.xxhash64(F.col(label_col)), F.lit(salt_buckets))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(F.collect_set(label_col).alias("_l"))
    )
    final = partial.groupBy(*keys).agg(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("_l")))).alias("labels")
    )
    return final


def new_keys_only(df: DataFrame, snapshot: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of df whose key is absent from snapshot (the reference's
    new-variants delta, VariantDatabase.java:235-263,312) — left_anti join,
    which ignores repeated keys on the snapshot side, so no distinct."""
    return df.join(snapshot.select(*keys), on=keys, how="left_anti")


def merge_nodes(snapshot: DataFrame, delta: DataFrame) -> DataFrame:
    """Cross-run node upsert — the reference accumulates onto existing nodes
    on re-runs (labels via addNodeLabel Neo4j.java:243-253, properties
    first-wins via the :236 guard).

    Full-outer on entity_id:
      canonical_surface  first-wins (snapshot side — it was seen earlier)
      labels             set-union, sorted
      properties         per-key first-wins: snapshot keys kept (including
                         enrichment keys), delta adds only absent keys
      n_mentions         summed across runs (cumulative mention count)
      n_surfaces         greatest (monotone: the delta is computed against
                         the cumulative links table, so it is >= snapshot
                         for shared entities)

    Column set = the canonical nodes schema; extra columns in either input
    (e.g. the _bucket partition column) must be dropped by the caller."""
    empty_arr = F.array().cast("array<string>")
    empty_map = F.map_from_arrays(F.array(), F.array()).cast("map<string,string>")
    s = snapshot.alias("s")
    d = delta.alias("d")
    j = s.join(d, F.col("s.entity_id") == F.col("d.entity_id"), "full_outer")
    sp = F.coalesce(F.col("s.properties"), empty_map)
    dp = F.coalesce(F.col("d.properties"), empty_map)
    props = F.map_concat(sp, F.map_filter(dp, lambda k, _: ~F.map_contains_key(sp, k)))
    return j.select(
        F.coalesce(F.col("s.entity_id"), F.col("d.entity_id")).alias("entity_id"),
        F.coalesce(F.col("s.canonical_surface"), F.col("d.canonical_surface")).alias(
            "canonical_surface"
        ),
        F.array_sort(
            F.array_distinct(
                F.concat(
                    F.coalesce(F.col("s.labels"), empty_arr),
                    F.coalesce(F.col("d.labels"), empty_arr),
                )
            )
        ).alias("labels"),
        props.alias("properties"),
        (
            F.coalesce(F.col("s.n_mentions"), F.lit(0))
            + F.coalesce(F.col("d.n_mentions"), F.lit(0))
        ).alias("n_mentions"),
        F.greatest(
            F.coalesce(F.col("s.n_surfaces"), F.lit(0)),
            F.coalesce(F.col("d.n_surfaces"), F.lit(0)),
        ).alias("n_surfaces"),
    )


def assert_unique(df: DataFrame, keys: list[str], what: str = "key") -> None:
    """Uniqueness-constraint assertion (Neo4j.java:163-167 throws on >1 hit)."""
    dup = df.groupBy(*keys).count().filter(F.col("count") > 1).limit(1)
    row = dup.first()
    if row is not None:
        raise ValueError(f"uniqueness violated for {what}: {row.asDict()}")
