"""Canonicalization: iterative hash-min connected components + canonical-id
assignment.

The reference enforces one node per natural key via uniqueness constraints
and MERGE (Neo4j.java:160-173; VariantDatabase.java:100-109). After fuzzy
linking, "one entity, one node" becomes a graph problem: the connected
components of the linking-evidence graph. Catalyst cannot express fixpoints
(SURVEY.md §4), so this is a driver-side loop of aggregations with
``localCheckpoint`` lineage truncation — the canonical GraphFrames-style
hash-min algorithm: every vertex repeatedly adopts the minimum component id
among itself and its neighbors; converges in O(component diameter) rounds
(alias clusters are tiny, so 2-4 rounds in practice).

Canonical id = lexicographic min norm_key of the component — deterministic,
independent of partitioning and parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


MAX_ITER = 25  # hash-min rounds before giving up: > any alias-cluster diameter


def connected_components(edges: DataFrame, stats: dict | None = None) -> DataFrame:
    """(src, dst) string edges -> (id, comp) with comp = min id in component.

    Vertices appearing only as singletons are NOT included — callers union
    them back with comp = own id (see assign_canonical_ids).

    Each round is ONE eager ``localCheckpoint`` of one ``groupBy(id)``; the
    count of changed labels rides that action as an ``Observation``, so
    the convergence check costs no job of its own. ``sym`` stays a lazy
    projection of ``edges`` (duplicate edges cannot change a min), and round
    1 needs no labels: it is min(id, min neighbour) straight off the edges.
    Superseded rounds are released as soon as the next one is checkpointed;
    the returned frame is backed by the last round's checkpoint, which the
    caller releases with ``session.stage_unpersist``. ``stats``, when
    given, receives ``rounds``: the number of label rounds run.
    """
    from importtoneo4j_spark.session import stage_unpersist

    # both directions from one scan of the edges (a union of the two
    # projections would scan every edge file twice per round)
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct("src", "dst"),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .filter(F.col("src") != F.col("dst"))
    )
    # round 1: every label starts as the node's own id
    step = (
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("nbr"))
        .select("id", F.least("id", "nbr").alias("comp"), F.col("id").alias("old"))
    )
    labels = None
    for rounds in range(1, MAX_ITER + 1):
        obs = Observation("cc_changed")
        nxt = step.observe(
            obs, F.sum((F.col("comp") != F.col("old")).cast("long")).alias("n")
        ).localCheckpoint()
        if labels is not None:
            stage_unpersist(labels)
        labels = nxt.select("id", "comp")
        if not obs.get["n"]:  # None on an edgeless graph
            if stats is not None:
                stats["rounds"] = rounds
            return labels
        # next round: the node's own label and its neighbours' labels, one
        # groupBy — the new label is their min, the old one rides along
        own = labels.select("id", "comp", F.col("comp").alias("old"))
        nbrs = sym.join(labels.withColumnRenamed("id", "src"), "src").select(
            F.col("dst").alias("id"), "comp", F.lit(None).alias("old")
        )
        step = (
            own.unionByName(nbrs)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"), F.max("old").alias("old"))
        )
    raise RuntimeError(f"connected_components did not converge in {MAX_ITER} iters")


def assign_canonical_ids(vocab: DataFrame, comp: DataFrame) -> DataFrame:
    """(surface, norm_key) vocab + connected_components output ->
    (surface, norm_key, canonical_id). Singleton keys canonicalize to
    themselves."""
    return vocab.join(
        comp.withColumnRenamed("id", "norm_key"), "norm_key", "left"
    ).withColumn("canonical_id", F.coalesce(F.col("comp"), F.col("norm_key"))).drop(
        "comp"
    )
