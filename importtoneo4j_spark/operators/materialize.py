"""Graph materialization: canonical triples + nodes + their checksum.

Replaces the reference's per-call-transaction graph sink (Neo4j.addNode
Neo4j.java:96-115, createRelationship :190-211 with the hasRelationship
existence guard :192-194,212-229) with set-oriented writes:

* triples — canonical (subj, pred, obj) unique after first-wins dedup; the
  earliest (conv_id, turn_idx) attribution and its quality survive, matching
  the reference's first-writer-wins and edge-uniqueness semantics.
* nodes   — one row per canonical entity; canonical_surface = first surface
  form seen in stream order; labels = set-union of classification rules.
* lineage — written by the pipeline (plans/pipeline.py), one row per run:
  the triples it added, counted and checksummed by ``row_hash_xor`` (an
  order-insensitive bit_xor of row hashes), like the reference's
  new-variants delta sink (VariantDatabase.java:235-263).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from importtoneo4j_spark.operators.merge import first_wins

# Materialized-layout knobs — the distributed analog of the reference's
# index-before-load (Main.java:69, VariantDatabase.java:96-111): triples are
# written partitioned by pred (bounded rel-type vocabulary -> rel-type scans
# prune partitions) and nodes by a stable hash bucket of entity_id (point
# lookups prune to 1/NODE_BUCKETS of the files).
NODE_BUCKETS = 32


def node_bucket(entity_id: Column) -> Column:
    """Stable partition bucket for a node key. Must be the same expression
    at write time (pipeline) and lookup time (GraphView) — xxhash64 is
    deterministic and foldable on literals, so Catalyst turns the lookup
    into a partition filter."""
    return F.pmod(F.xxhash64(entity_id), F.lit(NODE_BUCKETS))


def canonical_triples(extracted: DataFrame, links: DataFrame) -> DataFrame:
    """extracted assertions + (surface -> canonical_id) links -> triples.

    Two equi-joins map both mention positions to canonical ids. The join
    strategy is deliberately left to AQE: the links table is the distinct
    surface vocabulary, which at 10^12 turns is plausibly 10^8-10^9 rows —
    an unconditional broadcast hint would OOM executors there, while AQE
    picks broadcast-hash from the *measured* runtime size whenever the
    vocabulary really is small (verified in tests/test_plans.py and
    bench_inflated_vocab.py at >=10^6 surfaces). Then a first-wins dedup on
    (subj, pred, obj) keeps the earliest attribution.
    """
    l_subj = links.select(
        F.col("surface").alias("subj_surface"), F.col("canonical_id").alias("subj")
    )
    l_obj = links.select(
        F.col("surface").alias("obj_surface"), F.col("canonical_id").alias("obj")
    )
    mapped = (
        extracted.filter(F.col("kind") == "triple")
        .join(l_subj, "subj_surface")
        .join(l_obj, "obj_surface")
        .select(
            "subj",
            "pred",
            "obj",
            "conv_id",
            "turn_idx",
            F.col("quality").cast("float").alias("quality"),
            "role",
        )
    )
    deduped = first_wins(
        mapped,
        keys=["subj", "pred", "obj"],
        order_by=["conv_id", "turn_idx"],
        payload=["quality", "role"],
        salt_buckets=1,  # (subj,pred,obj) is fine-grained and min(struct)
        # partial-aggregates map-side; two-phase salting would double the
        # shuffle volume for no skew benefit here
    )
    return deduped.select(
        "subj",
        "pred",
        "obj",
        "conv_id",
        "turn_idx",
        "quality",
        F.create_map(F.lit("source_role"), F.col("role")).alias("properties"),
    )


def entity_mentions(extracted: DataFrame, links: DataFrame) -> DataFrame:
    """Every subject and object mention of the extracted triples with the
    canonical_id its surface links to: what ``canonical_nodes`` aggregates,
    and (by ``node_bucket(canonical_id)``) the node buckets a delta
    touches. The join strategy is AQE-chosen (see canonical_triples)."""
    t = extracted.filter(F.col("kind") == "triple")
    subj, obj = (
        t.select(
            F.col(c).alias("surface"), "conv_id", "turn_idx", F.lit(p).alias("pos_label"), "role"
        )
        for c, p in (("subj_surface", "Subject"), ("obj_surface", "Object"))
    )
    return subj.unionByName(obj).join(links, "surface")


def canonical_nodes(extracted: DataFrame, links: DataFrame) -> DataFrame:
    """Canonical entity nodes with first-wins surface + label set-union.

    Labels classify by mention position and role — the analog of the
    reference's chromosome/Snp/Indel label rules
    (VariantDatabase.java:296-305), a total classification (no crashing MT
    branch — SURVEY.md §2.8 C9 quirk intentionally not replicated).

    One fused aggregation per canonical id: min(struct) first-wins,
    collect_set label-union and count all have partial (map-side) merge, so
    the hot entity's mentions pre-combine inside each map task before the
    single shuffle — the skew never reaches one reducer un-reduced.
    n_surfaces counts the canonical id's rows of the vocabulary-sized
    links table, which holds each surface once (a run appends only the
    surfaces the stored vocabulary lacks; ``entity_mentions`` relies on the
    same, or n_mentions would double): one aggregate, not a mention-scale
    or two-shuffle countDistinct.
    """
    role_label = F.concat(F.lit("MENTIONED_BY_"), F.upper(F.col("role")))
    agg = entity_mentions(extracted, links).groupBy("canonical_id").agg(
        F.min(F.struct("conv_id", "turn_idx", "surface")).alias("_first"),
        F.array_sort(
            F.array_distinct(
                F.flatten(F.collect_set(F.array(F.col("pos_label"), role_label)))
            )
        ).alias("labels"),
        F.count("*").alias("n_mentions"),
    )
    n_surfaces = links.groupBy("canonical_id").agg(F.count("*").alias("n_surfaces"))
    return agg.join(n_surfaces, "canonical_id").select(
        F.col("canonical_id").alias("entity_id"),
        F.col("_first.surface").alias("canonical_surface"),
        "labels",
        F.create_map(
            F.lit("first_conv_id"),
            F.col("_first.conv_id"),
            F.lit("first_turn_idx"),
            F.col("_first.turn_idx").cast("string"),
        ).alias("properties"),
        "n_mentions",
        "n_surfaces",
    )


def row_hash_xor(cols: list[str]) -> Column:
    """bit_xor of xxhash64 over the string casts of ``cols``: an
    aggregate checksum that ignores row order and partitioning, and whose
    value over disjoint parts xors to its value over their union."""
    casts = ", ".join(f"cast({c} as string)" for c in cols)
    return F.expr(f"bit_xor(xxhash64({casts}))")
