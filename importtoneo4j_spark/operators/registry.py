"""Schema registry as data (SURVEY.md §1.1).

The reference declares its graph schema up front as two enums-as-arrays —
7 node labels and 7 relationship types, several of which the importer never
instantiates (VariantDatabase.java:33-65: the reserved Mt label, the
HAS_MT_VARIANT rel-type, ...) — so "what types exist" is answerable without
scanning the graph. This engine answers the same question with a queryable
DataFrame: every declared type (with its key constraint), every observed type
(with instance counts), and the two flags that relate them. Dynamic
rel-types (reference VariantDatabase.java:463,476 — predicate names built
from data) appear as observed-but-undeclared rows, never silently.

Registry schema::

    kind            'node_label' | 'rel_type'
    name            the label / rel-type
    key_constraint  unique-key column for declared node labels (the analog
                    of the reference's uniqueness constraints,
                    Neo4j.java:163-167), NULL otherwise
    declared        in the engine's declared vocabulary
    instantiated    at least one instance exists in the materialized graph
    n_instances     observed count (0 for reserved-but-uninstantiated)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the KG pipeline's declared vocabulary: everything the extractor/
# materializer can emit, plus reserved types kept for forward compatibility
# (declared-but-uninstantiated, the reference's Mt/HAS_MT_VARIANT pattern).
DECLARED_NODE_LABELS: list[tuple[str, str]] = [
    ("Subject", "entity_id"),
    ("Object", "entity_id"),
    ("MENTIONED_BY_USER", "entity_id"),
    ("MENTIONED_BY_ASSISTANT", "entity_id"),
    ("MENTIONED_BY_SYSTEM", "entity_id"),
    ("MENTIONED_BY_TOOL", "entity_id"),
    # reserved: declared, never created by the current extractor
    ("Document", "doc_id"),
    ("Session", "conv_id"),
]
DECLARED_REL_TYPES: list[str] = [
    # same_as evidence is consumed at linking (operators/link.py) and never
    # materialized as an edge — declared so the catalog records that fact
    "SAME_AS",
    # reserved for a future containment edge (turn -> conversation)
    "PART_OF",
]


def schema_registry(
    nodes: DataFrame,
    triples: DataFrame,
    declared_labels: list[tuple[str, str]] | None = None,
    declared_rels: list[str] | None = None,
) -> DataFrame:
    """The (declared ∪ observed) type catalog of a materialized graph.

    Two aggregations (explode labels / groupBy pred) merged with the
    declared vocabulary; output cardinality is the number of TYPES. Each
    reads its whole input once, so the pipeline stores no registry: it is
    computed on demand from the stored graph (KGPipeline.schema_registry),
    and materialize does not pay that scan on every run.
    """
    if declared_labels is None:
        declared_labels = DECLARED_NODE_LABELS
    if declared_rels is None:
        declared_rels = DECLARED_REL_TYPES
    spark = nodes.sparkSession
    # one pass over each input. The observed side is consumed exactly ONCE:
    # observed and declared rows are tagged and unioned, then merged by one
    # groupBy at TYPE cardinality (partial-aggregating, a few-row shuffle).
    # The previous shape (declared LEFT observed + observed ANTI declared)
    # consumed `obs` twice and needed a .cache() that a long-lived session
    # never released (ADVICE r3 low) — this shape needs no cache at all.
    obs = (
        nodes.select(F.explode("labels").alias("name"))
        .groupBy("name")
        .agg(F.count("*").alias("n_instances"))
        .withColumn("kind", F.lit("node_label"))
        .unionByName(
            triples.groupBy(F.col("pred").alias("name"))
            .agg(F.count("*").alias("n_instances"))
            .withColumn("kind", F.lit("rel_type"))
        )
    )
    decl_rows = [("node_label", n, k) for n, k in declared_labels] + [
        ("rel_type", r, None) for r in declared_rels
    ]
    decl = spark.createDataFrame(
        decl_rows, "kind string, name string, key_constraint string"
    )
    tagged = obs.select(
        "kind",
        "name",
        F.lit(None).cast("string").alias("key_constraint"),
        F.lit(False).alias("declared"),
        F.lit(True).alias("instantiated"),
        F.col("n_instances").cast("long").alias("n_instances"),
    ).unionByName(
        decl.select(
            "kind",
            "name",
            "key_constraint",
            F.lit(True).alias("declared"),
            F.lit(False).alias("instantiated"),
            F.lit(0).cast("long").alias("n_instances"),
        )
    )
    # max() merges the (at most two) rows per type: max over a nullable
    # string keeps the declared key_constraint, max over booleans is OR,
    # max over counts keeps the observed count (declared rows carry 0)
    return tagged.groupBy("kind", "name").agg(
        F.max("key_constraint").alias("key_constraint"),
        F.max("declared").alias("declared"),
        F.max("instantiated").alias("instantiated"),
        F.max("n_instances").alias("n_instances"),
    )
