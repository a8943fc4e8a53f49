"""importtoneo4j_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the capabilities of mcgml/ImportToNeo4j.

The reference (/root/reference, Java 8 + embedded Neo4j) builds a labeled
property graph from a record stream one node/edge at a time inside per-call
transactions (Neo4j.java:96-115,190-211).  This engine re-expresses the same
semantics as distributed set algebra over DataFrames:

* record stream            -> transcripts DataFrame (conv_id, turn_idx, role,
                              text, tool, ts)                     [sources/]
* per-record extraction    -> JVM regexp_extract_all fan-out      [operators/extract]
* MERGE on natural key     -> dedup + anti-join vs snapshot       [operators/merge]
* exact-key node identity  -> normalization + MinHash-LSH linking [operators/link]
* uniqueness constraints   -> hash-min connected components       [operators/canonicalize]
* per-call transactions    -> per-stage checkpointed tables       [plans/pipeline]
* delta VCF sink           -> lineage manifests + run_id idempotency
                                                                  [operators/materialize]
"""

__version__ = "0.1.0"
