"""Engine schemas.

The primary input shape is authoritative (BASELINE.json input_hint):
transcripts(conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp).

Output shapes generalize the reference's graph model:
* nodes   — labels accumulate by set-union (reference Neo4j.java:243-253),
            properties merge first-wins (reference Neo4j.java:230-242 guard).
* triples — unique on (subj, pred, obj) after canonicalization (reference
            edge-existence guard Neo4j.java:192-194,212-229); pred may be
            generated from data (reference VariantDatabase.java:463,476).
* lineage — generalization of the reference's new-variants delta sink
            (reference VariantDatabase.java:235-263).
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# one mention-pair emission from the extraction UDF (pre-linking)
RAW_TRIPLE = T.StructType(
    [
        T.StructField("subj_surface", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj_surface", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # 'triple' | 'same_as'
        T.StructField("quality", T.FloatType(), True),
    ]
)

EXTRACTION_OUTPUT = T.ArrayType(RAW_TRIPLE)

# exploded mention/assertion table (stage: extracted)
EXTRACTED = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("subj_surface", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj_surface", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("quality", T.FloatType(), True),
    ]
)

# entity-linking output: normalized surface -> canonical id
LINKS = T.StructType(
    [
        T.StructField("norm_key", T.StringType(), False),
        T.StructField("canonical_id", T.StringType(), False),
    ]
)

NODES = T.StructType(
    [
        T.StructField("entity_id", T.StringType(), False),  # canonical id
        T.StructField("canonical_surface", T.StringType(), True),
        T.StructField("labels", T.ArrayType(T.StringType()), True),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("n_mentions", T.LongType(), True),
        T.StructField("n_surfaces", T.LongType(), True),
    ]
)

TRIPLES = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("conv_id", T.StringType(), True),  # earliest attribution
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("quality", T.FloatType(), True),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# one row per run that added triples: output_rows = the triples it added,
# checksum = their row_hash_xor (operators/materialize.py); partition_id is
# 0, input_rows and rejected_rows are null
LINEAGE = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("input_rows", T.LongType(), True),
        T.StructField("output_rows", T.LongType(), True),
        T.StructField("rejected_rows", T.LongType(), True),
        T.StructField("checksum", T.StringType(), True),
    ]
)

REJECTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("reject_reason", T.StringType(), False),
    ]
)
