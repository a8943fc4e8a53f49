"""Conversation-metadata side input — the analog of the reference's
##SAMPLE header lines and the enrichment pre-stage.

Reference parity:
* header k=v scan -> a small dimension DataFrame (VariantDatabase.java:119-127
  parses `##SAMPLE=<k=v,...>`; here conv_meta rows)
* composite natural key: analysis_id = worklist_id + "_" + conv_id + "_" +
  run_id (VariantDatabase.java:140 pattern)
* enrichment pre-stage joining metadata into the record stream
  (addSampleMetaDataToVCF.sh:19-33) -> broadcast join
* duplicate-analysis rejection (Main.java:73-76: ConstraintViolation -> abort)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from importtoneo4j_spark.operators.merge import assert_unique


def reject_duplicate_analyses(meta: DataFrame) -> None:
    """Exactly-once per analysis_id — abort on duplicates (Main.java:73-76)."""
    assert_unique(meta, ["analysis_id"], what="analysis_id")


def enrich_transcripts(transcripts: DataFrame, meta: DataFrame) -> DataFrame:
    """Join the per-conversation dimension onto the turn stream — the set
    form of the reference's in-memory runInfoNodes cache
    (VariantDatabase.java:29,158).

    The dimension is conversations-sized (~1/40 of turns), which is small
    for one import batch but NOT guaranteed broadcastable at 10^12 turns
    (10^10 convs ~ 1 TB); the strategy is left to AQE, which broadcasts
    from the measured runtime size when the dim really is small."""
    dim = meta.select(
        "conv_id", "channel", "worklist_id", "run_id", "analysis_id",
        F.col("pipeline_version").cast("int").alias("pipeline_version"),
    )
    return transcripts.join(dim, "conv_id", "left")
