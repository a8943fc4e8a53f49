"""Incremental ingest via Structured Streaming.

The reference is strictly batch (Main.java:22-88); its incremental story is
"re-run append with MERGE" (Main.java:73-76). This module provides the
streaming equivalent for continuous transcript arrival: a file-source stream
over the transcripts directory, the same JVM regex extraction, and a
foreachBatch sink made idempotent per epoch: foreachBatch gives
at-least-once delivery, so the sink partitions the output by epoch_id and
overwrites ONLY its own epoch partition (dynamic partition overwrite) — a
retried micro-batch replaces its previous, possibly partial, output instead
of appending duplicates. Rejects are quarantined the same way, never
dropped (warn-and-skip F3, VariantDatabase.java:189-192).

Linking/canonicalization stay batch (they are global fixpoints); streaming
handles the extract stage, and a periodic batch re-canonicalization folds
the accumulated assertions in — the lambda-architecture split the
reference's staged import.sh design implies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from importtoneo4j_spark.operators.extract import extract_assertions
from importtoneo4j_spark.schemas import TRANSCRIPTS
from importtoneo4j_spark.sources.transcripts import split_valid_rejects


def make_process_batch(output_dir: str, rejects_dir: str):
    """The foreachBatch body, exposed for retry testing: exactly-once per
    epoch via dynamic partition overwrite of the epoch's own partition."""

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        valid, rejects = split_valid_rejects(batch_df)
        extracted = extract_assertions(valid)
        for df, dest in ((extracted, output_dir), (rejects, rejects_dir)):
            (
                df.withColumn("epoch", F.lit(int(epoch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch")
                .parquet(dest)
            )

    return process_batch


def incremental_extract_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    rejects_dir: str | None = None,
    trigger_once: bool = True,
):
    """Start a streaming extraction job; returns the StreamingQuery.

    File source with checkpointed offsets + per-epoch idempotent parquet
    sink: exactly-once per input file AND per micro-batch retry (the
    streaming analog of exactly-once per analysisId)."""
    stream = (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    writer = stream.writeStream.foreachBatch(
        make_process_batch(output_dir, rejects_dir or f"{output_dir}_rejects")
    ).option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
