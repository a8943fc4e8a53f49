"""Transcript source: read, validate, quarantine.

Mirrors the reference's ingest discipline:
* record filter F1 + warn-and-skip F3 (VariantDatabase.java:178,189-192):
  invalid rows are split into a quarantine DataFrame with a reject_reason —
  never silently dropped, never a crash.
* fail-fast F4 (VariantDatabase.java:193-195): structural violations
  (duplicate (conv_id, turn_idx)) raise in the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from importtoneo4j_spark.functions.text import nullify_sentinels
from importtoneo4j_spark.schemas import TRANSCRIPTS


def read_transcripts(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """Read transcripts with the authoritative schema enforced.

    ``fmt``: 'parquet' (default for paths), 'json' (JSON-lines), 'csv'
    (with header), or 'table' (catalog name — the default when ``path``
    has no '/'). Every format goes through the same schema enforcement
    and the same downstream quarantine (tag_rejects), so a malformed
    JSONL/CSV row becomes a typed NULL -> reject_reason, never a crash —
    the reference's warn-and-skip discipline regardless of wire format
    (VariantDatabase.java:189-192)."""
    if fmt is None:
        fmt = "table" if "/" not in path else "parquet"
    if fmt == "table":
        df = spark.read.table(path)
    elif fmt == "parquet":
        df = spark.read.schema(TRANSCRIPTS).parquet(path)
    elif fmt == "json":
        df = spark.read.schema(TRANSCRIPTS).json(path)
    elif fmt == "csv":
        df = (
            spark.read.schema(TRANSCRIPTS)
            .option("header", "true")
            .csv(path)
        )
    else:
        raise ValueError(f"unknown transcripts format: {fmt}")
    return df.select(
        F.col("conv_id").cast("string"),
        F.col("turn_idx").cast("int"),
        F.col("role").cast("string"),
        F.col("text").cast("string"),
        F.col("tool").cast("string"),
        F.col("ts").cast("timestamp"),
    )


def tag_rejects(df: DataFrame) -> DataFrame:
    """Attach ``reject_reason`` (NULL = valid row).

    Reject reasons (warn-and-skip semantics, VariantDatabase.java:189-192):
      null_conv_id, null_turn_idx, negative_turn_idx, null_or_sentinel_text.
    """
    reason = (
        F.when(F.col("conv_id").isNull(), "null_conv_id")
        .when(F.col("turn_idx").isNull(), "null_turn_idx")
        .when(F.col("turn_idx") < 0, "negative_turn_idx")
        .when(nullify_sentinels(F.col("text")).isNull(), "null_or_sentinel_text")
    )
    return df.withColumn("reject_reason", reason)


def keyless_key() -> Column:
    """The watermark key of a turn without a conversation or turn number
    (null for a keyed turn): xxhash64 of its six input columns, kept in a
    column of its own, so it never equals a conv_id."""
    return F.when(
        F.col("conv_id").isNull() | F.col("turn_idx").isNull(),
        F.xxhash64(*TRANSCRIPTS.fieldNames()),
    )


def split_valid_rejects(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split into (valid, rejects-with-reason). NOTE: each returned frame
    re-scans the input when actioned separately — the batch pipeline instead
    writes ONE validity-partitioned table (stage_ingest), which is the
    single-input-scan form; this helper remains for streaming micro-batches
    (already in memory) and tests."""
    tagged = tag_rejects(df)
    valid = tagged.filter(F.col("reject_reason").isNull()).drop("reject_reason")
    rejects = tagged.filter(F.col("reject_reason").isNotNull()).select(
        "conv_id", "turn_idx", "reject_reason"
    )
    return valid, rejects


def assert_unique_turns(df: DataFrame) -> None:
    """Fail-fast structural check: (conv_id, turn_idx) must be unique —
    the analog of the reference's uniqueness-constraint abort
    (Main.java:73-76, Neo4j.java:163-167)."""
    row = (
        df.groupBy("conv_id", "turn_idx")
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .first()  # one job: first() on the limited plan, no separate count
    )
    if row is not None:
        raise ValueError(
            f"duplicate (conv_id, turn_idx): ({row['conv_id']}, {row['turn_idx']})"
        )


def flag_duplicate_turns(df: DataFrame) -> DataFrame:
    """Attach ``_dup`` to a reject-TAGGED frame: 1 on a valid row whose
    (conv_id, turn_idx) another valid row shares, else 0. One window over
    (conv_id, turn_idx) that counts the valid rows, computed in the same
    single pass that writes the ingest table (one input scan total — a
    separate check costs a second full read of the corpus at 100 TB)."""
    ok = F.col("reject_reason").isNull()
    n_valid = F.sum(ok.cast("int")).over(Window.partitionBy("conv_id", "turn_idx"))
    return df.withColumn("_dup", (ok & (n_valid > 1)).cast("int"))
