"""Watermarked stream-stream joins (round 4).

The reference is batch-only; this completes the engine's streaming surface
(windows + incremental extraction + this): correlating
two live streams — e.g. user turns with the assistant/tool turns that
answer them — without unbounded state.

Spark-first shape: both sides carry watermarks and the join condition
carries a time bound, so the state store can expire rows once the other
side's watermark passes their bound — the textbook requirement for a
stream-stream inner join to run with bounded state. Without the time
bound Spark would have to keep EVERY past row of both streams forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "r_ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Inner-join two (possibly streaming) DataFrames on ``key`` where the
    right row's timestamp lies in [left_ts, left_ts + within] — the
    "response within the next hour" correlation. Right-side columns must
    already be disjoint from left's (rename before calling; ``right_ts``
    names the right timestamp column).

    State bound: each side expires once the other watermark passes
    ts + within. The same expression runs as a plain batch join when both
    inputs are static (the batch-parity test drives both)."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[f"_r_{key}"])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond)


def with_right_prefix(df: DataFrame, key: str, ts: str = "ts") -> DataFrame:
    """Prefix helper: rename the join key to _r_<key> and the timestamp to
    r_ts, keeping the remaining columns r_-prefixed, so the joined output
    has no ambiguous names."""
    renamed = df
    for c in df.columns:
        if c == key:
            renamed = renamed.withColumnRenamed(c, f"_r_{key}")
        elif c == ts:
            renamed = renamed.withColumnRenamed(c, "r_ts")
        else:
            renamed = renamed.withColumnRenamed(c, f"r_{c}")
    return renamed
