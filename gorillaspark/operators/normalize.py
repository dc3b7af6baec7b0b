"""Transcript normalization: stable turn ordering, per-turn metric
derivation, and the (series_key, ts_ms, value) point layout that feeds
the Gorilla encode stage.

All stock Catalyst operators (window lag, projections) — filters and
column pruning push down to the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

def turn_order() -> Window:
    """Stable per-conversation ordering (the input_hint invariant)."""
    return Window.partitionBy("conv_id").orderBy("turn_idx")


def with_turn_latency(transcripts: DataFrame) -> DataFrame:
    """Stable (conv_id, turn_idx) ordering + latency_ms = ts - lag(ts).

    First turn of each conversation has NULL latency (no predecessor).
    """
    ts_ms = F.unix_millis("ts")
    return transcripts.withColumn(
        "latency_ms", (ts_ms - F.lag(ts_ms).over(turn_order())).cast("double"))


def turn_latency_points(transcripts: DataFrame) -> DataFrame:
    """Series points for the latency metric: one series per conv_id."""
    return (
        with_turn_latency(transcripts)
        .where(F.col("latency_ms").isNotNull())
        .select(
            F.col("conv_id").alias("series_key"),
            F.unix_millis("ts").alias("ts_ms"),
            F.col("latency_ms").alias("value"),
        )
    )


def validate_points(points: DataFrame) -> DataFrame:
    """Ingest-time guards for the codec's representational limits
    (SURVEY.md §1.2): ts must be positive (ts==0 is the
    "no value yet" sentinel on both reference sides) and the first
    delta must stay below 2^27-1 — guaranteed here by day-aligned
    blocks, so the only hard filter is ts_ms > 0.
    """
    return points.where(F.col("ts_ms") > 0)


def block_key(ts_ms: Column | str = "ts_ms") -> Column:
    """Day-aligned block reference timestamp (epoch millis).

    Day alignment keeps every first-delta < 86,400,000 < 2^27-1, the
    reference's 27-bit first-delta budget (`GorillaCompressor.java:18`,
    `README.adoc:145-146`).
    """
    c = F.col(ts_ms) if isinstance(ts_ms, str) else ts_ms
    return (c - F.pmod(c, F.lit(86_400_000))).alias("block_ts")
