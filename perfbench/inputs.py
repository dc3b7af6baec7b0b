"""Seeded benchmark inputs built from the program's own generator.

``generate_transcripts`` spreads conversation starts over 30 days at a
natural density. The benchmark packs that spread into a few UTC days by
shifting each *whole* conversation by a whole number of days (turn order
within a conversation is untouched), then slices off what falls outside
the window. The hot conversation stays on: its share is sized so that it
spans the packed window at the generator's ~10 s mean turn gap. The
``text`` column is not written: no workload reads it, and writing it
would double the set-up time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gorillaspark.sources.transcripts import EPOCH_BASE_MS, generate_transcripts

DAY_MS = 86_400_000
BASE_DAY = EPOCH_BASE_MS // DAY_MS          # first UTC day of the spread
HOT_TURNS_PER_DAY = 8_640                   # 86 400 s / 10 s mean gap


def packed_transcripts(spark: SparkSession, seed: int, n_conv: int,
                       mean_turns: int, n_days: int,
                       hours: int | None = None) -> DataFrame:
    """Transcripts whose conversations start within ``n_days`` UTC days
    from ``BASE_DAY``; turns past the window (``n_days`` days, or the
    first ``hours`` hours) are sliced off."""
    end_ms = BASE_DAY * DAY_MS + (hours or 24 * n_days) * 3_600_000
    normal = (n_conv - 1) * mean_turns
    hot = HOT_TURNS_PER_DAY * n_days
    tx = generate_transcripts(spark, n_conv=n_conv, mean_turns=mean_turns,
                              seed=seed, hot_share=hot / (normal + hot))
    start_day = F.floor(F.min(F.unix_millis("ts")).over(
        Window.partitionBy("conv_id")) / DAY_MS)
    rel = start_day - F.lit(BASE_DAY)
    shift_ms = (rel - F.pmod(rel, F.lit(n_days))) * F.lit(DAY_MS)
    return (tx.withColumn("_ts", F.unix_millis("ts") - shift_ms)
            .where(F.col("_ts") < F.lit(end_ms))
            .select("conv_id", "turn_idx", "role", "tool",
                    F.timestamp_millis("_ts").alias("ts")))


def day_str(day: int) -> str:
    """UTC day number → the ``yyyy-MM-dd`` unit name ``rollup_job`` uses."""
    import datetime as dt
    return (dt.date(1970, 1, 1) + dt.timedelta(days=day)).isoformat()
