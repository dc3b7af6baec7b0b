"""Tiered continuous aggregates (1m → 1h → 1d) over series points.

Pure Catalyst: tumbling windows via ``F.window``, exact p95 via
``F.percentile`` (Spark ≥ 3.5, not percentile_approx — the oracle
comparison is exact). Higher tiers recombine cnt/sum/min/max from the
tier below (a ~60×/24× reduction each, so the extra shuffles are
cheap); avg is re-derived as sum/cnt; EXACT p95 is NOT mergeable
across buckets, so each tier's exact p95 is recomputed from raw
points — a pruned two-column scan that Catalyst pushes down
(documented policy, SURVEY.md §7.4). At 100 TB prefer the mergeable
sketch tier (operators/sketch.py: DDSketch-style log-binned p95 with
relative error ≤ 1%) — it cascades by summing bin counts and never
re-reads raw above the fine tier.

Percentile-at-scale policy: exact ``F.percentile`` buffers a group's
values, which is safe exactly where this engine uses it — bucketed
groups are time-bounded (a series-minute/hour/day holds at most the
series' cadence × span), so even the hottest conversation cannot make
a bucket group unbounded. Whole-series percentiles over unbounded
history (no bucket in the key) are the one skew-unsafe shape: there
use ``percentile_approx`` (t-digest, mergeable, salting-compatible)
and accept its documented error, or bucket first and cascade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TIERS = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}


def _bucket(points: DataFrame, span: str) -> DataFrame:
    return points.withColumn(
        "bucket", F.window(F.timestamp_millis("ts_ms"), span)["start"])


def rollup_tier(points: DataFrame, tier: str = "1m") -> DataFrame:
    """count/sum/avg/min/max/exact-p95 per (series_key, bucket)."""
    span = TIERS[tier]
    out = _bucket(points, span).groupBy("series_key", "bucket").agg(
        F.count("value").alias("cnt"),
        F.sum("value").alias("sum"),
        F.avg("value").alias("avg"),
        F.min("value").alias("min"),
        F.max("value").alias("max"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    return out.select("series_key", "bucket", "cnt", "sum", "avg",
                      "min", "max", "p95").withColumn("tier", F.lit(tier))


def rollup_from_lower(lower: DataFrame, tier: str,
                      p95_source: DataFrame | None = None,
                      p95_sketch: DataFrame | None = None,
                      p95_alpha: float | None = None) -> DataFrame:
    """Cascade a coarser tier from a finer one.

    cnt/sum/min/max recombine exactly; avg = sum/cnt. Exact p95 is not
    mergeable, so the p95 column has three modes:

    * ``p95_source`` (raw points) — exact p95 via a pruned two-column
      re-read; correct but re-scans raw at every tier;
    * ``p95_sketch`` (a fine-tier DDSketch from
      :func:`gorillaspark.operators.sketch.dd_sketch_tier`) — the
      100 TB path: the sketch is MERGED up to ``tier`` by summing bin
      counts (no raw re-read) and p95 is extracted with the sketch's
      ≤ alpha relative-error bound. ``p95_alpha`` MUST match the
      alpha the sketch was built with (defaults to the module
      default) — bins are meaningless under a different gamma;
    * neither — the column is NULL (documented as non-mergeable).
    """
    span = TIERS[tier]
    up = (
        lower
        .withColumn("bucket", F.window("bucket", span)["start"])
        .groupBy("series_key", "bucket")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum").alias("sum"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
        )
        .withColumn("avg", F.col("sum") / F.col("cnt"))
    )
    if p95_source is not None:
        p95 = (
            _bucket(p95_source, span)
            .groupBy("series_key", "bucket")
            .agg(F.percentile("value", F.lit(0.95)).alias("p95"))
        )
        up = up.join(p95, ["series_key", "bucket"], "left")
    elif p95_sketch is not None:
        from .sketch import (DEFAULT_ALPHA, dd_sketch_cascade,
                             dd_sketch_quantile)
        alpha = DEFAULT_ALPHA if p95_alpha is None else p95_alpha
        q = dd_sketch_quantile(dd_sketch_cascade(p95_sketch, tier),
                               alpha=alpha) \
            .select("series_key",
                    F.timestamp_millis("bucket_ms").alias("bucket"),
                    "p95")
        up = up.join(q, ["series_key", "bucket"], "left")
    else:
        up = up.withColumn("p95", F.lit(None).cast("double"))
    return up.select("series_key", "bucket", "cnt", "sum", "avg",
                     "min", "max", "p95").withColumn("tier", F.lit(tier))


def role_rates(transcripts: DataFrame, span: str = "1 minute") -> DataFrame:
    """Per-role message counts per tumbling window (north-star metric)."""
    return (
        transcripts
        .groupBy(F.window("ts", span)["start"].alias("bucket"), "role")
        .agg(F.count(F.lit(1)).alias("messages"))
    )


def tool_rates(transcripts: DataFrame, span: str = "1 minute") -> DataFrame:
    """Per-tool call counts per tumbling window (tool turns only)."""
    return (
        transcripts.where(F.col("tool").isNotNull())
        .groupBy(F.window("ts", span)["start"].alias("bucket"), "tool")
        .agg(F.count(F.lit(1)).alias("calls"))
    )
