"""Deterministic synthetic multi-turn transcript generator.

Produces the engine's input table (BASELINE.json input_hint):
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` — generated *distributed* (spark.range → hash-derived
columns; no driver-side data), so the same generator scales from the
200-conversation pytest fixture to bench corpora with millions of
turns. Seeded and wall-clock-free (FIXTURES.md).

Skew: conv_id ``conv000000`` receives ~50% of all turns (the hot-key
fixture for skew/AQE tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the willItBlend block timestamp — fixed epoch base (2017-07-18T18:00Z)
EPOCH_BASE_MS = 1_500_400_800_000

_ROLES = "array('user','assistant','assistant','tool','system')"
_TOOLS = "array('search','exec','browse','fetch')"


def _hash01(*cols) -> F.Column:
    """Deterministic uniform (0,1] from columns (xxhash64-based)."""
    h = F.xxhash64(*cols)
    return (F.pmod(h, F.lit(1_000_003)) + F.lit(1)) / F.lit(1_000_004.0)


def generate_transcripts(spark: SparkSession, n_conv: int = 200,
                         mean_turns: int = 120, seed: int = 42,
                         hot_share: float = 0.5) -> DataFrame:
    """Build the transcripts DataFrame.

    Turn counts: conv 0 is hot (≈ ``hot_share`` of all turns); others
    draw 5..2*mean_turns deterministically. Timestamps: per-conv start
    offset within 30 days of the epoch base, per-turn gaps ≈ Exp(10 s)
    with millisecond jitter via inverse-transform on a hash uniform,
    accumulated with a per-conv running sum (strictly increasing).
    """
    normal_total = (n_conv - 1) * mean_turns
    hot_turns = int(normal_total * hot_share / max(1e-9, 1 - hot_share))

    convs = (
        spark.range(n_conv)
        .withColumn("conv_id", F.format_string("conv%06d", F.col("id")))
        .withColumn(
            "n_turns",
            F.when(F.col("id") == 0, F.lit(max(hot_turns, 1))).otherwise(
                (F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(2 * mean_turns - 4))
                 + F.lit(5)).cast("int")))
        .withColumn(
            "conv_start_ms",
            F.lit(EPOCH_BASE_MS)
            + F.pmod(F.xxhash64("id", F.lit(seed + 1)),
                     F.lit(30 * 86_400_000)))
    )
    turns = convs.select(
        "conv_id", "conv_start_ms",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"))

    u = _hash01("conv_id", "turn_idx", F.lit(seed + 2))
    gap_ms = (-F.log(u) * 10_000.0 + 1.0).cast("long")  # Exp(mean 10 s), ≥1ms
    w = F.expr(
        "sum(gap_ms) over (partition by conv_id order by turn_idx "
        "rows between unbounded preceding and current row)")

    role_pick = F.element_at(
        F.expr(_ROLES),
        (F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(seed + 3)), F.lit(5))
         + F.lit(1)).cast("int"))
    tool_pick = F.element_at(
        F.expr(_TOOLS),
        (F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(seed + 4)), F.lit(4))
         + F.lit(1)).cast("int"))
    # deterministic pseudo-text, 5..~500 chars, byte-stable
    text = F.substring(
        F.repeat(F.concat(F.lit("t"),
                          F.hex(F.xxhash64("conv_id", "turn_idx",
                                           F.lit(seed + 5))),
                          F.lit(" ")), 30),
        1,
        (F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(seed + 6)),
                F.lit(496)) + F.lit(5)).cast("int"))

    return (
        turns
        .withColumn("gap_ms", gap_ms)
        .withColumn("off_ms", w)
        .select(
            "conv_id",
            F.col("turn_idx").cast("int").alias("turn_idx"),
            role_pick.alias("role"),
            text.alias("text"),
            F.when(role_pick == "tool", tool_pick).alias("tool"),
            F.timestamp_millis(F.col("conv_start_ms") + F.col("off_ms"))
             .alias("ts"),
        )
    )


def write_transcripts(spark: SparkSession, path: str, **kw) -> None:
    """Materialize the generator to parquet (partitioned for scan tests)."""
    generate_transcripts(spark, **kw).write.mode("overwrite").parquet(path)
