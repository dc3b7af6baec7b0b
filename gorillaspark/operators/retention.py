"""Retention tiers: age out raw points and fine-grained rollups.

Policy model (the classic downsample-retention ladder):

    raw points      keep  R_raw   (e.g. 7 days)
    1m rollups      keep  R_1m    (e.g. 30 days)
    1h rollups      keep  R_1h    (e.g. 1 year)
    1d rollups      keep  forever

Two forms: :func:`apply_retention` is the logical filter (the rows of a
tier the policy keeps), and :func:`retention_sweep` is the physical
sweep on a ParquetTableIO table. The sweep drops whole snapshots by
their commit time and rewrites nothing, so data whose own time is past
the cutoff survives when it was committed recently (a backfill).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class RetentionPolicy:
    keep_ms: dict[str, int] = field(default_factory=lambda: {
        "raw": 7 * 86_400_000,
        "1m": 30 * 86_400_000,
        "1h": 365 * 86_400_000,
        "1d": 1 << 62,
    })

    def cutoff(self, tier: str, now_ms: int) -> int:
        return now_ms - self.keep_ms[tier]


def apply_retention(df: DataFrame, tier: str, now_ms: int,
                    policy: RetentionPolicy | None = None,
                    bucket_col: str = "bucket") -> DataFrame:
    """Logical retention filter for a tier: keeps rows whose bucket is
    at or after the tier's cutoff. It pushes down to partition pruning
    on read paths.
    """
    policy = policy or RetentionPolicy()
    cut = policy.cutoff(tier, now_ms)
    col = F.col(bucket_col)
    if dict(df.dtypes).get(bucket_col) in ("timestamp", "timestamp_ntz"):
        col = F.unix_millis(col.cast("timestamp"))
    return df.where(col >= F.lit(cut))


def retention_sweep(io, table: str, tier: str, now_ms: int,
                    policy: RetentionPolicy | None = None) -> int:
    """Physical retention on a ParquetTableIO table: drop the snapshots
    committed before the tier's cutoff, rewrite none. Returns the
    number of snapshots dropped."""
    policy = policy or RetentionPolicy()
    return io.delete_snapshots_before(table, policy.cutoff(tier, now_ms))
