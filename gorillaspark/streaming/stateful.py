"""Custom stateful streaming: per-conversation incremental latency.

Batch mode derives turn latency with a window lag; in a stream the
previous turn may live in an earlier micro-batch, so the operator keeps
per-conversation state (last seen ts/turn_idx) in the state store via
``applyInPandasWithState`` — the first turn of a later batch still gets
its latency against the remembered predecessor. This is the
"custom stateful operator" building block the rollup tiers consume in
streaming mode.

Out-of-order turns *within* state semantics: turns must arrive in
turn_idx order per conversation (the reference codec's append-only
contract, `README.adoc:150`); stragglers older than the remembered
turn_idx are dropped and counted in the emitted `dropped` column.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

LATENCY_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("ts_ms", LongType(), False),
    StructField("latency_ms", DoubleType(), True),
    StructField("dropped", IntegerType(), False),
])

STATE_SCHEMA = StructType([
    StructField("last_ts_ms", LongType(), True),
    StructField("last_turn_idx", IntegerType(), True),
])


def _update(key, pdfs: Iterable[pd.DataFrame],
            state: GroupState) -> Iterable[pd.DataFrame]:
    (conv_id,) = key
    last_ts, last_idx = state.get if state.exists else (None, -1)
    out = []
    for pdf in pdfs:
        pdf = pdf.sort_values("turn_idx")
        ts = pdf["ts_ms"].to_list()
        idx = pdf["turn_idx"].to_list()
        for t, i in zip(ts, idx):
            if i <= last_idx:
                out.append((conv_id, i, t, None, 1))  # straggler
                continue
            lat = float(t - last_ts) if last_ts is not None else None
            out.append((conv_id, i, t, lat, 0))
            last_ts, last_idx = t, i
    state.update((last_ts, int(last_idx)))
    yield pd.DataFrame(out, columns=["conv_id", "turn_idx", "ts_ms",
                                     "latency_ms", "dropped"])


def streaming_latency_points(turns: DataFrame) -> DataFrame:
    """turns(conv_id, turn_idx, ts, …) stream → incremental latency
    rows with cross-micro-batch state."""
    from pyspark.sql import functions as F

    prepared = turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"))
    return (prepared.groupBy("conv_id")
            .applyInPandasWithState(
                _update, LATENCY_SCHEMA, STATE_SCHEMA,
                "append", GroupStateTimeout.NoTimeout))
