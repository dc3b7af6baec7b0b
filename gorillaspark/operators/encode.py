"""Spark operators for Gorilla block encode/decode.

Scale design (SURVEY.md §3.4/§4.3):

* one shuffle lays points out for encoding:
  ``repartition(series_key, block_ts)`` co-locates every block, then
  ``sortWithinPartitions`` orders points inside each block;
* the encode UDF is ``mapInArrow`` — NOT per-group ``applyInPandas``
  (realistic blocks are 50–500 points and per-group UDF dispatch would
  dominate) and not pandas (string keys would materialize as Python
  objects); each Arrow batch goes to the codec entry
  (:func:`gorillaspark.codec.vector.encode_blocks_fast`, which picks
  the kernel for the predictor) in ONE call. A block whose points
  straddle two Arrow batches is carried over between batches inside
  the same partition iterator, so correctness never depends on batch
  boundaries;
* block size is naturally bounded: day-aligned ``block_ts`` caps a
  block at one conv-day, so no salting is needed here (hot conv_ids
  split across days); skew is handled at the rollup/aggregation stage;
* decode is the mirror image: blocks → points via one entry call per
  batch (per run of equal predictors, should a batch mix them),
  exploded back to rows JVM-side by the Arrow return.

Value transparency: double metrics travel as raw IEEE-754 bits through
the codec (NaN payloads / -0.0 / subnormals round-trip bit-exactly,
reference `Pair.java:21-23` semantics).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..codec.vector import decode_blocks_fast, encode_blocks_fast

BLOCK_SCHEMA = StructType([
    StructField("series_key", StringType(), False),
    StructField("block_ts", LongType(), False),
    StructField("n_points", IntegerType(), False),
    StructField("value_kind", StringType(), False),
    StructField("predictor", StringType(), False),
    StructField("words", ArrayType(LongType(), False), False),
])

POINT_SCHEMA_BITS = StructType([
    StructField("series_key", StringType(), False),
    StructField("ts_ms", LongType(), False),
    StructField("value", LongType(), False),   # raw 64-bit pattern
])

POINT_SCHEMA_DOUBLE = StructType([
    StructField("series_key", StringType(), False),
    StructField("ts_ms", LongType(), False),
    StructField("value", DoubleType(), False),
])


_DAY_MS = 86_400_000


def _day_align(ts: "np.ndarray") -> "np.ndarray":
    """Day-aligned block_ts derived worker-side from ts — the column
    never travels through the shuffle or the Arrow boundary (numpy %
    matches Spark pmod for negatives: result carries the divisor
    sign). Must stay in lockstep with normalize.block_key."""
    return ts - (ts % _DAY_MS)


def _encode_table(tbl: "pa.Table", value_kind: str,
                  predictor: str = "last_value") -> "pa.RecordBatch":
    """Encode one already-sorted Arrow table: group boundaries from the
    (series_key, day(ts)) change points, one codec-entry call.
    Strings never materialize as Python objects; the words column is a
    zero-copy ListArray over the kernel's output buffer."""
    import pyarrow as pa

    tbl = tbl.combine_chunks()
    keys = tbl.column("series_key").chunk(0)
    vcol = tbl.column("value").chunk(0)
    if vcol.null_count or tbl.column("ts_ms").chunk(0).null_count:
        raise ValueError(
            "encode_points received NULL ts/value rows — the Gorilla "
            "format has no missing-value representation (validate or "
            "gap-fill upstream; note pandas NaN converts to Arrow null: "
            "true NaN doubles are fine, nulls are not)")
    ts = tbl.column("ts_ms").chunk(0).to_numpy()
    bts = _day_align(ts)
    vals = vcol.to_numpy()
    if vals.dtype == np.float64:
        vals = vals.view(np.uint64)
    else:
        vals = vals.astype(np.int64).view(np.uint64)
    n = len(ts)
    # group change points: block_ts change is numpy; key change via
    # Arrow C-side compare of the shifted-by-one slices
    change = np.empty(n, dtype=bool)
    change[0] = True
    if n > 1:
        change[1:] = bts[1:] != bts[:-1]
        key_neq = pc.not_equal(keys.slice(1), keys.slice(0, n - 1))
        change[1:] |= key_neq.to_numpy(zero_copy_only=False)
    starts = np.flatnonzero(change)
    offsets = np.empty(starts.shape[0] + 1, dtype=np.int64)
    offsets[:-1] = starts
    offsets[-1] = n
    words, wc = encode_blocks_fast(bts[starts], offsets, ts, vals,
                                   predictor)
    list_offsets = np.zeros(len(wc) + 1, dtype=np.int64)
    np.cumsum(wc, out=list_offsets[1:])
    words_col = pa.LargeListArray.from_arrays(
        pa.array(list_offsets), pa.array(words.view(np.int64)))
    return pa.RecordBatch.from_arrays(
        [
            pc.take(keys, pa.array(starts)),
            pa.array(bts[starts]),
            pa.array((offsets[1:] - offsets[:-1]).astype(np.int32)),
            pa.array(np.full(len(starts), value_kind, dtype=object),
                     type=pa.string()),
            pa.array(np.full(len(starts), predictor, dtype=object),
                     type=pa.string()),
            words_col.cast(pa.list_(pa.int64())),
        ],
        names=["series_key", "block_ts", "n_points", "value_kind",
               "predictor", "words"],
    )


def _encode_partition(batches, value_kind: str,
                      predictor: str = "last_value"):
    """Carry the trailing (possibly incomplete) block across Arrow batch
    boundaries; each yielded batch encodes only whole blocks."""
    import pyarrow as pa

    held: pa.Table | None = None
    for rb in batches:
        if rb.num_rows == 0:
            continue
        tbl = pa.Table.from_batches([rb])
        if held is not None:
            tbl = pa.concat_tables([held, tbl]).combine_chunks()
        n = tbl.num_rows
        if tbl.column("ts_ms").null_count:
            raise ValueError(
                "encode_points received NULL ts rows — the Gorilla "
                "format has no missing-value representation (validate "
                "or gap-fill upstream)")
        bts = _day_align(tbl.column("ts_ms").to_numpy())
        # size of the trailing group (sorted ⇒ contiguous at the end)
        keys = tbl.column("series_key")
        tail_np = bts == bts[-1]
        tail_np &= pc.equal(keys, keys[n - 1]).combine_chunks() \
            .to_numpy(zero_copy_only=False)
        if tail_np.all():
            held = tbl
            continue
        tail_len = int(tail_np[::-1].argmin())
        held = tbl.slice(n - tail_len)
        yield _encode_table(tbl.slice(0, n - tail_len), value_kind,
                            predictor)
    if held is not None and held.num_rows:
        yield _encode_table(held, value_kind, predictor)


def encode_points(points: DataFrame, value_kind: str = "double",
                  partitions: int | None = None,
                  predictor: str = "last_value") -> DataFrame:
    """points(series_key, ts_ms, value) → Gorilla blocks.

    One shuffle: hash-repartition on the block key, sort within
    partitions, stream Arrow batches through the segmented kernel
    (``mapInArrow`` — no pandas/object conversion in the hot path).
    """
    from .normalize import block_key

    # block_ts is repartition-key-only: the physical plan evaluates the
    # day-align expression for the shuffle hash, but the COLUMN never
    # rides through the shuffle or the Arrow boundary — the encode
    # worker re-derives it from ts_ms (_day_align), and the sort key
    # drops it entirely because day(ts) is monotone in ts, so
    # (key, ts) order == (key, day, ts) order. 8 fewer bytes per point
    # through the two most expensive layers of the encode plan.
    pts = points.select("series_key", "ts_ms", "value")
    n_part = partitions or pts.sparkSession.conf.get(
        "spark.sql.shuffle.partitions")
    laid_out = (
        pts.repartition(int(n_part), F.col("series_key"),
                        block_key("ts_ms"))
        .sortWithinPartitions("series_key", "ts_ms")
    )
    return laid_out.mapInArrow(
        lambda it: _encode_partition(it, value_kind, predictor),
        BLOCK_SCHEMA)


def _decode_batch(tbl: "pa.Table"):
    """Decode one batch of blocks → (points per block, ts, values).
    A batch that mixes predictors makes one entry call per run of equal
    predictors, in block order; a uniform batch makes one call."""
    words_col = tbl.column("words").chunk(0)
    lo = words_col.offsets.to_numpy()
    words = words_col.values.to_numpy().view(np.uint64)
    n_points = tbl.column("n_points").chunk(0).to_numpy()
    S = tbl.num_rows
    col = tbl.column("predictor").chunk(0)
    change = pc.not_equal(col.slice(1), col.slice(0, S - 1))
    bounds = [0, *(np.flatnonzero(change.to_numpy(zero_copy_only=False))
                   + 1).tolist(), S]
    preds = [col[a].as_py() for a in bounds[:-1]]
    parts = [decode_blocks_fast(words[lo[a]:lo[b]], np.diff(lo[a:b + 1]),
                                n_points_hint=int(n_points[a:b].sum()),
                                predictor=p)
             for a, b, p in zip(bounds[:-1], bounds[1:], preds)]
    if len(parts) == 1:
        offsets, ts, vals = parts[0]
        return np.diff(offsets), ts, vals
    return tuple(np.concatenate(c) for c in zip(
        *[(np.diff(o), t, v) for o, t, v in parts]))


def _decode_partition(batches, as_double: bool):
    import pyarrow as pa

    for rb in batches:
        if rb.num_rows == 0:
            continue
        tbl = pa.Table.from_batches([rb]).combine_chunks()
        lens, ts, vals = _decode_batch(tbl)
        take_idx = np.repeat(np.arange(tbl.num_rows), lens)
        keys = pc.take(tbl.column("series_key").chunk(0),
                       pa.array(take_idx))
        vcol = pa.array(vals.view(np.float64)) if as_double \
            else pa.array(vals.view(np.int64))
        yield pa.RecordBatch.from_arrays(
            [keys, pa.array(ts), vcol],
            names=["series_key", "ts_ms", "value"])


def decode_points(blocks: DataFrame, as_double: bool = True) -> DataFrame:
    """Gorilla blocks → points; value restored from raw bits.

    Bit reinterpretation is a zero-copy numpy ``view`` inside the Arrow
    batch — the engine-side equivalent of Double.longBitsToDouble
    (`Pair.java:21-23`)."""
    schema = POINT_SCHEMA_DOUBLE if as_double else POINT_SCHEMA_BITS
    return blocks.mapInArrow(
        lambda it: _decode_partition(it, as_double), schema)


def compact_blocks(blocks: DataFrame, value_kind: str = "double",
                   predictor: str = "last_value") -> DataFrame:
    """Merge fragmented day blocks back to one block per
    (series_key, block_ts) — the maintenance pass behind streaming
    ingestion (each micro-batch cut mid-day leaves a day split across
    blocks; fragments decode correctly but waste the per-block header
    and inflate block counts).

    Only fragmented groups are touched: a semi-join selects them, they
    decode → re-encode through the normal one-shuffle path, and the
    untouched majority passes through by anti-join — at 100 TB the
    decode/re-encode cost is proportional to the fragmented fraction,
    not the table. The result is bit-identical to having encoded the
    day's points in one pass (same sort, same kernel), which the tests
    assert word-for-word. Assumes the uniform (value_kind, predictor)
    the engine writes; compact heterogenous tables per codec group.
    """
    keys = ["series_key", "block_ts"]
    frag_keys = (blocks.groupBy(*keys)
                 .agg(F.count(F.lit(1)).alias("_n"))
                 .where(F.col("_n") > 1).select(*keys))
    frag = blocks.join(frag_keys, keys, "left_semi")
    keep = blocks.join(frag_keys, keys, "left_anti")
    pts = decode_points(frag, as_double=(value_kind == "double"))
    recoded = encode_points(pts, value_kind, predictor=predictor)
    return keep.unionByName(recoded)


def roundtrip_check(points: DataFrame, value_kind: str = "double") -> DataFrame:
    """decode(encode(points)) joined back to the input; returns rows
    that fail raw-bit equality (empty result == pass). Distributed —
    the check is a join + filter, never a driver collect; NaN payloads
    and -0.0 are compared on their exact bit patterns."""
    from ..functions.bits import double_to_bits

    blocks = encode_points(points, value_kind)
    decoded = decode_points(blocks, as_double=False).withColumnRenamed(
        "value", "decoded_bits")
    orig = points.select(
        "series_key", "ts_ms",
        double_to_bits("value").alias("orig_bits") if value_kind == "double"
        else F.col("value").cast("long").alias("orig_bits"))
    joined = orig.join(decoded, ["series_key", "ts_ms"], "full_outer")
    return joined.where(
        F.col("orig_bits").isNull() | F.col("decoded_bits").isNull()
        | (F.col("orig_bits") != F.col("decoded_bits")))
