"""Spark operators for Gorilla block encode/decode.

Scale design (SURVEY.md §3.4/§4.3):

* one shuffle lays points out for encoding:
  ``repartition(series_key, block_ts)`` co-locates every block, then
  ``sortWithinPartitions`` orders points inside each block;
* the encode UDF is ``mapInArrow`` — NOT per-group ``applyInPandas``
  (realistic blocks are 50–500 points and per-group UDF dispatch would
  dominate) and not pandas (string keys would materialize as Python
  objects); each Arrow batch goes to the segmented kernel
  (:func:`gorillaspark.codec.vector.encode_blocks_fast` — C fast path
  with numpy fallback) in ONE call. A block whose points straddle two
  Arrow batches is carried over between batches inside the same
  partition iterator, so correctness never depends on batch boundaries;
* block size is naturally bounded: day-aligned ``block_ts`` caps a
  block at one conv-day, so no salting is needed here (hot conv_ids
  split across days); skew is handled at the rollup/aggregation stage;
* decode is the mirror image: blocks → points via one kernel call per
  batch, exploded back to rows JVM-side by the Arrow return.

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


def _scalar_encode(bts_firsts, offsets, ts, vals, predictor):
    """Per-block scalar path for non-default codecs: DFCM predictors
    ('dfcm' / 'dfcm:N') and the v1 wire format ('v1', byte-oriented,
    go-tsz interoperable). Sequential by nature (DFCM's hash chain /
    v1's byte stream), so this is the capability path, not the hot one
    — the default last-value v2 codec takes the vectorized/C kernel."""
    from ..codec.scalar import GorillaEncoder, GorillaV1Encoder

    words_list = []
    wc = np.empty(len(bts_firsts), dtype=np.int64)
    for i in range(len(bts_firsts)):
        a, b = offsets[i], offsets[i + 1]
        if predictor == "v1":
            enc = GorillaV1Encoder(int(bts_firsts[i]))
            for t, v in zip(ts[a:b].tolist(), vals[a:b].tolist()):
                enc.add(t, v)
            w = np.frombuffer(enc.close(), dtype=">u8").astype(np.uint64)
        else:
            enc = GorillaEncoder(int(bts_firsts[i]), predictor=predictor)
            for t, v in zip(ts[a:b].tolist(), vals[a:b].tolist()):
                enc.add(t, v)
            w = np.array(enc.close(), dtype=np.uint64)
        words_list.append(w)
        wc[i] = len(w)
    words = np.concatenate(words_list) if words_list \
        else np.empty(0, np.uint64)
    return words, wc


def _dfcm_size(predictor: str) -> int:
    return int(predictor.split(":", 1)[1]) if ":" in predictor else 1024


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
    (series_key, day(ts)) change points, one segmented-kernel call.
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
    if predictor == "last_value":
        words, wc = encode_blocks_fast(bts[starts], offsets, ts, vals)
    elif predictor == "dfcm" or predictor.startswith("dfcm:"):
        # r7: DFCM rides the C kernel too (the hash chain is a
        # sequential int64 loop, same shape as the value-window chain)
        # — the per-point Python scalar codec stays as the no-compiler
        # fallback only
        from ..codec.native import encode_blocks_dfcm_native
        out = encode_blocks_dfcm_native(bts[starts], offsets, ts, vals,
                                        _dfcm_size(predictor))
        words, wc = out if out is not None else _scalar_encode(
            bts[starts], offsets, ts, vals, predictor)
    else:
        words, wc = _scalar_encode(bts[starts], offsets, ts, vals,
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


def _scalar_decode(words, wc, predictors):
    """Per-block scalar decode for non-default codecs (mirror of
    :func:`_scalar_encode`)."""
    import struct as _struct

    from ..codec.scalar import GorillaDecoder, GorillaV1Decoder

    ts_parts, v_parts = [], []
    offsets = np.zeros(len(wc) + 1, dtype=np.int64)
    pos = 0
    for i, (c, pred) in enumerate(zip(wc, predictors)):
        w = words[pos:pos + c]
        pos += c
        if pred == "v1":
            data = b"".join(_struct.pack(">Q", int(x)) for x in w)
            pairs = GorillaV1Decoder(data).read_all()
        elif pred == "last_value":
            from ..codec.vector import decode_v2
            t, v = decode_v2(w)
            pairs = list(zip(t.tolist(), v.tolist()))
        else:
            pairs = GorillaDecoder(w.tolist(), predictor=pred).read_all()
        offsets[i + 1] = offsets[i] + len(pairs)
        ts_parts.append(np.array([p[0] for p in pairs], dtype=np.int64))
        v_parts.append(np.array([p[1] for p in pairs], dtype=np.uint64))
    if not ts_parts:
        return offsets, np.empty(0, np.int64), np.empty(0, np.uint64)
    return offsets, np.concatenate(ts_parts), np.concatenate(v_parts)


def _decode_partition(batches, as_double: bool):
    import pyarrow as pa

    for rb in batches:
        if rb.num_rows == 0:
            continue
        tbl = pa.Table.from_batches([rb]).combine_chunks()
        words_col = tbl.column("words").chunk(0)
        list_offsets = words_col.offsets.to_numpy()
        words = words_col.values.to_numpy().view(np.uint64)
        wc = np.diff(list_offsets)
        n_hint = int(pc.sum(tbl.column("n_points")).as_py() or 0)
        preds = (tbl.column("predictor").chunk(0)
                 if "predictor" in tbl.column_names else None)
        if preds is None or pc.all(
                pc.equal(preds, "last_value")).as_py():
            offsets, ts, vals = decode_blocks_fast(words, wc,
                                                   n_points_hint=n_hint)
        else:
            offsets = None
            pl = preds.to_pylist()
            first = pl[0]
            if (first == "dfcm" or first.startswith("dfcm:")) \
                    and all(p == first for p in pl):
                from ..codec.native import decode_blocks_dfcm_native
                out = decode_blocks_dfcm_native(
                    words, wc, _dfcm_size(first), n_points_hint=n_hint)
                if out is not None:
                    offsets, ts, vals = out
            if offsets is None:
                offsets, ts, vals = _scalar_decode(words, wc, pl)
        lens = offsets[1:] - offsets[:-1]
        take_idx = np.repeat(np.arange(len(wc)), lens)
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
