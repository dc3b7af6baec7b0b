"""Deduplication operators over document corpora.

Large-scale training-data shapes, each expressed Spark-first:

* exact: hash-groupBy on the text (content hash), keep min doc_id —
  one shuffle on the hash, no driver involvement;
* n-gram Jaccard: explode character shingles → distinct → self-join on
  shingle → per-pair intersection counts → |A∩B| / (|A|+|B|-|A∩B|) —
  the classic pair-generation plan; the shingle join is the shuffle,
  pruned by ``min_shared`` before the expensive part;
* MinHash + LSH: per-shingle hashing stays JVM-side (``xxhash64`` on
  the exploded shingle relation — no Python in the token path); the
  signature is one numpy broadcast + segmented min per Arrow batch.
  Banding → candidate buckets → exact Jaccard verification of
  candidates only. At 100 TB the bucket join replaces the quadratic
  shingle self-join; recall is tunable by (n_perm, n_bands);
* SimHash: 64-bit signatures from token FNV-1a hashes, computed fully
  vectorized over the Arrow string buffers (mapInArrow; the only loop
  is per *character position* across the whole batch). Duplicate
  candidates = identical signature; near-dups = banded
  Hamming-neighbor search (:func:`simhash_hamming_pairs`), which is
  *provably* complete for distance ≤ n_bands-1 by pigeonhole;
* embedding near-dup: cosine ≥ τ pairs via banded random-hyperplane
  LSH with exact verification (see similarity.py).

FNV-1a (64-bit, public domain by Fowler/Noll/Vo) is used for SimHash
because it is simple enough to express in ANSI-ish SQL (the DuckDB
oracle reproduces it with list_reduce over HUGEINT — see
queries._SIMHASH_SIG_SQL), making the signatures value-checkable
cross-engine. MinHash uses Spark's builtin ``xxhash64`` because its
hash values never surface in the output (candidates are re-verified
with exact Jaccard).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per distinct text (content-hash grouping)."""
    return (docs.groupBy(F.sha2(F.col(text_col), 256).alias("content_hash"))
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies")))


# ---------------------------------------------------------------------------
# shingles + exact n-gram Jaccard
# ---------------------------------------------------------------------------

def shingles(docs: DataFrame, n: int = 3, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per doc (lowercased, ws-tokenized)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return (docs
            .where(F.size(toks) >= n)
            .select(F.col(id_col).alias("doc_id"),
                    F.explode(F.array_distinct(grams)).alias("shingle")))


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.8,
                        text_col: str = "text", id_col: str = "doc_id",
                        max_df: float | None = None) -> DataFrame:
    """All doc pairs with shingle-set Jaccard ≥ threshold (a < b).

    Exact (quadratic in co-bucketed docs) — the oracle/verifier path;
    the scale path is :func:`minhash_lsh_pairs` which feeds candidates
    into the same final Jaccard predicate.

    ``max_df``: drop shingles occurring in more than this fraction of
    documents before the self-join. At corpus scale a boilerplate
    shingle shared by 1% of 10^9 docs creates a 10^14-row join bucket;
    the stop-shingle filter bounds every bucket. This changes the
    Jaccard estimate slightly (computed over the filtered sets), the
    standard trade; leave None for the exact oracle-checked form.
    """
    sh = shingles(docs, n, text_col, id_col)
    if max_df is not None:
        n_docs = docs.count()
        hot = (sh.groupBy("shingle")
               .agg(F.count(F.lit(1)).alias("df"))
               .where(F.col("df") > max_df * n_docs)
               .select("shingle"))
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sh = sh.cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("inter")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("sz").alias("sz_b"))
    out = (inter.join(sa, "doc_a").join(sb, "doc_b")
           .withColumn("jaccard",
                       F.col("inter")
                       / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
           .where(F.col("jaccard") >= threshold)
           .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")))
    return out


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE31 = np.uint64((1 << 31) - 1)


def make_minhash_udf(n_perm: int = 64, seed: int = 7):
    """Vectorized MinHash over an array<long>-of-shingle-hashes column.

    The shingles were already hashed JVM-side (``xxhash64``); here each
    Arrow batch is flattened into one contiguous hash vector and the
    whole (n_perm × n_hashes) universal-hash matrix is computed in a
    single numpy broadcast, with per-doc minima via
    ``np.minimum.reduceat``. Coefficients and inputs are reduced mod
    the Mersenne prime 2^31-1 first so every product fits uint64 with
    no silent wraparound — (a·x + b) mod p is the real thing.
    """
    p = _MERSENNE31
    rng = np.random.default_rng(seed)
    a = rng.integers(1, int(p), n_perm, dtype=np.uint64)[:, None]
    b = rng.integers(0, int(p), n_perm, dtype=np.uint64)[:, None]

    @pandas_udf("array<long>")
    def minhash(hash_sets: pd.Series) -> pd.Series:
        n = len(hash_sets)
        if n == 0:
            return pd.Series([], dtype=object)
        rows = [np.asarray(v, dtype=np.int64) for v in hash_sets]
        lens = np.fromiter((r.size for r in rows), dtype=np.int64, count=n)
        sentinel = np.full(n_perm, int(p), dtype=np.int64)
        if lens.sum() == 0:
            return pd.Series([sentinel] * n)
        flat = np.concatenate(rows).view(np.uint64) % p
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        m = (a * flat[None, :] + b) % p            # (n_perm, total)
        nz = lens > 0
        mins = np.minimum.reduceat(m, starts[nz], axis=1).astype(np.int64)
        out: list = [sentinel] * n
        for j, i in enumerate(np.nonzero(nz)[0]):
            out[i] = mins[:, j]
        return pd.Series(out)

    return minhash


def minhash_lsh_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.8,
                      n_perm: int = 64, n_bands: int = 16,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs via MinHash banding, verified by exact Jaccard.

    Plan: shingle → ``xxhash64`` (JVM) → per-doc hash sets → signatures
    (one vectorized UDF) → explode bands → groupBy (band, band-hash)
    buckets → intra-bucket candidate pairs → exact Jaccard on
    candidates only → threshold. The band join is the only wide shuffle
    and it carries signatures, not text; the verification joins carry
    64-bit hashes, not shingle strings.
    """
    rows_per_band = n_perm // n_bands
    # ONE cached relation, the compact per-doc hash arrays. r7 cached
    # the exploded (doc_id, h) relation TOO — double storage of every
    # shingle hash, and the plan most sensitive to page-cache theft on
    # a shared box (the unadjudicated 6.39x driver flag of BENCH_r07).
    # The verify join re-derives the exploded form by exploding the
    # cached arrays (no re-shingle / re-hash of the text), so the only
    # pinned bytes are ~16B/hash in contiguous arrays.
    shh = (shingles(docs, n, text_col, id_col)
           .select("doc_id", F.xxhash64("shingle").alias("h")))
    sets = shh.groupBy("doc_id").agg(
        F.collect_list("h").alias("hash_set"),
        F.count(F.lit(1)).alias("sz")).cache()
    mh = make_minhash_udf(n_perm)
    sigs = sets.select("doc_id", mh("hash_set").alias("sig"))
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda i: F.hash(
                    F.slice("sig", i * rows_per_band + 1, rows_per_band)))
        ).alias("band", "band_hash"))
    x = bands.alias("x")
    y = bands.alias("y")
    cands = (x.join(y, (F.col("x.band") == F.col("y.band"))
                    & (F.col("x.band_hash") == F.col("y.band_hash"))
                    & (F.col("x.doc_id") < F.col("y.doc_id")))
             .select(F.col("x.doc_id").alias("doc_a"),
                     F.col("y.doc_id").alias("doc_b"))
             .distinct())
    # exact verification of candidates only (hash-equality ∩ counts;
    # xxhash64 collisions are ~n²/2^64 — negligible at any real
    # corpus). r9: the intersection is counted per candidate pair
    # from the cached per-doc hash ARRAYS (sorted-merge in an Arrow
    # kernel) instead of re-exploding every shingle hash into two
    # corpus-wide relations and shuffling them through an equi-join +
    # groupBy — the candidate relation is tiny next to the exploded
    # hash relation, and the per-doc arrays are distinct by
    # construction (shingles() is array_distinct), so the count is
    # the same. The jaccard/threshold/round expressions are unchanged
    # (JVM half-up rounding, identical output values).
    sa = sets.select(F.col("doc_id").alias("doc_a"),
                     F.col("hash_set").alias("ha"),
                     F.col("sz").alias("sz_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"),
                     F.col("hash_set").alias("hb"),
                     F.col("sz").alias("sz_b"))
    joined = cands.join(sa, "doc_a").join(sb, "doc_b")

    def count_inter(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            da = batch.column("doc_a").to_numpy(zero_copy_only=False)
            db = batch.column("doc_b").to_numpy(zero_copy_only=False)
            sza = batch.column("sz_a").to_numpy(zero_copy_only=False)
            szb = batch.column("sz_b").to_numpy(zero_copy_only=False)
            # each pair's sets are views into the lists' values buffers
            ha, hb = batch.column("ha"), batch.column("hb")
            oa, ob = ha.offsets.to_numpy(), hb.offsets.to_numpy()
            va = ha.values.to_numpy(zero_copy_only=False)
            vb = hb.values.to_numpy(zero_copy_only=False)
            out = np.empty(n, dtype=np.int64)
            for i in range(n):
                out[i] = np.intersect1d(va[oa[i]:oa[i + 1]],
                                        vb[ob[i]:ob[i + 1]],
                                        assume_unique=True).size
            yield pa.RecordBatch.from_arrays(
                [pa.array(da, pa.int64()), pa.array(db, pa.int64()),
                 pa.array(sza, pa.int64()), pa.array(szb, pa.int64()),
                 pa.array(out, pa.int64())],
                ["doc_a", "doc_b", "sz_a", "sz_b", "inter"])

    inter = joined.select("doc_a", "doc_b", "sz_a", "sz_b", "ha",
                          "hb").mapInArrow(
        count_inter,
        "doc_a long, doc_b long, sz_a long, sz_b long, inter long")
    return (inter
            .withColumn("jaccard",
                        F.col("inter")
                        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
            .where(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_FNV_BASIS = np.uint64(0xcbf29ce484222325)
_FNV_PRIME = np.uint64(0x100000001b3)


def _fnv1a64_arrow(tokens: pa.StringArray) -> np.ndarray:
    """FNV-1a 64-bit over every string in an Arrow array, vectorized.

    Reads the UTF-8 data buffer directly; the only Python loop is over
    character *positions* (bounded by the longest token in the batch),
    each step a numpy gather+xor+multiply over all still-active tokens.
    """
    n = len(tokens)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    offs = np.frombuffer(tokens.buffers()[1], dtype=np.int32)[
        tokens.offset:tokens.offset + n + 1].astype(np.int64)
    data = np.frombuffer(tokens.buffers()[2], dtype=np.uint8)
    lens = np.diff(offs)
    starts = offs[:-1]
    h = np.full(n, _FNV_BASIS, dtype=np.uint64)
    maxlen = int(lens.max()) if n else 0
    with np.errstate(over="ignore"):
        for pos in range(maxlen):
            act = np.nonzero(lens > pos)[0]
            ch = data[starts[act] + pos].astype(np.uint64)
            h[act] = (h[act] ^ ch) * _FNV_PRIME
    return h


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (public-domain constants): derives a
    second, effectively independent token hash from the FNV value
    without re-walking the string bytes — the cheap second word of
    the 128-bit SimHash."""
    with np.errstate(over="ignore"):
        h = (h ^ (h >> np.uint64(30))) * np.uint64(0xbf58476d1ce4e5b9)
        h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94d049bb133111eb)
        return h ^ (h >> np.uint64(31))


def simhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       bits: int = 64) -> DataFrame:
    """(doc_id, simhash[, simhash2]): SimHash over whitespace tokens.

    Bit i of the signature is 1 iff the (+1/-1) majority vote of bit i
    across all token hashes (duplicates counted) is positive. Computed
    with mapInArrow: token lists stay in Arrow buffers end to end, the
    bit-majority is one segmented ``np.add.reduceat`` per batch.

    ``bits=128`` (r8, the scale configuration) adds a second 64-bit
    word voted from an independent per-token hash (splitmix64 mix of
    the FNV value) — same single pass, one extra vectorized column.
    """
    from .spread import spread

    if bits not in (64, 128):
        raise ValueError("simhash width must be 64 or 128")
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # widen under-parallel inputs (a small corpus is one parquet
    # split, which would serialize the whole signature stage on one
    # core); no-op at scale where splits >> executors
    prepared = spread(docs).select(
        F.col(id_col).cast("long").alias("doc_id"), toks.alias("toks"))
    shifts = np.arange(64, dtype=np.uint64)
    weights = np.uint64(1) << shifts
    wide = bits == 128

    # doc-axis chunking bounds the (n_tokens, 64) ±1 contribution
    # matrix: an unchunked Arrow batch can hold millions of tokens,
    # whose int32 vote matrix (0.5+ GB) hits this box's cold-alloc
    # page-fault cliff when 32 workers allocate it simultaneously —
    # measured 3x wall on the r8 sf3 curve for the double-vote
    # (bits=128) path before chunking
    chunk_docs = 1024

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        def vote(hs, starts, nz, n):
            contrib = (((hs[:, None] >> shifts[None, :]) & np.uint64(1))
                       .astype(np.int32) * 2 - 1)
            sig = np.zeros(n, dtype=np.uint64)
            sums = np.add.reduceat(contrib, starts[nz], axis=0)
            sig[nz] = ((sums > 0).astype(np.uint64) * weights).sum(axis=1)
            return sig

        for full in batches:
            for off in range(0, full.num_rows, chunk_docs):
                batch = full.slice(off, chunk_docs)
                ids = batch.column("doc_id")
                lists = batch.column("toks")
                n = len(ids)
                if n == 0:
                    continue
                lens = np.asarray(
                    pa.compute.list_value_length(lists), dtype=np.int64)
                flat = lists.flatten()
                hs = _fnv1a64_arrow(flat)
                starts = np.zeros(n, dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                nz = lens > 0
                if nz.any():
                    sig = vote(hs, starts, nz, n)
                    sig2 = vote(_mix64(hs), starts, nz, n) if wide \
                        else None
                else:
                    sig = np.zeros(n, dtype=np.uint64)
                    sig2 = np.zeros(n, dtype=np.uint64) if wide else None
                arrays = [ids, pa.array(sig.view(np.int64))]
                names = ["doc_id", "simhash"]
                if wide:
                    arrays.append(pa.array(sig2.view(np.int64)))
                    names.append("simhash2")
                yield pa.RecordBatch.from_arrays(arrays, names=names)

    schema = "doc_id long, simhash long" + (", simhash2 long" if wide
                                            else "")
    return prepared.mapInArrow(mapper, schema)


def simhash_duplicates(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Docs sharing an identical 64-bit SimHash (strong near-dup
    signal), one row per member: (simhash, doc_id, n_docs).
    Near-misses are found by :func:`simhash_hamming_pairs`."""
    sigs = simhash_signatures(docs, text_col, id_col)
    w = Window.partitionBy("simhash")
    return (sigs.withColumn("n_docs", F.count(F.lit(1)).over(w))
            .where(F.col("n_docs") > 1)
            .select("simhash", "doc_id", "n_docs"))


def simhash_hamming_pairs(docs: DataFrame, max_dist: int = 3,
                          n_bands: int = 4, text_col: str = "text",
                          id_col: str = "doc_id",
                          bits: int = 64) -> DataFrame:
    """Near-dup pairs at SimHash Hamming distance ≤ ``max_dist``.

    Banded search: the signature splits into ``n_bands`` equal
    chunks; candidates share at least one identical chunk; candidates
    are verified with an exact popcount. By pigeonhole this is
    *complete* (recall exactly 1.0, not probabilistic) whenever
    ``max_dist < n_bands`` — d flipped bits can dirty at most d bands,
    leaving ≥ 1 band identical.

    Scale control (r8): with ``bits=64`` the four band codes are 16
    bits wide, so RANDOM band collisions contribute ~n_bands *
    C(n,2) / 2^16 candidate pairs — a quadratic term that the r8
    three-point scale curve (BENCH/BASELINE.md) surfaced at 150k
    docs (sf3). ``bits=128`` votes a second signature word from an
    independent token hash and splits the 128-bit fingerprint into
    four 32-bit bands: identical pigeonhole completeness at
    ``max_dist < 4`` over the finer 128-bit metric, random-collision
    mass down by 2^16 — the configuration a 100 TB corpus runs.
    """
    if max_dist >= n_bands:
        raise ValueError("completeness needs max_dist < n_bands")
    if bits == 128:
        return _simhash_hamming_pairs_128(docs, max_dist, text_col,
                                          id_col)
    if bits != 64:
        raise ValueError("simhash width must be 64 or 128")
    width = 64 // n_bands
    mask = (1 << width) - 1
    # both sides of the band self-join read the signature relation —
    # materialize it once via localCheckpoint rather than cache():
    # cache() pinned executor storage for the whole session (nobody
    # owned the unpersist); checkpoint blocks are released by the
    # ContextCleaner as soon as the result DataFrame is dropped.
    # Re-measured round 4 (interleaved A/B, 6 reps, min-of): ckpt 0.90s
    # beats persist+unpersist 0.90/2.0 and no-materialization 1.22/2.2
    # at sf0.1 — the r3 bench drift (0.49→1.14s) was tenant noise, not
    # this change
    sigs = simhash_signatures(docs, text_col, id_col) \
        .localCheckpoint(eager=False)
    chunks = F.array(*[
        F.shiftrightunsigned(F.col("simhash"), i * width)
         .bitwiseAND(F.lit(mask)) for i in range(n_bands)])
    bands = sigs.select("doc_id", "simhash",
                        F.posexplode(chunks).alias("band", "code"))
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.code") == F.col("b.code"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("a.simhash").alias("sig_a"),
                     F.col("b.simhash").alias("sig_b"))
             .distinct())
    return (pairs
            .withColumn("hamming",
                        F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
                        .cast("long"))
            .where(F.col("hamming") <= max_dist)
            .select("doc_a", "doc_b", "hamming"))


def _simhash_hamming_pairs_128(docs: DataFrame, max_dist: int,
                               text_col: str, id_col: str) -> DataFrame:
    """128-bit variant: four 32-bit bands (two per signature word),
    Hamming distance summed over both words. Same plan shape as the
    64-bit path — band equi-join + popcount verify — with the
    random-collision candidate mass divided by 2^16."""
    sigs = simhash_signatures(docs, text_col, id_col, bits=128) \
        .localCheckpoint(eager=False)
    mask = (1 << 32) - 1
    chunks = F.array(*[
        F.shiftrightunsigned(F.col(c), s).bitwiseAND(F.lit(mask))
        for c in ("simhash", "simhash2") for s in (0, 32)])
    bands = sigs.select("doc_id", "simhash", "simhash2",
                        F.posexplode(chunks).alias("band", "code"))
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.code") == F.col("b.code"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("a.simhash").alias("s1a"),
                     F.col("a.simhash2").alias("s2a"),
                     F.col("b.simhash").alias("s1b"),
                     F.col("b.simhash2").alias("s2b"))
             .distinct())
    ham = (F.bit_count(F.col("s1a").bitwiseXOR(F.col("s1b")))
           + F.bit_count(F.col("s2a").bitwiseXOR(F.col("s2b")))
           ).cast("long")
    return (pairs.withColumn("hamming", ham)
            .where(F.col("hamming") <= max_dist)
            .select("doc_a", "doc_b", "hamming"))
