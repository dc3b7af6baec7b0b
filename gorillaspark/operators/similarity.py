"""Similarity search over embedding columns (array<float>).

Three tiers, as a 100 TB pipeline needs:

* brute-force cosine top-k — the exact baseline: a broadcast join of
  the (small) query set against the corpus, dot products computed
  JVM-side with ``aggregate``/``zip_with`` (no Python in the row path),
  ranked per query with a window;
* banded random-hyperplane LSH — candidate generation for near-dup
  pairs and ANN: n_planes sign bits split into bands, a pair is a
  candidate iff it agrees on at least one whole band. Per-pair miss
  probability is (1 - p^r)^B with p = 1 - θ/π; with 32 bands of 2 bits
  at cosine ≥ 0.3 that is ~7e-7 — the registered queries verify
  empirically as exactly equal to the brute-force oracle on the test
  corpora. Candidates are always re-scored with the exact dot product,
  so precision is 1 by construction;
* IVF (inverted file) — centroids trained driver-side on a bounded
  sample (standard practice: centroid training is O(sample·k), the
  assignment pass is the distributed part), multi-probe bucket join,
  exact re-rank inside probed buckets. On corpora with real cluster
  structure this is the sub-linear path; on isotropic test data its
  measured recall is emitted as a column rather than hidden
  (:func:`ann_topk_ivf`).

Selectivity honesty: on the synthetic test embeddings (near-isotropic,
max pairwise cosine ≈ 0.51) *no* sub-linear method can keep exact
top-k — the banded-LSH candidate fraction is ~1 there. The value of
the banded plan shows at production similarity regimes (τ ≥ 0.7),
where the same code prunes each band-bucket by ~2^r; the plan shape
(bucket join + exact verify, never all-pairs) is what the 100 TB
deployment needs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _norm_col(vec: str) -> F.Column:
    return F.sqrt(F.aggregate(
        vec, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x))


def _let(expr: F.Column, fn) -> F.Column:
    """Let-binding for Catalyst expressions: evaluate ``expr`` ONCE
    per row and pass the bound value to ``fn``.

    Catalyst has no native let, and two things silently multiply the
    evaluation count of a computed column: higher-order-function
    lambdas re-evaluate every captured subexpression per array
    element, and projection collapse inlines a column's definition
    into each of its references (the r5 plans never saw this — their
    exchanges materialized intermediate columns; the r6 exchange-free
    ANN plans made it the dominant cost, e.g. the norm fold inside
    with_unit_norm's per-element division ran 64x per row, then 16x
    again per centroid). A 1-element ``transform`` is the idiomatic
    binder: lambda arguments are evaluated once."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def with_unit_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Pre-normalize once so cosine becomes a plain dot product.
    The norm is let-bound so the fold runs once per row, not once per
    element; the division arithmetic (x / n per element, same fold
    order) is unchanged, so every oracle hash is stable."""
    unit = _let(
        _norm_col(vec_col),
        lambda n: F.transform(vec_col, lambda x: x.cast("double") / n))
    return emb.withColumn("unit", unit)


def cosine_topk_bruteforce(emb: DataFrame, queries: DataFrame, k: int = 10,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is expected small (collected and shipped in the task
    closure — the bounded-collect pattern of the IVF codebooks); the
    corpus side streams through one mapInArrow pass — no shuffle of
    corpus vectors, no per-row JVM lambda interpretation. Every float
    op replays the old HOF plan's arithmetic exactly: the norm and the
    dot accumulate per-dimension in index order (a sequence of
    vectorized adds IS the left fold — same IEEE additions in the same
    order as F.aggregate's acc + x), so cosines and hashes are
    unchanged. Each task emits only its local top-k per query
    (same (cosine desc, nbr_id asc) total order, so the global top-k
    survives pre-pruning); the final window ranks nq*k*n_tasks rows
    instead of nq*n_corpus. Ties break on neighbor id for
    determinism.
    """
    qrows = queries.select(F.col(id_col).cast("long"),
                           vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = (np.stack([np.asarray(r[1], dtype=np.float64)
                   for r in qrows])
         if qrows else np.empty((0, 0)))
    nq = len(qids)
    if nq:
        acc = np.zeros(nq)
        for c in range(Q.shape[1]):          # left fold, like the HOF
            acc = acc + Q[:, c] * Q[:, c]
        QU = Q / np.sqrt(acc)[:, None]

    def topk_partition(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if not n or not nq:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            flat = pa.compute.list_flatten(batch.column(1)).to_numpy(
                zero_copy_only=False)
            if flat.size != n * Q.shape[1]:
                raise ValueError("ragged embedding in topk scan")
            M = flat.reshape(n, Q.shape[1]).astype(np.float64)
            acc = np.zeros(n)
            for c in range(M.shape[1]):      # left fold, like the HOF
                acc = acc + M[:, c] * M[:, c]
            U = M / np.sqrt(acc)[:, None]
            dots = np.zeros((n, nq))
            for c in range(M.shape[1]):      # left fold, like the HOF
                dots = dots + U[:, c][:, None] * QU[:, c][None, :]
            cos = np.round(dots, 6)
            out_q, out_n, out_c = [], [], []
            for j in range(nq):
                cj = cos[:, j]
                mask = ids != qids[j]
                cand = np.flatnonzero(mask)
                order = cand[np.lexsort((ids[cand], -cj[cand]))][:k]
                out_q.append(np.full(len(order), qids[j],
                                     dtype=np.int64))
                out_n.append(ids[order])
                out_c.append(cj[order])
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(out_q), pa.int64()),
                 pa.array(np.concatenate(out_n), pa.int64()),
                 pa.array(np.concatenate(out_c), pa.float64())],
                ["query_id", "nbr_id", "cosine"])

    scored = (emb.select(F.col(id_col).cast("long").alias("nbr_id"),
                         vec_col)
              .mapInArrow(topk_partition,
                          "query_id long, nbr_id long, cosine double"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("nbr_id"))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "nbr_id", "cosine"))


# ---------------------------------------------------------------------------
# banded random-hyperplane LSH
# ---------------------------------------------------------------------------

def make_band_codes_udf(dim: int, n_planes: int = 64, n_bands: int = 32,
                        seed: int = 5):
    """Banded hyperplane signature: array of n_bands small-int codes.

    One Arrow-batched matmul per batch (vectors × planes), then each
    band's r = n_planes/n_bands sign bits pack into an int code.
    """
    r = n_planes // n_bands
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_planes, dim)).astype(np.float64)
    pack = (1 << np.arange(r, dtype=np.int64))

    @pandas_udf("array<int>")
    def codes(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (mat @ planes.T) > 0                    # (n, n_planes)
        c = bits.reshape(len(vecs), n_bands, r).astype(np.int64) @ pack
        return pd.Series(list(c.astype(np.int32)))

    return codes


def make_band_codes_sig_udf(dim: int, n_planes: int = 64,
                            n_bands: int = 32, seed: int = 5):
    """:func:`make_band_codes_udf` plus the packed whole-signature
    word: all n_bands r-bit codes in one BIGINT (band b at bits
    [r*b, r*b + r)), valid for n_planes <= 64. The signature lets the
    near-dup verify kernel emit a pair only from its FIRST colliding
    band (two rows collide in band b iff the r-bit group b of the XOR
    of their signatures is zero), replacing B-way duplicate emission
    + distinct with exactly-once emission. Same planes / same seed as
    the codes-only UDF, so the band relation is unchanged."""
    if n_planes > 64:
        raise ValueError("packed signature needs n_planes <= 64")
    r = n_planes // n_bands
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_planes, dim)).astype(np.float64)
    pack = (1 << np.arange(r, dtype=np.int64))
    shifts = (np.arange(n_bands, dtype=np.uint64) * np.uint64(r))

    @pandas_udf("codes array<int>, sig long")
    def codes_sig(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame({"codes": pd.Series([], dtype=object),
                                 "sig": pd.Series([], dtype="int64")})
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (mat @ planes.T) > 0                    # (n, n_planes)
        c = bits.reshape(len(vecs), n_bands, r).astype(np.int64) @ pack
        # disjoint bit ranges: OR-fold == the packed word (bit 63 of
        # a 64-plane signature lands in the int64 sign bit — view,
        # not value-cast, keeps the reinterpret exact)
        sig = np.bitwise_or.reduce(
            c.astype(np.uint64) << shifts, axis=1).view(np.int64)
        return pd.DataFrame({"codes": list(c.astype(np.int32)),
                             "sig": sig})

    return codes_sig


def near_dup_band_plan(n_rows: int, threshold: float,
                       target_bucket_rows: int = 4096,
                       target_recall: float = 0.999) -> tuple:
    """(n_planes, n_bands) for :func:`embedding_near_dup_pairs`,
    scaled to the corpus so the plan survives growth.

    Standard hyperplane-LSH sizing: a pair at cosine τ collides on
    one r-bit band with p^r, p = 1 − arccos(τ)/π.  Bits per band are
    chosen so the EXPECTED bucket holds ≈ ``target_bucket_rows``
    (r = log2(n / target)), which bounds both a bucket's unit-matrix
    memory and the total verify work at ~B · n · target — linear in n
    for fixed r; rows must actually spread across codes for that
    expectation to hold (adversarially identical vectors all share a
    bucket, but then they are all true duplicates and the verify
    output itself is the quadratic term).  Bands then come from the
    recall target: B = ln(1 − recall)/ln(1 − p^r).  Low thresholds
    (τ ≲ 0.5) make p^r collapse at useful r — B explodes because
    low-τ "near-dup" is not a sparse relation; keep the planner for
    genuine near-duplicate thresholds (τ ≥ ~0.8).
    """
    import math

    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    p = 1.0 - math.acos(threshold) / math.pi
    r = max(2, math.ceil(math.log2(max(2.0, n_rows / target_bucket_rows))))
    p_band = p ** r
    n_bands = (math.ceil(math.log(max(1e-300, 1.0 - target_recall))
                         / math.log(1.0 - p_band))
               if p_band < 1.0 else 1)
    if n_bands > 512:
        raise ValueError(
            f"{n_bands} bands needed (p^r={p_band:.2e} at r={r}): "
            f"threshold {threshold} is too low for banded LSH at this "
            "corpus size — the relation is not sparse; use a smaller r "
            "explicitly (quadratic verify) or raise the threshold")
    return r * max(1, n_bands), max(1, n_bands)


def _band_relation(emb: DataFrame, codes_udf, vec_col: str,
                   id_col: str, out_id: str) -> DataFrame:
    """(id, band, code) exploded band-bucket relation."""
    return (emb.select(F.col(id_col).alias(out_id),
                       F.posexplode(codes_udf(vec_col))
                        .alias("band", "code")))


def _near_dup_dense(emb: DataFrame, thr: float, n_planes: int,
                    n_bands: int, seed: int, vec_col: str,
                    id_col: str, dim: int) -> DataFrame:
    """All-pairs block scan for the DENSE LSH regimes of
    :func:`embedding_near_dup_pairs` (n_bands ≥ 2^(r-1), so the
    banded bucket scan would do more total matmul than one n²/2
    pass). Result set is identical to the banded path: pairs that
    collide in at least one band (decided from the packed signature)
    AND whose einsum-recomputed cosine rounds to ≥ τ, with the same
    rounded cosine values.

    Rows are hashed into g groups (deterministic pmod(xxhash64),
    never rand — retried tasks must re-derive the same placement) and
    each row is replicated to the g block-pairs its group belongs to;
    every unordered vector pair lands in EXACTLY one block-pair, so
    the kernel's output is duplicate-free with no trailing distinct.
    One hash exchange on the block-pair id + an in-partition sort +
    a segmented mapInArrow kernel, the same execution shape as the
    banded verify."""
    import math

    r_bits = n_planes // n_bands
    M_GROUPS = np.uint64(sum(1 << (r_bits * i) for i in range(n_bands)))
    cs = make_band_codes_sig_udf(dim, n_planes, n_bands, seed)
    n_part = int(emb.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"))
    # g(g+1)/2 block-pairs spread over n_part partitions: 4x tasks
    # per slot smooths the half-cost diagonal blocks; replication is
    # g per row (vs n_bands on the banded path)
    g = max(2, math.ceil(math.sqrt(4.0 * n_part)))
    rel = (with_unit_norm(emb, vec_col)
           .select(F.col(id_col).cast("long").alias("vid"), "unit",
                   cs(vec_col).alias("cs"))
           .select("vid", "unit", F.col("cs.sig").alias("sig"),
                   F.pmod(F.xxhash64(F.col("vid")), F.lit(g))
                   .cast("int").alias("gid"))
           .select("vid", "unit", "sig", "gid",
                   F.explode(F.expr(
                       f"transform(sequence(0, {g - 1}), o -> "
                       f"CASE WHEN gid <= o THEN gid * {g} + o "
                       f"ELSE o * {g} + gid END)")).alias("bp")))
    TILE = 2048

    def _scan(ids, U, sigs, gids, a, b):
        out_a, out_b, out_c = [], [], []
        if a == b:
            ai = bi = np.arange(len(ids))
        else:
            ai = np.flatnonzero(gids == a)
            bi = np.flatnonzero(gids == b)
        # float32 PREFILTER only: candidates are a superset (margin
        # 1e-4 dwarfs the worst-case f32 gemm error, ~64·eps32 ≈ 8e-6
        # for 64-dim unit vectors), and membership + the emitted value
        # are decided by the exact float64 einsum below — so the
        # output is unchanged while the dominant n²/2 matmul + scan
        # moves half the bytes
        UA, UB = U[ai].astype(np.float32), U[bi].astype(np.float32)
        for r0 in range(0, len(ai), TILE):
            A = UA[r0:r0 + TILE]
            for c0 in (range(r0, len(bi), TILE) if a == b
                       else range(0, len(bi), TILE)):
                sims = A @ UB[c0:c0 + TILE].T
                ia, ib = np.nonzero(sims >= thr - 1e-4)
                gi, gj = ai[ia + r0], bi[ib + c0]
                if a == b:
                    keep = gi < gj           # upper triangle
                    gi, gj = gi[keep], gj[keep]
                if gi.size:
                    # keep only pairs colliding in >= 1 band: some
                    # r-bit group of the signature XOR is zero
                    xu = (sigs[gi] ^ sigs[gj]).view(np.uint64)
                    z = xu.copy()
                    for k in range(1, r_bits):
                        z |= xu >> np.uint64(k)
                    col = (~z & M_GROUPS) != 0
                    gi, gj = gi[col], gj[col]
                if not gi.size:
                    continue
                # same fixed-shape einsum + round as the banded path,
                # so cosines are byte-identical across strategies
                cos = np.round(
                    np.einsum("ij,ij->i", U[gi], U[gj]), 6)
                keep = cos >= thr
                out_a.append(np.minimum(ids[gi], ids[gj])[keep])
                out_b.append(np.maximum(ids[gi], ids[gj])[keep])
                out_c.append(cos[keep])
        return out_a, out_b, out_c

    def scan_partition(batches):
        import pyarrow as pa

        out_a, out_b, out_c = [], [], []
        cur_key = None
        cur: dict = {"vid": [], "unit": [], "sig": [], "gid": []}

        def flush():
            if cur["vid"]:
                a, b, c = _scan(
                    np.concatenate(cur["vid"]), np.vstack(cur["unit"]),
                    np.concatenate(cur["sig"]),
                    np.concatenate(cur["gid"]),
                    int(cur_key) // g, int(cur_key) % g)
                out_a.extend(a), out_b.extend(b), out_c.extend(c)
            for v in cur.values():
                v.clear()

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            vid = batch.column("vid").to_numpy(zero_copy_only=False)
            sig = batch.column("sig").to_numpy(zero_copy_only=False)
            gid = batch.column("gid").to_numpy(zero_copy_only=False)
            bp = batch.column("bp").to_numpy(zero_copy_only=False)
            ucol = batch.column("unit")
            if ucol.null_count:
                raise ValueError("null unit vector in near-dup scan")
            flat = pa.compute.list_flatten(ucol).to_numpy(
                zero_copy_only=False)
            if flat.size != n * dim:
                raise ValueError("ragged unit vectors in near-dup "
                                 f"scan: {flat.size} != {n}x{dim}")
            U = flat.reshape(n, dim)
            starts = np.flatnonzero(np.r_[True, bp[1:] != bp[:-1]])
            bounds = np.r_[starts, n]
            for s, e in zip(bounds[:-1], bounds[1:]):
                if bp[s] != cur_key:
                    flush()
                    cur_key = bp[s]
                cur["vid"].append(vid[s:e])
                cur["unit"].append(U[s:e])
                cur["sig"].append(sig[s:e])
                cur["gid"].append(gid[s:e])
        flush()
        if out_a:
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(out_a), pa.int64()),
                 pa.array(np.concatenate(out_b), pa.int64()),
                 pa.array(np.concatenate(out_c), pa.float64())],
                ["vec_a", "vec_b", "cosine"])

    return (rel.repartition(n_part, "bp")
            .sortWithinPartitions("bp")
            .mapInArrow(scan_partition,
                        "vec_a long, vec_b long, cosine double"))


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.95,
                             n_planes: int = 64, n_bands: int = 32,
                             seed: int = 5, vec_col: str = "embedding",
                             id_col: str = "vec_id") -> DataFrame:
    """Near-duplicate vector pairs: banded LSH candidates + exact
    cosine ≥ τ verification.

    The band join is the only wide shuffle and carries (id, band,
    code) rows only; unit vectors are joined back for the candidate
    set alone. Exact verification bounds false positives to zero;
    recall is (1 - (1-p^r)^B) per pair — tune (n_planes, n_bands) to
    the target τ.
    """
    dim = len(emb.select(vec_col).head()[0])
    use_sig = n_planes <= 64
    # Dense regime: the banded scan does B·n²/2^r bucket work, an
    # all-pairs block scan does n²/2 — banding only wins when
    # 2^(r-1) > B. When it does not (static in the parameters, not
    # the data: low-τ settings like the bench's r=2/B=32, or small
    # planner-sized corpora), the same result — pairs colliding in
    # ≥1 band with einsum-cos ≥ τ — is computed from the packed
    # signature in one n²/2 scan, ~B·2^(1-r)× less matmul and
    # duplicate-free by construction. Genuinely sparse plans (the
    # 100-TB regime: the planner grows r with the corpus until
    # 2^(r-1) ≫ B) keep the sub-quadratic banded path below.
    if use_sig and n_bands >= (1 << max(0, n_planes // n_bands - 1)):
        return _near_dup_dense(emb, thr=float(threshold),
                               n_planes=n_planes, n_bands=n_bands,
                               seed=seed, vec_col=vec_col,
                               id_col=id_col, dim=dim)
    # n_planes <= 64: ship the packed whole-signature word with every
    # band row (+8 bytes against a dim*8-byte unit vector) so the
    # verify kernel can emit each qualifying pair from its FIRST
    # colliding band only — exactly-once emission instead of once per
    # colliding band (at low r the duplication factor is ~B*p^r: the
    # bench corpus measured 18.1M pre-distinct rows for 1.5M pairs).
    # Wider plans keep the duplicate-emitting path: there p^r is tiny,
    # so duplication is ~1 and the distinct is already cheap.
    if use_sig:
        cs = make_band_codes_sig_udf(dim, n_planes, n_bands, seed)
        bands = (with_unit_norm(emb, vec_col)
                 .select(F.col(id_col).cast("long").alias("vid"),
                         "unit", cs(vec_col).alias("cs"))
                 .select("vid", "unit", F.col("cs.sig").alias("sig"),
                         F.posexplode("cs.codes").alias("band",
                                                        "code")))
    else:
        codes = make_band_codes_udf(dim, n_planes, n_bands, seed)
        bands = with_unit_norm(emb, vec_col).select(
            F.col(id_col).cast("long").alias("vid"), "unit",
            F.lit(0).cast("long").alias("sig"),
            F.posexplode(codes(vec_col)).alias("band", "code"))

    # bucket-local exact verification: candidates never leave their
    # (band, code) bucket as rows — each bucket scans itself with
    # tiled matmuls and emits only qualifying pairs. This removes the
    # two scale-killers of the naive plan measured on the bench
    # corpus: the distinct over the raw candidate-pair stream (16M
    # rows for 2k vectors at low-selectivity thresholds) and the join
    # materializing two unit vectors per candidate. Tiling bounds the
    # similarity matrix to TILE² regardless of bucket size; bucket
    # ROW count is still corpus / 2^r per band — scale r with the
    # corpus (see :func:`near_dup_band_plan`) so one bucket's unit
    # matrix stays executor-sized (and so the total candidate work
    # stays sub-quadratic; at r=2 the scan degenerates to all-pairs,
    # which only test-scale recall-certain settings should use). The
    # emitted cosine is recomputed per pair with a fixed-shape einsum
    # so a pair qualifying in several buckets emits byte-identical
    # rows for the final distinct — tile-shaped BLAS sums are NOT
    # reproducible across bucket sizes, hence the margin + recompute
    # instead of trusting the matmul.
    #
    # Execution is ONE exchange (hash repartition on (band, code)) +
    # an in-partition sort + a segmented mapInArrow kernel: groups are
    # contiguous after the sort, so one Python worker call scans ALL
    # buckets of a partition straight off the Arrow buffers (the unit
    # column never materializes as per-row Python lists, and per-group
    # invocation overhead is gone — groupBy().applyInPandas() pays one
    # pandas DataFrame per bucket, which dominates wall time once r is
    # scaled up and buckets number in the tens of thousands).
    TILE = 4096
    thr = float(threshold)
    r_bits = n_planes // n_bands
    # uint64 group masks for the first-colliding-band test: M has the
    # low bit of every r-bit band group; lo_masks[b] covers all bands
    # before b. Two signatures collide in band b' iff group b' of
    # their XOR is zero; folding each group's r bits onto its low bit
    # (z |= x >> k) turns "group zero" into "low bit of ~z set".
    if use_sig:
        M_GROUPS = np.uint64(
            sum(1 << (r_bits * i) for i in range(n_bands)))
        LO_MASKS = np.array([(1 << (r_bits * b)) - 1
                             for b in range(n_bands)], dtype=np.uint64)
    else:
        M_GROUPS = LO_MASKS = None

    def _verify(ids: np.ndarray, U: np.ndarray, sigs, band: int):
        n = len(ids)
        out_a, out_b, out_c = [], [], []
        for r0 in range(0, n, TILE):
            A = U[r0:r0 + TILE]
            for c0 in range(r0, n, TILE):
                sims = A @ U[c0:c0 + TILE].T
                ia, ib = np.nonzero(sims >= thr - 1e-6)
                gi, gj = ia + r0, ib + c0
                keep = gi < gj               # upper triangle, global
                gi, gj = gi[keep], gj[keep]
                if sigs is not None and band and gi.size:
                    # drop pairs that already collided in an earlier
                    # band — they were emitted there (cos is recomputed
                    # identically per pair, so first-band emission
                    # yields exactly the post-distinct set)
                    xu = (sigs[gi] ^ sigs[gj]).view(np.uint64)
                    z = xu.copy()
                    for k in range(1, r_bits):
                        z |= xu >> np.uint64(k)
                    fb = ((~z & M_GROUPS) & LO_MASKS[band]) == 0
                    gi, gj = gi[fb], gj[fb]
                if not gi.size:
                    continue
                cos = np.round(
                    np.einsum("ij,ij->i", U[gi], U[gj]), 6)
                keep = cos >= thr
                out_a.append(np.minimum(ids[gi], ids[gj])[keep])
                out_b.append(np.maximum(ids[gi], ids[gj])[keep])
                out_c.append(cos[keep])
        return out_a, out_b, out_c

    def verify_partition(batches):
        import pyarrow as pa

        out_a, out_b, out_c = [], [], []
        cur_key = None
        cur_ids: list = []
        cur_units: list = []
        cur_sigs: list = []

        def flush():
            if cur_ids:
                a, b, c = _verify(
                    np.concatenate(cur_ids), np.vstack(cur_units),
                    np.concatenate(cur_sigs) if use_sig else None,
                    int(cur_key >> 32))
                out_a.extend(a), out_b.extend(b), out_c.extend(c)
            cur_ids.clear(), cur_units.clear(), cur_sigs.clear()

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            vid = batch.column("vid").to_numpy(zero_copy_only=False)
            band = batch.column("band").to_numpy(zero_copy_only=False)
            code = batch.column("code").to_numpy(zero_copy_only=False)
            sig = batch.column("sig").to_numpy(zero_copy_only=False)
            ucol = batch.column("unit")
            if ucol.null_count:
                raise ValueError("null unit vector in near-dup verify")
            flat = pa.compute.list_flatten(ucol).to_numpy(
                zero_copy_only=False)
            if flat.size != n * dim:
                raise ValueError("ragged unit vectors in near-dup "
                                 f"verify: {flat.size} != {n}x{dim}")
            U = flat.reshape(n, dim)
            # (band, code) are 32-bit non-negative — pack to segment
            key = (band.astype(np.int64) << 32) | code.astype(np.int64)
            starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
            bounds = np.r_[starts, n]
            for s, e in zip(bounds[:-1], bounds[1:]):
                if key[s] != cur_key:
                    flush()
                    cur_key = key[s]
                cur_ids.append(vid[s:e])
                cur_units.append(U[s:e])
                cur_sigs.append(sig[s:e])
        flush()
        if out_a:
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(out_a), pa.int64()),
                 pa.array(np.concatenate(out_b), pa.int64()),
                 pa.array(np.concatenate(out_c), pa.float64())],
                ["vec_a", "vec_b", "cosine"])

    n_part = int(bands.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"))
    return (bands.repartition(n_part, "band", "code")
            .sortWithinPartitions("band", "code")
            .mapInArrow(verify_partition,
                        "vec_a long, vec_b long, cosine double")
            .distinct())


def _topk_lsh_dense(emb: DataFrame, queries: DataFrame, k: int,
                    n_planes: int, n_bands: int, seed: int,
                    vec_col: str, id_col: str, dim: int) -> DataFrame:
    """Dense-regime kernel for :func:`cosine_topk_lsh`: one Arrow
    pass over the corpus; per batch, signatures are derived with the
    same planes/packing as the band UDF, candidates are the pairs
    whose signature XOR has a zero r-bit group (= share a band), and
    scoring replays the HOF plan's left-fold norm/dot exactly. Each
    task emits its local top-k per query; the trailing window ranks
    the pruned set (same total order, identical global result)."""
    r_bits = n_planes // n_bands
    M_GROUPS = np.uint64(sum(1 << (r_bits * i) for i in range(n_bands)))
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_planes, dim)).astype(np.float64)
    pack = (1 << np.arange(r_bits, dtype=np.int64))
    shifts = (np.arange(n_bands, dtype=np.uint64) * np.uint64(r_bits))

    def _sigs(mat: np.ndarray) -> np.ndarray:
        bits = (mat @ planes.T) > 0
        c = bits.reshape(len(mat), n_bands, r_bits).astype(np.int64) \
            @ pack
        return np.bitwise_or.reduce(
            c.astype(np.uint64) << shifts, axis=1)

    qrows = queries.select(F.col(id_col).cast("long"),
                           vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = (np.stack([np.asarray(r[1], dtype=np.float64)
                   for r in qrows])
         if qrows else np.empty((0, dim)))
    nq = len(qids)
    if nq:
        qsig = _sigs(Q)
        acc = np.zeros(nq)
        for c in range(dim):                 # left fold, like the HOF
            acc = acc + Q[:, c] * Q[:, c]
        QU = Q / np.sqrt(acc)[:, None]

    def topk_partition(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if not n or not nq:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            flat = pa.compute.list_flatten(batch.column(1)).to_numpy(
                zero_copy_only=False)
            if flat.size != n * dim:
                raise ValueError("ragged embedding in lsh topk scan")
            M = flat.reshape(n, dim).astype(np.float64)
            sig = _sigs(M)
            # (n, nq) any-shared-band mask from the signature XOR
            xu = sig[:, None] ^ qsig[None, :]
            z = xu.copy()
            for kk in range(1, r_bits):
                z |= xu >> np.uint64(kk)
            cand = (~z & M_GROUPS) != 0
            acc = np.zeros(n)
            for c in range(dim):             # left fold, like the HOF
                acc = acc + M[:, c] * M[:, c]
            U = M / np.sqrt(acc)[:, None]
            dots = np.zeros((n, nq))
            for c in range(dim):             # left fold, like the HOF
                dots = dots + U[:, c][:, None] * QU[:, c][None, :]
            cos = np.round(dots, 6)
            out_q, out_n, out_c = [], [], []
            for j in range(nq):
                sel = np.flatnonzero(cand[:, j] & (ids != qids[j]))
                if not sel.size:
                    continue
                cj = cos[:, j]
                order = sel[np.lexsort((ids[sel], -cj[sel]))][:k]
                out_q.append(np.full(len(order), qids[j],
                                     dtype=np.int64))
                out_n.append(ids[order])
                out_c.append(cj[order])
            if out_q:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.concatenate(out_q), pa.int64()),
                     pa.array(np.concatenate(out_n), pa.int64()),
                     pa.array(np.concatenate(out_c), pa.float64())],
                    ["query_id", "nbr_id", "cosine"])

    scored = (emb.select(F.col(id_col).cast("long").alias("nbr_id"),
                         vec_col)
              .mapInArrow(topk_partition,
                          "query_id long, nbr_id long, cosine double"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("nbr_id"))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "nbr_id", "cosine"))


def cosine_topk_lsh(emb: DataFrame, queries: DataFrame, k: int = 10,
                    n_planes: int = 64, n_bands: int = 32, seed: int = 5,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """Approximate top-k via banded hyperplane candidates + exact
    re-rank (multi-band OR-construction — the "multi-table" form).

    A corpus vector is a candidate for a query iff they share any
    band code; candidates are re-scored exactly, so output ties/order
    match the brute-force baseline wherever recall is 1.

    Dense parameterizations (n_bands ≥ 2^(r-1), same static switch as
    :func:`embedding_near_dup_pairs`) skip the band join + distinct —
    there nearly every (query, corpus) pair is a candidate, so the
    join materializes ~B·p^r copies of an almost-all-pairs relation.
    Instead the corpus streams through one mapInArrow pass that
    derives each row's packed band signature, keeps pairs sharing
    ≥ 1 band (an XOR group test against the query signatures), and
    scores them with the same exact left-fold arithmetic as the HOF
    plan — the candidate set, cosines and ranks are identical.
    """
    dim = len(emb.select(vec_col).head()[0])
    r_bits = n_planes // n_bands
    if n_planes <= 64 and n_bands >= (1 << max(0, r_bits - 1)):
        return _topk_lsh_dense(emb, queries, k, n_planes, n_bands,
                               seed, vec_col, id_col, dim)
    codes = make_band_codes_udf(dim, n_planes, n_bands, seed)
    cb = _band_relation(emb, codes, vec_col, id_col, "nbr_id")
    qb = _band_relation(queries, codes, vec_col, id_col, "query_id")
    cands = (cb.join(F.broadcast(qb), ["band", "code"])
             .where(F.col("query_id") != F.col("nbr_id"))
             .select("query_id", "nbr_id")
             .distinct())
    corpus = with_unit_norm(emb, vec_col).select(
        F.col(id_col).alias("nbr_id"), F.col("unit").alias("nbr_unit"))
    qs = with_unit_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("unit").alias("q_unit"))
    dot = F.aggregate(
        F.zip_with("q_unit", "nbr_unit", lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x)
    scored = (cands.join(corpus, "nbr_id")
              .join(F.broadcast(qs), "query_id")
              .withColumn("cosine", F.round(dot, 6)))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("nbr_id"))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "nbr_id", "cosine"))


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------

def ivf_train(emb: DataFrame, n_centroids: int = 16, sample_n: int = 4096,
              seed: int = 13, iters: int = 20, vec_col: str = "embedding",
              id_col: str = "vec_id") -> np.ndarray:
    """Train unit-norm centroids with Lloyd's k-means on a bounded,
    deterministic sample (ordered by id). The sample is the only
    driver-side data — ≤ sample_n vectors regardless of corpus size —
    matching how IVF indexes are built in practice.
    """
    rows = (emb.orderBy(id_col).limit(sample_n)
            .select(vec_col).collect())
    X = np.array([r[0] for r in rows], dtype=np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), n_centroids, replace=False)].copy()
    for _ in range(iters):
        assign = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
        for j in range(n_centroids):
            members = assign == j
            if members.any():
                C[j] = X[members].mean(0)
    return C / np.linalg.norm(C, axis=1, keepdims=True)


def make_ivf_probe_udf(centroids: np.ndarray, nprobe: int):
    """array<int> of the nprobe nearest centroid ids (cosine order)."""
    C = np.ascontiguousarray(centroids, dtype=np.float64)

    @pandas_udf("array<int>")
    def probes(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        sim = mat @ C.T
        top = np.argsort(-sim, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(top))

    return probes


def ivf_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
             n_centroids: int = 16, nprobe: int = 10,
             vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """IVF top-k: (query_id, rank, nbr_id, cosine) over the probed
    buckets. The corpus is assigned to its single nearest centroid
    (one int per vector — the inverted file); queries probe ``nprobe``
    centroids; candidate volume ≈ corpus × nprobe / n_centroids. With
    ``nprobe == n_centroids`` every cell is probed, so the result must
    EQUAL the brute-force top-k — the oracle-checked plumbing proof
    (driver query ann_topk_ivf_fullprobe); with fewer probes recall is
    measured by :func:`ann_topk_ivf`."""
    centroids = ivf_train(emb, n_centroids, vec_col=vec_col, id_col=id_col)
    assign1 = make_ivf_probe_udf(centroids, 1)
    probe_n = make_ivf_probe_udf(centroids, nprobe)
    corpus = with_unit_norm(emb, vec_col).select(
        F.col(id_col).alias("nbr_id"), F.col("unit").alias("nbr_unit"),
        assign1(vec_col)[0].alias("cell"))
    qs = with_unit_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("unit").alias("q_unit"),
        F.explode(probe_n(vec_col)).alias("cell"))
    dot = F.aggregate(
        F.zip_with("q_unit", "nbr_unit", lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x)
    scored = (corpus.join(F.broadcast(qs), "cell")
              .where(F.col("query_id") != F.col("nbr_id"))
              .withColumn("cosine", F.round(dot, 6)))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("nbr_id"))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "nbr_id", "cosine"))


def _fold_dot(vec, lit_arr) -> F.Column:
    """Left-fold dot product — the exact fold order every oracle in
    this module mirrors (zip_with multiply, then acc + x from 0.0)."""
    return F.aggregate(F.zip_with(vec, lit_arr, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _dlit(vals) -> F.Column:
    """array<double> literal built in ONE expression-parse py4j call.
    ``F.lit(list)`` makes one JVM roundtrip per element — building the
    IVF-PQ plan with its 16x64-double codebook literals measured
    ~1.4 s of driver time per query call. repr() of a finite double is
    the shortest exact round-trip form and Spark's literal parser is
    correctly rounded, so the resulting Literal is bit-identical;
    non-finite values fall back to F.lit."""
    vals = [float(v) for v in vals]
    if not all(v == v and abs(v) != float("inf") for v in vals):
        return F.lit(vals)
    return F.expr("array(" + ",".join(repr(v) + "D" for v in vals)
                  + ")")


def _dlit2(rows) -> F.Column:
    """array<array<double>> literal in one py4j call (see _dlit)."""
    rows = [[float(v) for v in r] for r in rows]
    if not all(v == v and abs(v) != float("inf")
               for r in rows for v in r):
        return F.lit(rows)
    return F.expr("array(" + ",".join(
        "array(" + ",".join(repr(v) + "D" for v in r) + ")"
        for r in rows) + ")")


def _llit(vals) -> F.Column:
    """array<bigint> literal in one py4j call (see _dlit)."""
    return F.expr("array(" + ",".join(str(int(v)) + "L" for v in vals)
                  + ")")


def _collect_cell_codebook(normed: DataFrame, n_centroids: int,
                           id_col: str) -> tuple:
    """Driver-side collect of the fixed IVF codebook (unit-normalized
    first ``n_centroids`` corpus vectors by id) → (cell_ids, units).

    Bounded — n_centroids rows, the same bounded-collect budget as
    k-means training (≤4096-row sample). Collecting lets assignment
    run as an INLINE whole-stage argmax over literal centroid arrays
    instead of the broadcast cross-join + row_number() window that
    shuffled corpus × n_centroids rows just to pick each vector's
    best cell (r5 verdict: the last non-bucketed link in the ANN
    chain). At 100 TB the corpus side stays exchange-free."""
    rows = (normed.where(F.col(id_col) < n_centroids)
            .select(F.col(id_col).cast("long").alias("cell"), "unit")
            .orderBy("cell").collect())
    if not rows:
        raise ValueError(
            f"IVF codebook is empty: no corpus ids < {n_centroids}")
    return ([int(r["cell"]) for r in rows],
            [[float(x) for x in r["unit"]] for r in rows])


def _cell_scores(vec, cell_ids: list, cell_units: list) -> F.Column:
    """array<struct<nd, cell>> of (-dot(vec, centroid), cell id): the
    ASCENDING struct order equals (dot desc, cell asc) — the tie rule
    the window form used — so ``array_min`` is single-cell assignment
    and ``slice(array_sort(...), 1, nprobe)`` is query probing. One
    2-D literal + transform: constant-folded, zero exchange."""
    ids_lit = _llit(cell_ids)
    return F.transform(
        _dlit2(cell_units),
        lambda cu, i: F.struct(
            (-_fold_dot(vec, cu)).alias("nd"),
            F.element_at(ids_lit, (i + F.lit(1)).cast("int"))
            .alias("cell")))


def _np_unit(X: np.ndarray) -> np.ndarray:
    """Unit-normalize rows with arithmetic bit-identical to
    with_unit_norm: per-element float64 cast, LEFT-FOLD sum of
    squares (cumsum is the sequential prefix fold; 0.0 + x == x
    exactly), sqrt, per-element divide."""
    X = X.astype(np.float64, copy=False)
    norms = np.sqrt(np.cumsum(X * X, axis=1)[:, -1])
    return X / norms[:, None]


def _np_fold_dots(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, d) × (k, d) → (n, k) dot products, each in LEFT-FOLD
    order (cumsum), so results are bit-identical to the JVM/DuckDB
    ``aggregate(zip_with(...))`` fold — NOT a BLAS matmul, whose
    pairwise summation would drift on the last bit and flip
    argmax ties cross-engine."""
    out = np.empty((X.shape[0], C.shape[0]), dtype=np.float64)
    # one (n, d) scratch reused across the centroid loop (the naive
    # form allocated two fresh (n, d) temporaries per centroid —
    # 2k full-batch buffers of memory churn per Arrow batch at wide d)
    tmp = np.empty_like(X, dtype=np.float64)
    for j in range(C.shape[0]):
        np.multiply(X, C[j][None, :], out=tmp)
        np.cumsum(tmp, axis=1, out=tmp)
        out[:, j] = tmp[:, -1]
    return out


def _ivf_index_arrow(emb: DataFrame, cell_ids: list, cell_units: list,
                     vec_col: str, id_col: str,
                     cw_subs: list | None = None,
                     n_bits: int = 0, residual: bool = False,
                     with_unit: bool = False) -> DataFrame:
    """Corpus-side IVF(-PQ) index in ONE mapInArrow pass:
    (vid, cell[, packed][, unit]).

    This is the 100 TB shape AND the fast local shape: zero
    exchange (embarrassingly parallel over input splits), zero
    higher-order-function interpretation (the r6 inline-expression
    form was exchange-free but paid ~1 µs per interpreted lambda
    element — 10× slower than the join it replaced at bench scale),
    and no groupBy to pack codes (subspace codes pack in numpy, so
    the former codes→packed aggregation exchange disappears too).
    All arithmetic is exact-fold (:func:`_np_unit`,
    :func:`_np_fold_dots`, score = dot − |cw|²/2 with the same op
    order), so cells, codes and every downstream oracle hash are
    bit-identical to the relational form. Ties: ``np.argmax`` keeps
    the first (lowest) index — the (score desc, id asc) rule.
    """
    import pyarrow as pa

    ids_arr = np.asarray(cell_ids, dtype=np.int64)
    CU = np.asarray(cell_units, dtype=np.float64)
    CW = ([np.asarray(c, dtype=np.float64) for c in cw_subs]
          if cw_subs is not None else None)
    if CW is not None:
        N2 = []
        for M in CW:
            n2m = []
            for c in M:
                acc = 0.0
                for x in c:
                    acc = acc + float(x) * float(x)
                n2m.append(acc)
            N2.append(np.asarray(n2m, dtype=np.float64))
    n_sub = len(CW) if CW is not None else 0
    sub_w = CU.shape[1] // n_sub if n_sub else 0

    fields = [("vid", pa.int64()), ("cell", pa.int64())]
    if CW is not None:
        fields.append(("packed", pa.int64()))
    if with_unit:
        fields.append(("unit", pa.list_(pa.float64())))
    schema = pa.schema(fields)

    def index_batches(batches):
        for batch in batches:
            vid = batch.column(0).to_numpy(zero_copy_only=False)
            col = batch.column(1)
            flat = col.flatten().to_numpy(zero_copy_only=False)
            n = len(vid)
            if n == 0:
                continue
            # ListArray.flatten() silently DROPS null slots: a null or
            # ragged embedding row would shift every subsequent value
            # before the reshape — a confusing reshape error at best,
            # silent row misalignment when the residual still divides n
            if col.null_count or flat.size != n * CU.shape[1]:
                raise ValueError(
                    f"embedding column must be non-null fixed-width: "
                    f"null_count={col.null_count}, values={flat.size}, "
                    f"expected {n} x {CU.shape[1]}")
            X = flat.reshape(n, -1)
            U = _np_unit(X)
            best = np.argmax(_np_fold_dots(U, CU), axis=1)
            arrays = [pa.array(vid.astype(np.int64)),
                      pa.array(ids_arr[best])]
            if CW is not None:
                V = U - CU[best] if residual else U
                packed = np.zeros(n, dtype=np.int64)
                for m in range(n_sub):
                    S = V[:, m * sub_w:(m + 1) * sub_w]
                    scores = _np_fold_dots(S, CW[m]) - N2[m][None, :] / 2
                    packed |= np.argmax(scores, axis=1).astype(
                        np.int64) << (m * n_bits)
                arrays.append(pa.array(packed))
            if with_unit:
                arrays.append(pa.array(list(U)))
            yield pa.RecordBatch.from_arrays(arrays, schema=schema)

    from .spread import spread

    # widen under-parallel inputs (one local parquet split would
    # serialize the indexing pass on one core); no-op at scale. The
    # only Exchange this can introduce is a RoundRobinPartitioning —
    # the no-shuffle plan contract (test_plans.py) still forbids
    # joins/windows/hash exchanges here.
    src = spread(emb).select(F.col(id_col).cast("long"), vec_col)
    out_ddl = "vid long, cell long" \
        + (", packed long" if CW is not None else "") \
        + (", unit array<double>" if with_unit else "")
    return src.mapInArrow(index_batches, out_ddl)


def ivf_topk_fixed_codebook(emb: DataFrame, queries: DataFrame,
                            k: int = 10, n_centroids: int = 16,
                            nprobe: int = 4,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """IVF top-k with a deterministic, SQL-recomputable codebook.

    The centroids are the unit-normalized first ``n_centroids`` corpus
    vectors by id (ids assumed 0-based; cell key = codebook vec id) —
    no k-means, so a DuckDB oracle can rebuild the ENTIRE index:
    assignment, probing and re-rank are all plain relational algebra
    over exact fold-order dot products. Everything runs JVM-side
    (``aggregate``/``zip_with`` folds, broadcast 16-row codebook, no
    Python in the row path):

    * assignment — INLINE argmax over the literal centroid array
      (ties → lowest cell id): one whole-stage projection, no join
      inflation, no window shuffle — the corpus side is exchange-free
      up to the cell join (plan-asserted in test_plans.py);
    * probing — each query keeps its ``nprobe`` best cells, so only
      ~``nprobe/n_centroids`` of the corpus is scored (the sub-linear
      property; with random seeds k-means would sharpen the cells but
      break oracle reproducibility — that path is :func:`ivf_topk`);
    * re-rank — exact cosine inside probed cells, row_number ≤ k.

    Output: (query_id, rank, nbr_id, cosine) — possibly fewer than k
    rows per query when probed cells are small; recall vs brute force
    is measured by the pytest suite, not assumed.
    """
    normed = with_unit_norm(emb, vec_col)
    cell_ids, cell_units = _collect_cell_codebook(
        normed, n_centroids, id_col)

    def _dot(a: str, b: str) -> F.Column:
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                           F.lit(0.0), lambda acc, x: acc + x)

    corpus = (_ivf_index_arrow(emb, cell_ids, cell_units, vec_col,
                               id_col, with_unit=True)
              .select(F.col("vid").alias("nbr_id"),
                      F.col("unit").alias("nbr_unit"), "cell"))
    probes = (with_unit_norm(queries, vec_col)
              .select(F.col(id_col).alias("query_id"),
                      F.col("unit").alias("q_unit"),
                      F.explode(_let(F.col("unit"), lambda u: F.slice(
                          F.array_sort(_cell_scores(
                              u, cell_ids, cell_units)),
                          1, nprobe))).alias("_pc"))
              .select("query_id", "q_unit",
                      F.col("_pc.cell").alias("cell")))
    scored = (corpus.join(F.broadcast(probes), "cell")
              .where(F.col("query_id") != F.col("nbr_id"))
              .withColumn("cosine",
                          F.round(_dot("q_unit", "nbr_unit"), 6)))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("nbr_id"))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "nbr_id", "cosine"))


def ann_topk_ivf(emb: DataFrame, queries: DataFrame, k: int = 10,
                 n_centroids: int = 16, nprobe: int = 10,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """IVF ANN with *measured* recall: per query, the top-k over the
    probed buckets plus a recall_at_k column vs the in-Spark exact
    top-k. Output: (query_id, hits, recall_at_k).

    Recall is surfaced, not assumed — on isotropic data it is < 1 and
    the column says so; the pytest suite pins the measured values.
    """
    approx = ivf_topk(emb, queries, k, n_centroids, nprobe,
                      vec_col, id_col).select("query_id", "nbr_id")
    exact = cosine_topk_bruteforce(emb, queries, k, vec_col, id_col) \
        .select("query_id", "nbr_id")
    hits = (exact.join(approx, ["query_id", "nbr_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("hits")))
    allq = exact.select("query_id").distinct()
    return (allq.join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce("hits", F.lit(0)).alias("hits"))
            .withColumn("recall_at_k",
                        F.round(F.col("hits") / F.lit(float(k)), 6)))


def embedding_near_dup_exact(emb: DataFrame, threshold: float = 0.9,
                             vec_col: str = "embedding",
                             id_col: str = "vec_id") -> DataFrame:
    """Exact near-duplicate pairs (all-pairs cosine ≥ τ).

    Quadratic — the oracle/verification path only; the registered
    scale path is :func:`embedding_near_dup_pairs` (banded LSH
    candidates, identical final predicate)."""
    normed = with_unit_norm(emb, vec_col).select(
        F.col(id_col).alias("vid"), F.col("unit"))
    a = normed.alias("a")
    b = normed.alias("b")
    dot = F.aggregate(
        F.zip_with("a.unit", "b.unit", lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)
    return (a.join(b, F.col("a.vid") < F.col("b.vid"))
            .withColumn("cosine", F.round(dot, 6))
            .where(F.col("cosine") >= threshold)
            .select(F.col("a.vid").alias("vec_a"),
                    F.col("b.vid").alias("vec_b"), "cosine"))


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized re-rank (the memory-bandwidth win at scale)
# ---------------------------------------------------------------------------

def pq_codes_fixed_codebook(emb: DataFrame, n_sub: int = 8,
                            n_codes: int = 16, dim: int = 64,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """Product-quantization codes with a deterministic codebook.

    Each unit-normalized vector splits into ``n_sub`` contiguous
    subvectors; subspace ``m``'s codebook is the m-th subvector of the
    first ``n_codes`` corpus vectors (by id — no k-means, so a SQL
    oracle can rebuild the whole index). A vector's code in subspace m
    is the L2-nearest codeword, computed as
    ``argmax(dot(sub, cw) - |cw|^2 / 2)`` (equivalent to argmin
    squared-L2 since the |sub|^2 term is constant per vector; ties →
    lowest code) — only dot products and a per-codeword constant, the
    fold idiom the ANN oracles already prove matches DuckDB.

    Output: (vid, m, code) — the inverted representation of
    ``n_sub * log2(n_codes)`` bits per vector (8 subspaces x 16 codes
    = 4 bytes/vector of information vs 256 bytes of floats). At 100 TB
    the codes relation is what candidate scoring reads; full vectors
    are touched only for the final refine set.

    The per-subspace argmin runs INLINE over literal codeword arrays
    (same pattern as IVF cell assignment): the former broadcast-join +
    row_number() window materialized and shuffled corpus × n_sub ×
    n_codes rows; this shape is one exchange-free projection.
    """
    sub_w = dim // n_sub
    normed = with_unit_norm(emb, vec_col)
    rows = (normed.where(F.col(id_col) < n_codes)
            .select(F.col(id_col).cast("int").alias("code"), "unit")
            .orderBy("code").collect())           # bounded: n_codes rows
    cw = {int(r["code"]): [float(x) for x in r["unit"]] for r in rows}
    if sorted(cw) != list(range(n_codes)):
        raise ValueError(
            f"PQ codebook needs dense corpus ids 0..{n_codes - 1}; "
            f"got {len(cw)} of {n_codes}")
    cw_subs = [[cw[c][m * sub_w:(m + 1) * sub_w]
                for c in range(n_codes)] for m in range(n_sub)]
    return normed.select(
        F.col(id_col).alias("vid"),
        F.posexplode(_let(F.col("unit"), lambda u: F.array(*[
            _pq_code_argmin(F.slice(u, m * sub_w + 1, sub_w),
                            cw_subs[m])
            for m in range(n_sub)]))).alias("m", "code"))


def _pq_code_argmin(sub, codewords: list) -> F.Column:
    """Best PQ code for one subvector: argmax(dot(sub, cw) - |cw|²/2)
    over a LITERAL codeword array, ties → lowest code. |cw|² uses the
    identical left fold (acc + x*x from 0.0) Python-side, so scores
    are bit-equal to the relational/oracle form."""
    n2 = []
    for c in codewords:
        acc = 0.0
        for x in c:
            acc = acc + x * x
        n2.append(acc)
    n2_lit = _dlit(n2)
    return _let(sub, lambda s: F.array_min(F.transform(
        _dlit2([list(c) for c in codewords]),
        lambda c, i: F.struct(
            (-(_fold_dot(s, c)
               - F.element_at(n2_lit, (i + F.lit(1)).cast("int"))
               / F.lit(2))).alias("ns"),
            i.cast("int").alias("code"))))).getField("code")


def pq_reconstruct(codes: DataFrame, codebook: DataFrame) -> DataFrame:
    """(vid, m, code) + (m, code, cw) → (vid, recon): the quantized
    vector, subvectors concatenated in subspace order. Reading a
    reconstruction costs the codes plus the broadcast codebook — never
    the original floats."""
    return (codes.join(F.broadcast(codebook), ["m", "code"])
            .groupBy("vid")
            .agg(F.flatten(F.array_sort(F.collect_list(
                F.struct("m", "cw"))).getField("cw")).alias("recon")))


def pq_train_residual_codebooks(emb: DataFrame, n_centroids: int = 16,
                                n_sub: int = 8, n_codes: int = 256,
                                dim: int = 64, sample_n: int = 4096,
                                iters: int = 20, seed: int = 13,
                                vec_col: str = "embedding",
                                id_col: str = "vec_id") -> np.ndarray:
    """K-means residual codebooks: (n_sub, n_codes, dim/n_sub).

    Trains per-subspace codewords on IVF residuals (unit - centroid of
    the assigned cell, cells = the first ``n_centroids`` corpus
    vectors — matching :func:`ivfpq_topk_fixed_codebook`'s
    assignment) over a bounded, deterministic sample — the same
    driver-side-training convention as :func:`ivf_train`. Measured on
    the clustered fixture (tests/test_clustered_recall.py): trained
    residual codebooks beat both fixed-sample variants at shallow
    refine (0.82 vs 0.77 plain / 0.73 residual-fixed at 8x256),
    because sampled residual vectors are poor codewords for an
    isotropic residual cloud while k-means centroids tile it.
    """
    rows = (emb.orderBy(id_col).limit(max(sample_n, n_centroids))
            .select(vec_col).collect())
    X = np.array([r[0] for r in rows], dtype=np.float64)
    U = X / np.linalg.norm(X, axis=1, keepdims=True)
    cells = U[:n_centroids]
    R = U - cells[(U @ cells.T).argmax(1)]
    sub_w = dim // n_sub
    rng = np.random.default_rng(seed)
    out = np.empty((n_sub, n_codes, sub_w))
    for m in range(n_sub):
        S = R[:, m * sub_w:(m + 1) * sub_w]
        C = S[rng.choice(len(S), n_codes, replace=False)].copy()
        for _ in range(iters):
            a = ((S[:, None, :] - C[None]) ** 2).sum(-1).argmin(1)
            for j in range(n_codes):
                members = a == j
                if members.any():
                    C[j] = S[members].mean(0)
        out[m] = C
    return out


def ivfpq_topk_fixed_codebook(emb: DataFrame, queries: DataFrame,
                              k: int = 10, n_centroids: int = 16,
                              nprobe: int = 4, n_sub: int = 8,
                              n_codes: int = 16, dim: int = 64,
                              refine: int = 40,
                              vec_col: str = "embedding",
                              id_col: str = "vec_id",
                              residual: bool = False,
                              codebooks: np.ndarray | None = None
                              ) -> DataFrame:
    """IVF-PQ top-k, fully deterministic (SQL-recomputable oracle).

    Pipeline — the shape a 100 TB ANN deployment uses:

    1. IVF: corpus assigned to its best of ``n_centroids`` cells
       (fixed codebook = first vectors by id, as
       :func:`ivf_topk_fixed_codebook`); queries probe ``nprobe``
       cells → candidate set ~= corpus * nprobe / n_centroids.
    2. ADC scoring: each vector's ``n_sub`` codes are bit-packed into
       ONE integer (n_sub * ceil(log2 n_codes) bits — 32 bits at the
       defaults, the literal 4-bytes-per-candidate promise; up to 64
       bits fits, so 8 subspaces x 256-code production codebooks pack
       too — the sign bit is safe because extraction uses unsigned
       shifts and disjoint-bit sums), and a
       per-query lookup table ``LUT(query)[m * n_codes + code] =
       dot(q_sub_m, codeword)`` (n_sub * n_codes BIGINTs per query) is
       broadcast as one array row per query. A candidate's approximate
       score is a static whole-stage-codegen expression — n_sub
       ``element_at`` lookups on shift/mask-extracted codes, summed —
       so the scoring stage is ONE join of (query_id, nbr_id) with the
       packed-code relation plus a broadcast: no per-subspace row
       explosion, no groupBy shuffle (the r5 probe showed the exploded
       (vid, m, code) form shuffled 12x more than recon-join scoring;
       the packed form shuffles ~30x less — BENCH/BASELINE.md
       "IVF-PQ ADC scoring bytes").
       LUT entries are quantized to integers (``floor(dot * 1e6 +
       0.5)`` as BIGINT) so per-candidate sums are exact integer
       sums: order-independent, bit-identical across engines (no
       float-associativity drift — the hazard the sketch's ln()
       contract has). Top ``refine`` per query survive (ties → lowest
       id — cross-engine stable).
    3. Refine: exact cosine on the surviving ``refine`` vectors only,
       row_number <= k.

    ``residual=True`` switches to residual PQ — the production form:
    vectors are quantized as ``centroid + PQ(unit - centroid)``, with
    the codebook built from the residuals of the first ``n_codes``
    corpus vectors and the ADC score extended by one per-(query, cell)
    centroid term (``floor(dot(q, c_cell) * 1e6 + 0.5)``, broadcast —
    nprobe rows per query). Same packed codes, same integer-exact
    sums. Why it exists: on tightly clustered corpora plain PQ
    codewords collapse per cluster (all same-cell candidates share
    codes → ADC ties → shallow refine keeps an arbitrary subset;
    measured recall 0.59 at the defaults in
    tests/test_clustered_recall.py), while residuals retain the
    within-cluster geometry the ranking needs.

    Output: (query_id, rank, nbr_id, cosine) with exact cosines.
    """
    sub_w = dim // n_sub
    normed = with_unit_norm(emb, vec_col)
    u = normed.select(F.col(id_col).alias("vid"), "unit")

    def _dot(a, b) -> F.Column:
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                           F.lit(0.0), lambda acc, x: acc + x)

    # --- ONE bounded collect serves the cell codebook, the PQ
    # codebook and (residual mode) the driver-side residual
    # computation — every derived value uses the exact-fold numpy
    # helpers, so it is bit-identical to what the former relational
    # construction computed (and to the SQL oracle's recomputation)
    base_rows = (normed
                 .where(F.col(id_col) < max(n_centroids, n_codes))
                 .select(F.col(id_col).cast("long").alias("_id"),
                         "unit")
                 .orderBy("_id").collect())
    unit_map = {int(r["_id"]): [float(x) for x in r["unit"]]
                for r in base_rows}
    cell_ids = sorted(i for i in unit_map if i < n_centroids)
    if not cell_ids:
        raise ValueError(
            f"IVF codebook is empty: no corpus ids < {n_centroids}")
    cell_units = [unit_map[i] for i in cell_ids]
    # --- query-side plans (probes, LUT, centroid terms) computed
    # driver-side from the collected (bounded) query set: the old
    # relational form spent ~1 s of py4j plan construction per call
    # (codebook literals, HOF folds, explode+join+groupBy for the
    # LUT) to derive a few hundred values. The JVM-computed q_unit is
    # collected as-is and every derived number uses the exact-fold
    # helpers + the same (dot*1e6 + 0.5) floor, so probes, LUT
    # entries and refine cosines are bit-identical to the relational
    # construction (and to the SQL oracle).
    qrows = (with_unit_norm(queries, vec_col)
             .select(F.col(id_col).alias("query_id"), "unit")
             .collect())
    qids = [r["query_id"] for r in qrows]
    if len(set(qids)) != len(qids):
        # every downstream join keys on query_id: a repeated id would
        # multiply its candidate rows instead of failing
        raise ValueError("ivfpq_topk_fixed_codebook: duplicate query_id "
                         "in queries")
    QU = (np.array([r["unit"] for r in qrows], dtype=np.float64)
          if qrows else np.empty((0, dim)))
    CU = np.asarray(cell_units, dtype=np.float64)
    cells_arr = np.asarray(cell_ids, dtype=np.int64)
    qdots = _np_fold_dots(QU, CU) if len(qids) else \
        np.empty((0, len(cell_ids)))
    probe_cells = []                  # (query_id, cell)
    cell_rows = []                    # (query_id, cell, cell_i)
    for qi, qid in enumerate(qids):
        nd = -qdots[qi]
        order = np.lexsort((cells_arr, nd))[:nprobe]
        for j in order:
            probe_cells.append((qid, int(cells_arr[j])))
            cell_rows.append((qid, int(cells_arr[j]),
                              int(np.floor(qdots[qi][j] * 1e6 + 0.5))))

    # --- PQ codebook (driver-side) + its relational twin for the LUT
    spark = emb.sparkSession
    if residual and codebooks is not None:
        # trained codewords (pq_train_residual_codebooks) — the
        # production path; the fixed-sample fallback below keeps the
        # deterministic/SQL-expressible variant
        cw_subs = [[[float(x) for x in codebooks[m, c]]
                    for c in range(n_codes)] for m in range(n_sub)]
    else:
        code_ids = sorted(i for i in unit_map if i < n_codes)
        if code_ids != list(range(n_codes)):
            raise ValueError(
                f"PQ codebook needs dense corpus ids "
                f"0..{n_codes - 1}; got {len(code_ids)} of {n_codes}")
        if residual:
            # residual codewords: unit − assigned centroid, with the
            # same exact-fold argmax the Arrow indexer applies
            CU = np.asarray(cell_units, dtype=np.float64)
            cvecs = {}
            for i in code_ids:
                ui = np.asarray(unit_map[i], dtype=np.float64)
                best = int(np.argmax(_np_fold_dots(ui[None, :], CU)))
                cvecs[i] = (ui - CU[best]).tolist()
        else:
            cvecs = {i: unit_map[i] for i in code_ids}
        cw_subs = [[cvecs[c][m * sub_w:(m + 1) * sub_w]
                    for c in range(n_codes)] for m in range(n_sub)]

    n_bits = max(1, (n_codes - 1).bit_length())
    if n_sub * n_bits > 64:
        raise ValueError(f"packed PQ code needs {n_sub * n_bits} bits; "
                         f"reduce n_sub or n_codes to fit a BIGINT")
    # corpus-wide cells + packed codes in ONE Arrow pass: no join
    # inflation, no window, and no codes→packed groupBy exchange
    idx = _ivf_index_arrow(emb, cell_ids, cell_units, vec_col, id_col,
                           cw_subs=cw_subs, n_bits=n_bits,
                           residual=residual)
    assigned = idx.select(F.col("vid").alias("nbr_id"), "cell")
    packed = idx.select("vid", "packed")

    # integer-quantized LUT, driver-side over the collected queries:
    # lut_arr[m * n_codes + code] = floor(fold_dot(q_sub_m, cw)*1e6
    # + 0.5) — exact BIGINT sums are aggregation-order independent,
    # so Spark and the SQL oracle can never drift. The dense-code
    # guard of the relational form becomes a direct shape assert.
    n_lut = n_sub * n_codes
    CW = [np.asarray(cw_subs[m], dtype=np.float64)
          for m in range(n_sub)]
    lut_rows = []
    for qi, qid in enumerate(qids):
        entries = []
        for m in range(n_sub):
            qsub = QU[qi, m * sub_w:(m + 1) * sub_w]
            d = _np_fold_dots(qsub[None, :], CW[m])[0]
            entries.extend(
                int(v) for v in np.floor(d * 1e6 + 0.5))
        if len(entries) != n_lut:
            raise ValueError(
                f"gappy PQ codebook: LUT must have exactly "
                f"{n_lut} (n_sub*n_codes) entries per query")
        lut_rows.append((qid, entries))
    q_units = spark.createDataFrame(
        [(qid, [float(x) for x in QU[qi]])
         for qi, qid in enumerate(qids)],
        "query_id long, q_unit array<double>")
    lut_arr = spark.createDataFrame(
        lut_rows, "query_id long, lut_arr array<bigint>")
    probe_df = spark.createDataFrame(
        probe_cells, "query_id long, cell long")

    # --- candidates scored from the packed 4-byte codes only (ADC)
    cand_cols = ["query_id", "nbr_id"] + (["cell"] if residual else [])
    cands = (assigned.join(F.broadcast(probe_df), "cell")
             .where(F.col("query_id") != F.col("nbr_id"))
             .select(*cand_cols).distinct())
    adc_terms = [
        F.element_at(
            "lut_arr",
            (F.shiftrightunsigned("packed", m * n_bits)
             .bitwiseAND(F.lit((1 << n_bits) - 1))
             + F.lit(m * n_codes + 1)).cast("int"))
        for m in range(n_sub)]
    approx = (cands.join(packed.withColumnRenamed("vid", "nbr_id"),
                         "nbr_id")
              .join(F.broadcast(lut_arr), "query_id"))
    score_i = sum(adc_terms[1:], adc_terms[0])
    if residual:
        # + the per-(query, probed-cell) centroid term: approx ~=
        # dot(q, c_cell) + dot(q, recon_residual), both 1e-6-quantized
        # (driver-computed with the same exact fold + floor)
        cell_lut = spark.createDataFrame(
            cell_rows, "query_id long, cell long, cell_i long")
        approx = approx.join(F.broadcast(cell_lut), ["query_id", "cell"])
        score_i = score_i + F.col("cell_i")
    approx = (approx.withColumn("approx_i", score_i)
              .select("query_id", "nbr_id", "approx_i"))
    w_ref = Window.partitionBy("query_id").orderBy(
        F.desc("approx_i"), F.asc("nbr_id"))
    survivors = (approx.withColumn("_rr", F.row_number().over(w_ref))
                 .where(F.col("_rr") <= refine)
                 .join(F.broadcast(q_units), "query_id")
                 .select("query_id", "nbr_id", "q_unit"))

    # --- exact refine on the survivors
    exact = (survivors.join(u.withColumnRenamed("vid", "nbr_id")
                            .withColumnRenamed("unit", "nbr_unit"),
                            "nbr_id")
             .withColumn("cosine", F.round(_dot("q_unit", "nbr_unit"), 6)))
    w_k = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("nbr_id"))
    return (exact.withColumn("rank", F.row_number().over(w_k).cast("long"))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "nbr_id", "cosine"))


def ann_topk_ivfpq(emb: DataFrame, queries: DataFrame, k: int = 10,
                   **kw) -> DataFrame:
    """IVF-PQ with *measured* recall vs the exact brute-force top-k —
    recall surfaced as a column, not assumed (pytest pins the values).
    Output: (query_id, hits, recall_at_k)."""
    approx = ivfpq_topk_fixed_codebook(emb, queries, k, **kw) \
        .select("query_id", "nbr_id")
    exact = cosine_topk_bruteforce(emb, queries, k) \
        .select("query_id", "nbr_id")
    hits = (exact.join(approx, ["query_id", "nbr_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("hits")))
    allq = exact.select("query_id").distinct()
    return (allq.join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce("hits", F.lit(0)).alias("hits"))
            .withColumn("recall_at_k",
                        F.round(F.col("hits") / F.lit(float(k)), 6)))
