#!/usr/bin/env python
"""Headline benchmark: one JSON line for the round driver.

Measures, on local[$SPARK_GRAFT_CPUS] (default: the CPUs this process
may run on):

* the Gorilla codec through the full Spark path (encode + decode
  points/s) on a distributed-generated synthetic transcript corpus
  (deterministic, no driver-side data);
* the rollup/gap-fill/latency query suite on the same corpus;
* the oracle-checked query suite on $SPARK_GRAFT_SF_DIR testdata;
* dedup + ANN operators on the documents/embeddings tables.

Output: {"metric": ..., "value": <total sec>, "unit": "sec",
         "queries": {name: sec}, "sf": ..., plus codec throughput
         fields}. The local[32]-era scaling evidence (local[8] vs
local[32]) is kept in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

# Per-query best-of-prior-rounds (BENCH_r01..r03, sf0.1, local[32]) as
# a regression budget: a round must not regress a guarded query by more
# than the headroom factor over its best recorded time. The JSON output
# carries any violations under "regressions" so the per-round diff is
# self-describing (the run still exits 0 — shared-tenant box timings
# swing; the field is the signal, not a hard gate). Pinning to
# best-of-rounds instead of round 1 is what lets the detector catch
# round-over-round drift: r3's 27% suite slowdown sailed under the old
# r1-pinned budget. Refresh after any round that improves a query.
_BUDGET_S = {
    # refreshed r6 (best-of-rounds policy): the _let norm-fold fix +
    # Arrow corpus indexer improved the whole ANN family (bruteforce
    # 1.29->0.90, near-dup 1.28->0.81, ivfpq 2.19->2.14) and the C
    # CRC kernel cut FLAC decode 7.0->2.0; each took its new best
    "encode_blocks": 1.590,
    # r7: the DFCM hash chain joined the C kernel (4b35f62) — the
    # non-default predictor now sits in the same cost class as
    # last_value; budget from the r7 quiet-window best (1.49)
    "encode_blocks_dfcm": 1.490,
    "decode_blocks": 0.438,
    "rollup_1m": 0.819,
    "rollup_cascade_1h_1d": 0.959,
    "rollup_sketch_1d": 1.299,
    "ann_topk_ivfpq": 2.139,
    "gapfill_1h": 0.727,
    "sf_rollup_1m": 0.378,
    "sf_latency_stats_per_series": 0.352,
    "sf_sessionize": 0.394,
    "sf_pricing_summary": 0.245,
    "sf_top_customers": 0.293,
    "sf_codec_roundtrip": 0.689,
    "dedup_minhash_lsh": 1.058,
    # the localCheckpoint variant (kept deliberately for
    # executor-storage safety) was budgeted at its ~0.90 design floor;
    # the r5 quiet window measured 0.704 — floor revised down.
    # r7 adjudication of the r6 flag (1.117, ratio 1.59): quiet-window
    # standalone min-of-5 measured 0.81-0.97 across three sessions
    # with operators/dedup.py byte-identical to r5; at sf0.1 the query
    # is fixed-overhead-dominated (~1.5 MB of text across ~10 Spark
    # stages), so its noise band IS the stage-scheduling jitter of the
    # shared-tenant box. Budget stays 0.704 (ratchet-down discipline);
    # treat flags on this query as real only when the quiet-window min
    # also exceeds ~1.06 (0.704 x 1.5)
    "dedup_simhash_hamming": 0.704,
    "ann_topk_bruteforce": 0.902,
    "ann_topk_lsh": 1.322,
    "embedding_near_dup_lsh": 0.811,
    # media codecs through the Spark feature path; JPEG entropy scan,
    # PNG unfilter and FLAC CRCs run in the C kernel when present
    # (numpy/table fallbacks otherwise). The small driver-corpus
    # images leave JPEG dominated by per-payload task overhead, so
    # its budget moves less than the kernel speedup suggests
    "media_decode_jpeg": 0.981,
    "media_decode_flac": 0.879,
}
# 1.5x: wide enough that routine tenant noise (±20-40%) stays quiet,
# tight enough that a 2x+ structural regression (the r3
# simhash/near-dup cases) is flagged
_BUDGET_HEADROOM = 1.50


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    n_conv = int(os.environ.get("BENCH_N_CONV", "6000"))
    mean_turns = int(os.environ.get("BENCH_MEAN_TURNS", "300"))

    from pyspark.sql import functions as F

    from gorillaspark.operators.dedup import (minhash_lsh_pairs,
                                              simhash_hamming_pairs)
    from gorillaspark.operators.encode import decode_points, encode_points
    from gorillaspark.operators.gapfill import gapfill_ffill
    from gorillaspark.operators.normalize import turn_latency_points
    from gorillaspark.operators.rollup import rollup_from_lower, rollup_tier
    from gorillaspark.operators.similarity import (cosine_topk_bruteforce,
                                                   cosine_topk_lsh,
                                                   embedding_near_dup_pairs)
    from gorillaspark.plans.session import build_session
    from gorillaspark.queries import EXTRA_QUERIES, QUERIES
    from gorillaspark.sources.transcripts import generate_transcripts

    spark = build_session(app="gorillaspark-bench",
                          master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    scratch = tempfile.mkdtemp(prefix="gsbench-", dir="/root/repo/.scratch"
                               if os.path.isdir("/root/repo/.scratch")
                               else None)
    queries: dict[str, float] = {}
    extras: dict[str, float] = {}

    def timed(name, fn, reps=3):
        # one warm-up (JIT/codegen/Python-worker spin-up dominates any
        # first execution: 3-8x the steady state) + median of reps for
        # repeatable numbers on a shared-tenant box
        fn()
        times = []
        r = None
        for _ in range(reps):
            t0 = time.perf_counter()
            r = fn()
            times.append(time.perf_counter() - t0)
        dt = sorted(times)[len(times) // 2]
        queries[name] = round(dt, 3)
        return r, dt

    # ---- corpus (generation excluded from the headline total) -------
    tpath = os.path.join(scratch, "transcripts")
    generate_transcripts(spark, n_conv=n_conv, mean_turns=mean_turns,
                         hot_share=0.2).write.mode("overwrite").parquet(tpath)
    transcripts = spark.read.parquet(tpath)
    n_turns = transcripts.count()

    pts = turn_latency_points(transcripts)
    n_pts = n_turns - n_conv  # first turn of each conv has no latency

    # ---- codec through Spark ----------------------------------------
    bpath = os.path.join(scratch, "blocks")
    _, dt = timed("encode_blocks", lambda: encode_points(pts, "double")
                  .write.mode("overwrite").parquet(bpath), reps=3)
    extras["encode_pts_per_sec"] = round(n_pts / dt)
    blocks = spark.read.parquet(bpath)
    _, dt = timed("decode_blocks",
                  lambda: decode_points(blocks).count(), reps=3)
    extras["decode_pts_per_sec"] = round(n_pts / dt)
    # r7: DFCM predictor rides the C kernel (gs_encode_blocks_dfcm)
    # instead of the per-point Python scalar fallback; this entry
    # tracks that it stays within the same cost class as last_value
    bdpath = os.path.join(scratch, "blocks_dfcm")
    _, dt = timed("encode_blocks_dfcm",
                  lambda: encode_points(pts, "double", predictor="dfcm")
                  .write.mode("overwrite").parquet(bdpath), reps=3)
    extras["encode_dfcm_pts_per_sec"] = round(n_pts / dt)
    raw_bytes = 16 * n_pts
    enc_bytes = blocks.agg(F.sum(F.size("words"))).collect()[0][0] * 8
    extras["compression_ratio"] = round(enc_bytes / raw_bytes, 4)
    extras["n_points"] = n_pts

    # ---- rollup / gapfill / latency suite on the corpus --------------
    timed("rollup_1m", lambda: rollup_tier(pts, "1m").count())
    m1 = rollup_tier(pts, "1m")
    timed("rollup_cascade_1h_1d", lambda: rollup_from_lower(
        rollup_from_lower(m1, "1h", p95_source=pts), "1d",
        p95_source=pts).count())
    # the mergeable alternative: p95 from the DDSketch tier, raw read
    # exactly once (contrast with the exact cascade above, which
    # re-reads raw for p95 at each tier)
    from gorillaspark.operators.sketch import rollup_sketch_p95
    timed("rollup_sketch_1d",
          lambda: rollup_sketch_p95(pts, "1d", "1m").count())
    timed("gapfill_1h", lambda: gapfill_ffill(pts, "1h").count())

    # the corpus stages above leave the old-gen full of shuffle/cache
    # garbage; without a collection here a multi-second full GC lands
    # inside whichever later query is unlucky (observed: one query's
    # median jumping 0.9s -> 6s run-to-run)
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()

    # ---- oracle suite on testdata SF ---------------------------------
    for name in ["rollup_1m", "latency_stats_per_series", "sessionize",
                 "pricing_summary", "top_customers", "codec_roundtrip"]:
        fn = QUERIES.get(name) or EXTRA_QUERIES[name]
        timed(f"sf_{name}", lambda f=fn: f(spark, sf_dir).count())

    # ---- training-data ops on documents/embeddings --------------------
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    timed("dedup_minhash_lsh",
          lambda: minhash_lsh_pairs(docs, threshold=0.5).count())
    timed("dedup_simhash_hamming",
          lambda: simhash_hamming_pairs(docs).count())
    qvecs = emb.limit(32)
    timed("ann_topk_bruteforce",
          lambda: cosine_topk_bruteforce(emb, qvecs, k=10).count())
    timed("ann_topk_lsh",
          lambda: cosine_topk_lsh(emb, qvecs, k=10).count())
    from gorillaspark.operators.similarity import ivfpq_topk_fixed_codebook
    timed("ann_topk_ivfpq",
          lambda: ivfpq_topk_fixed_codebook(emb, qvecs, k=10).count())
    timed("embedding_near_dup_lsh",
          lambda: embedding_near_dup_pairs(emb, threshold=0.3).count())

    # ---- media decode suite (r5: the real pure-numpy codecs) ---------
    # distributed decode of per-doc JPEG images + FLAC audio through
    # the native feature path — tracks the codecs' Spark-side
    # throughput per round (the per-payload Python decode IS the cost)
    from gorillaspark.queries import _synth_flac_udf, _synth_jpeg_udf
    from gorillaspark.operators.multimodal import audio_stats, image_stats
    # spread the synth UDF too: the docs table is one parquet split
    # locally, and payload synthesis is bench scaffolding — the timed
    # decode operators spread themselves (multimodal._spread)
    docs_w = docs.repartition(cpus)
    media_j = docs_w.select(F.col("doc_id").alias("media_id"),
                            _synth_jpeg_udf()(F.col("doc_id"))
                            .alias("payload"))
    media_f = docs_w.select(F.col("doc_id").alias("media_id"),
                            _synth_flac_udf()(F.col("text"))
                            .alias("payload"))
    timed("media_decode_jpeg", lambda: image_stats(media_j).count())
    timed("media_decode_flac", lambda: audio_stats(media_f).count())
    # r8: H.264 I/P/B GOP decode (avcC + CAVLC decode + MC +
    # spatial direct + POC reorder) — same synth-inside-the-plan
    # protocol as the JPEG/FLAC entries, on a fifth of the corpus
    # (the per-doc 4-frame GOP encode+decode is ~5x a JPEG; the 1/5
    # slice keeps the headline total-seconds comparable across
    # rounds while still timing thousands of MBs)
    from gorillaspark.queries import _synth_h264_b_gop_udf
    from gorillaspark.operators.multimodal import video_frame_stats
    media_h = (docs_w.where(F.col("doc_id") % 5 == 0)
               .select(F.col("doc_id").alias("media_id"),
                       _synth_h264_b_gop_udf()(F.col("doc_id"))
                       .alias("payload")))
    timed("media_decode_h264",
          lambda: video_frame_stats(media_h, every_ms=500).count())

    line = build_output_line(queries, extras, sf_dir, cpus, n_turns)
    shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()
    print(line)


def _host_anchor():
    """Single-thread C-kernel encode/decode throughput (M pts/s,
    pinned, min of 3 on 300k points) — a host-health sentinel
    embedded in the output line so a degraded co-tenant window
    self-adjudicates: the anchor runs BYTE-IDENTICAL code every
    round, so a low reading means the box, not a regression (quiet
    baseline on this box: encode ~150-200, decode ~100-115; the r7
    driver-window incident and both late-r8 attempts would have been
    classified automatically with this field). Returns [enc, dec]
    rounded to 0.1, or None if pinning/kernels are unavailable."""
    try:
        import time

        import numpy as np

        from gorillaspark.codec.native import (decode_blocks_native,
                                               encode_blocks_native)
        old_aff = None
        try:
            old_aff = os.sched_getaffinity(0)
            os.sched_setaffinity(0, {2})
        except (AttributeError, OSError):
            pass
        n, nb = 100_000, 3
        ts = np.concatenate(
            [np.arange(n, dtype=np.int64) * 60_000 + i * 10 ** 10
             for i in range(nb)])
        vals = np.tile(np.arange(n, dtype=np.float64), nb)
        bts = np.array([i * 10 ** 10 for i in range(nb)],
                       dtype=np.int64)
        offs = np.arange(0, nb * n + 1, n, dtype=np.int64)
        try:
            enc = dec = 1e9
            for _ in range(3):
                t0 = time.perf_counter()
                r = encode_blocks_native(bts, offs, ts, vals)
                enc = min(enc, time.perf_counter() - t0)
                t0 = time.perf_counter()
                decode_blocks_native(*r)
                dec = min(dec, time.perf_counter() - t0)
        finally:
            if old_aff is not None:
                os.sched_setaffinity(0, old_aff)
        tot = n * nb
        return [round(tot / enc / 1e6, 1), round(tot / dec / 1e6, 1)]
    except Exception:
        return None                  # sentinel must never fail bench


def build_output_line(queries: dict, extras: dict, sf_dir: str,
                      cpus: int, n_turns: int) -> str:
    """Assemble the driver-contract one-line JSON.

    The line is read through a bounded tail capture (~2000 chars):
    round 7 lost its bench of record when a degraded run flagged all
    19 guarded queries and the full ``regressions`` array pushed the
    line past the window. The line now carries only ``regression_count``
    + the 3 worst entries; the complete list goes to
    BENCH/regressions_last.json (overwritten per run — per-round
    history is the driver's BENCH_r{N}.json copy). A hard backstop
    re-serializes without the detail if the line would still exceed
    1900 chars. tests/test_bench_contract.py pins the worst case.
    """
    total = round(sum(queries.values()), 3)
    # budgets are calibrated at the driver's default sf0.1 corpus —
    # flagging a bigger SF against them would report scale, not
    # regression (the sf1 run carries 10x the sf-dependent data)
    at_default_sf = sf_dir.rstrip("/").endswith("sf0.1")
    regressions = sorted(
        ({"query": k, "sec": queries[k], "budget_sec": v,
          "ratio": round(queries[k] / v, 2)}
         for k, v in _BUDGET_S.items()
         if at_default_sf and k in queries
         and queries[k] > v * _BUDGET_HEADROOM),
        key=lambda r: -r["ratio"])
    if regressions:
        try:
            os.makedirs("BENCH", exist_ok=True)
            with open("BENCH/regressions_last.json", "w") as fh:
                json.dump({"sf": sf_dir, "cpus": cpus,
                           "regressions": regressions}, fh, indent=1)
        except OSError:
            pass  # read-only cwd: the top-3 on the line still tell
    sf = sf_dir.rstrip("/").split("sf")[-1]
    out = {
        "metric": "gorillaspark headline suite (codec+rollup+queries)",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "corpus_turns": n_turns,
        "protocol": "per query: 1 warm-up + median of 3 timed reps",
        "regression_count": len(regressions),
        "regressions": regressions[:3],
        "anchor_mpts": _host_anchor(),
        **extras,
    }
    line = json.dumps(out)
    if len(line) > 1900:  # hard backstop for the tail-capture window
        out.pop("regressions", None)
        out["protocol"] = "warmup+median3"
        line = json.dumps(out)
    return line


if __name__ == "__main__":
    sys.exit(main())
