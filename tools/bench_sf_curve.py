#!/usr/bin/env python
"""Three-point scale curve for the sf-dependent training family
(VERDICT r7 ask #5): times the two queries whose sf0.1→sf1 wall
ratio exceeded 3x (media_decode_jpeg 3.13x, dedup_simhash_hamming
2.74x) plus two sub-linear controls (dedup_minhash_lsh,
ann_topk_ivfpq) at ONE scale dir per invocation, fresh JVM, the same
operator calls and warm-up/median protocol as bench.py.

Usage:
    python tools/bench_sf_curve.py --sf-dir /root/testdata/sf0.1 \
        --label sf0.1 --out BENCH/sf_curve_r8_sf0.1.json

The hypothesis under test (from the r7 verdict): both flagged
queries are embarrassingly parallel per-payload decodes / hash scans
whose super-linearity at sf1 is fixed overhead amortisation + a
cores-fixed box (payload bytes grow 10x, cores don't), so the
sf1→sf3 leg should flatten toward ~3x (linear in data) rather than
grow super-linearly. If instead the ratio keeps inflating, there is
a real super-linear term to find.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--label", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS",
                                               len(os.sched_getaffinity(0)))))
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from gorillaspark.operators.dedup import (minhash_lsh_pairs,
                                              simhash_hamming_pairs)
    from gorillaspark.operators.multimodal import image_stats
    from gorillaspark.operators.similarity import ivfpq_topk_fixed_codebook
    from gorillaspark.plans.session import build_session
    from gorillaspark.queries import _synth_jpeg_udf

    spark = build_session(app="gorillaspark-sf-curve",
                          master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{args.sf_dir}/embeddings.parquet")
    n_docs = docs.count()

    out: dict = {"label": args.label, "sf_dir": args.sf_dir,
                 "cpus": args.cpus, "n_docs": n_docs,
                 "queries": {}, "reps": {}}

    def timed(name, fn):
        fn()                        # warm-up (JIT/codegen/worker spin-up)
        times = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            fn()
            times.append(round(time.perf_counter() - t0, 3))
        out["queries"][name] = sorted(times)[len(times) // 2]
        out["reps"][name] = times
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    docs_w = docs.repartition(args.cpus)
    media_j = docs_w.select(F.col("doc_id").alias("media_id"),
                            _synth_jpeg_udf()(F.col("doc_id"))
                            .alias("payload"))
    timed("media_decode_jpeg", lambda: image_stats(media_j).count())
    timed("dedup_simhash_hamming",
          lambda: simhash_hamming_pairs(docs).count())
    timed("dedup_simhash_hamming_128",
          lambda: simhash_hamming_pairs(docs, bits=128).count())
    timed("dedup_minhash_lsh",
          lambda: minhash_lsh_pairs(docs, threshold=0.5).count())
    qvecs = emb.limit(32)
    timed("ann_topk_ivfpq",
          lambda: ivfpq_topk_fixed_codebook(emb, qvecs, k=10).count())

    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
