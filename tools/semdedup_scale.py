#!/usr/bin/env python3
"""SemDeDup cluster-count scaling evidence (r8 VERDICT next-round #6).

The graded query runs 64 k-means cells; the 100 TB posture is
"n_centroids ∝ n keeps per-cluster work flat". This measures exactly
that on the sf1 planted union corpus (~40k vectors, 20x the graded
sf0.1 corpus): SemDeDup with the FIXED 64-cell knob vs the
∝n 640-cell knob (same ~60 rows/cell density as the graded sf0.1 run).

Reported per setting:
- index build (train + encode + a generation-1 publish,
  semdedup.retrain_semdedup_generation) and pair-scoring wall
- sum(size^2) over clusters — the pairwise candidate work the
  applyInPandas stage actually does — and max cluster size (the
  straggler bound / per-task memory proxy)
- planted-pair recall: every (vec_id, vec_id + 1e6) pair must be
  detected at BOTH granularities (identical-direction vectors land in
  the same cell at any granularity), the invariance that makes the
  cluster count a pure cost knob rather than a quality knob. The
  survivor may differ (centroid cosines re-rank under a different
  clustering); detection must not.

Usage: python tools/semdedup_scale.py [runs=3]
Requires .scaledata/sf1 (tools/make_sf1.py). Results land in SCALE.md
by hand; one JSON line on stdout.
"""
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyspark.sql.functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from sf_epa_data_ingestion_spark.operators import similarity  # noqa: E402
from sf_epa_data_ingestion_spark.session import get_spark  # noqa: E402
from sf_epa_data_ingestion_spark.streaming import semdedup  # noqa: E402

SF1 = os.path.join(REPO, ".scaledata", "sf1")
SCRATCH = os.path.join(REPO, ".scaledata", "semdedup_scale")


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_spark(app_name="semdedup-scale")
    spark.sparkContext.setLogLevel("ERROR")

    corpus = entry._semdedup_corpus(spark, SF1).persist()
    n = corpus.count()
    n_pairs_expected = n // 2  # one planted twin per original vector
    out: dict = {"n_vectors": n, "settings": {}}

    for n_cells in (64, 640):
        idx_dir = os.path.join(SCRATCH, f"cells{n_cells}")
        build_best = score_best = float("inf")
        for _ in range(runs):
            shutil.rmtree(idx_dir, ignore_errors=True)
            t0 = time.time()
            semdedup.retrain_semdedup_generation(
                spark, idx_dir, "scale", n_cells, corpus=corpus
            )
            build_best = min(build_best, time.time() - t0)
            _gen, cents, state = semdedup.current_semdedup_generation(spark, idx_dir)
            index = semdedup.state_assignments(state)
            t0 = time.time()
            pairs = similarity.semantic_dedup_pairs(index, cents, threshold=0.95)
            n_dec = pairs.count()
            score_best = min(score_best, time.time() - t0)
            spark.catalog.clearCache()
        sizes = index.groupBy("cid").count()
        stats = sizes.agg(
            F.sum(F.col("count") * F.col("count")).alias("sum_sq"),
            F.max("count").alias("max_size"),
            F.count(F.lit(1)).alias("n_nonempty"),
        ).first()
        pairs = similarity.semantic_dedup_pairs(index, cents, threshold=0.95)
        planted = (
            pairs.withColumn("lo", F.least("keep_id", "drop_id"))
            .withColumn("hi", F.greatest("keep_id", "drop_id"))
            .filter(F.col("hi") - F.col("lo") == 1_000_000)
            .select("lo", "hi").distinct().count()
        )
        out["settings"][n_cells] = {
            "build_sec": round(build_best, 2),
            "score_sec": round(score_best, 2),
            "decisions": n_dec,
            "pairwise_work_sum_sq": int(stats["sum_sq"]),
            "max_cluster": int(stats["max_size"]),
            "nonempty_cells": int(stats["n_nonempty"]),
            "planted_detected": planted,
            "planted_expected": n_pairs_expected,
        }
        print(f"cells={n_cells}: {out['settings'][n_cells]}", file=sys.stderr)
    corpus.unpersist()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
