#!/usr/bin/env python3
"""Measure sf0.1 -> sf1 (10x) wall-time scaling for the heavy operators.

Runs each query at both scales on the same session (min of N cold runs
plus one traced run, through ``bench.time_rows`` — the box shows bursty
CPU steal, see bench.py), prints a ratio table, and emits one JSON line
that also carries each scale's breakdown. A subquadratic
operator should grow ~10x on 10x data on a fixed-core box; the SCALE.md
gate is <15x (linear-ish: 10x data plus shuffle/log-factor headroom).

Usage: python tools/scale_check.py [runs=3]
Requires .scaledata/sf1 (tools/make_sf1.py).
"""
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

# every query that reads only documents/embeddings (the two tables
# make_sf1.py scales) — the heavy five plus the r5 additions
HEAVY = [
    "dedup_clusters", "ngram_jaccard", "dup_spans", "minhash_lsh", "ann_suite",
    "simhash", "strip_dup_spans", "contamination", "lm_perplexity",
    "sample_to_budget", "search_bm25", "embedding_near_dup", "fingerprint",
    "quality_classifier", "ann_pq",
    # r7: the rest of the search family (index materialized per query,
    # like the graded queries do); r13: postings+lexical merged into
    # lexical_suite
    "lexical_suite", "search_hybrid", "ann_ivfpq",
    # r7 batch retrieval (r13: merged into batch_search_suite) + shard writer
    "batch_search_suite", "train_shards",
    # r8: WAND-pruned batch BM25 + true-hybrid (both served from the
    # persisted indexes; first run per corpus pays the one-time build)
    "search_bm25_wand", "search_hybrid_ann",
    # late r8: SemDeDup (persisted 64-cell assignment) + mixture
    "semantic_dedup", "mixture_sample",
    # r9: exactly-once streaming replay (micro-batch fixed costs dominate;
    # the data-dependent term is the cell-pruned state probe)
    "semdedup_stream_replay",
    # r10: the other two graded streaming replays (near-dup monitor and
    # the composed ingestion pipeline)
    "neardup_stream_replay", "training_ingest_replay",
]
SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, ".scaledata", "sf1")


def main() -> None:
    argv = sys.argv[1:]
    names = [a for a in argv if not a.isdigit()]
    nums = [a for a in argv if a.isdigit()]
    runs = int(nums[0]) if nums else 3
    heavy = names or HEAVY
    qs = bench.entrymod.queries()
    scales = (("sf0.1", SF01), ("sf1", SF1))
    timed, _ = bench.time_rows(
        [(f"{name}@{tag}", qs[name], sf_dir) for name in heavy for tag, sf_dir in scales],
        runs=runs,
        app_name="scale-check",
    )

    out = {}
    for name in heavy:
        row = {tag: timed[f"{name}@{tag}"]["min"] for tag, _ in scales}
        row["ratio"] = round(row["sf1"] / row["sf0.1"], 2)
        row["breakdown"] = {tag: timed[f"{name}@{tag}"]["breakdown"] for tag, _ in scales}
        out[name] = row
        print(f"{name:16s} sf0.1={row['sf0.1']:7.3f}s sf1={row['sf1']:8.3f}s "
              f"ratio={row['ratio']:.2f}x", flush=True)
    print(json.dumps({"metric": "sf01_to_sf1_scaling", "queries": out}))


if __name__ == "__main__":
    main()
