#!/usr/bin/env python3
"""Measure the delete-capable vector-index maintainer at sf0.1 vs sf1
(r9 VERDICT next-round #6): one mixed micro-batch (updates as
delete+insert pairs, pure inserts, pure deletes) applied by
``vector_index_maintainer_gen`` to generation 1 of a generational
IVF-PQ index (``init_vector_index_generations``, then a cid-clustered
backfill), with the stale-code-window-0 claim VERIFIED each run —
after the batch commits, the table equals a from-scratch encode of the
final corpus under the same frozen model, row-for-row (no stale codes
serve).

The interesting number is the maintainer's derivative as the corpus
grows 10x: the delete is a file-granular CoW bounded by the touched
files (change-set-sized over a cid-clustered layout with min/max
skipping) and the insert encodes only the batch, so the maintain time
should stay near-flat while a full re-encode grows corpus-linear.

Usage: python tools/vecmaint_scale.py [runs=2]
One JSON line on stdout; rows land in SCALE.md by hand.
"""
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyspark.sql.functions as F  # noqa: E402

from sf_epa_data_ingestion_spark.operators import similarity  # noqa: E402
from sf_epa_data_ingestion_spark.session import get_spark  # noqa: E402
from sf_epa_data_ingestion_spark.streaming.vectorindex import (  # noqa: E402
    init_vector_index_generations,
    vector_index_maintainer_gen,
)

SCRATCH = os.path.join(REPO, ".scaledata", "vecmaint_scale")
DIM = 64


def change_feed(emb):
    """20 updates (delete+insert pairs, perturbed vector) + 10 inserts +
    5 deletes — the txlog change-feed shape."""
    lo = emb.agg(F.min("vec_id")).first()[0]
    upd = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 20))
    upd_del = upd.withColumn("_change_type", F.lit("delete"))
    upd_ins = upd.withColumn(
        "embedding", F.transform("embedding", lambda x: x * F.lit(0.5))
    ).withColumn("_change_type", F.lit("insert"))
    ins = emb.limit(10).select(
        (F.col("vec_id") + 900_000_000).alias("vec_id"), "embedding"
    ).withColumn("_change_type", F.lit("insert"))
    dels = (
        emb.orderBy(F.desc("vec_id")).limit(5)
        .withColumn("_change_type", F.lit("delete"))
    )
    cols = ["vec_id", "embedding", "_change_type"]
    return (
        upd_del.select(cols)
        .unionByName(upd_ins.select(cols))
        .unionByName(ins.select(cols))
        .unionByName(dels.select(cols))
    )


def final_corpus(emb, feed):
    deleted = feed.filter(F.col("_change_type") == "delete").select("vec_id")
    inserted = feed.filter(F.col("_change_type") == "insert").select(
        "vec_id", "embedding"
    )
    return (
        emb.join(deleted, "vec_id", "left_anti")
        .unionByName(inserted.join(emb.select("vec_id"), "vec_id", "left_anti"))
        .unionByName(
            inserted.join(deleted, "vec_id", "left_semi")  # updates re-enter
        )
    )


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    spark = get_spark(app_name="vecmaint-scale")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {}
    corpora = [("sf0.1", "/root/testdata/sf0.1")]
    sf1 = os.path.join(REPO, ".scaledata", "sf1")
    if os.path.exists(os.path.join(sf1, "embeddings.parquet")):
        corpora.append(("sf1", sf1))
    for tag, sf_dir in corpora:
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
            "vec_id", "embedding"
        )
        n = emb.count()
        coarse, cq = similarity.train_ivfpq(emb.limit(2000), dim=DIM)
        feed = change_feed(emb).persist()
        feed.count()
        build_best = maintain_best = float("inf")
        stale_zero = True
        root = os.path.join(SCRATCH, tag)
        for _ in range(runs):
            shutil.rmtree(root, ignore_errors=True)
            t0 = time.time()
            enc = similarity.encode_ivfpq(emb, coarse, cq, DIM)
            t = init_vector_index_generations(spark, root, coarse, cq, DIM)
            t.append(enc.repartitionByRange(16, "cid"))
            build_best = min(build_best, time.time() - t0)
            sink = vector_index_maintainer_gen(spark, root, "vm-scale")
            t0 = time.time()
            sink(feed, 0)
            maintain_best = min(maintain_best, time.time() - t0)
            # stale-code window = 0: the committed table equals a fresh
            # encode of the final corpus under the same frozen model
            want = similarity.encode_ivfpq(final_corpus(emb, feed), coarse, cq, DIM)
            diff = (
                t.read().select("vec_id", "cid", F.col("codes").cast("string").alias("c"))
                .exceptAll(want.select("vec_id", "cid", F.col("codes").cast("string").alias("c")))
                .count()
            ) + (
                want.select("vec_id", "cid", F.col("codes").cast("string").alias("c"))
                .exceptAll(t.read().select("vec_id", "cid", F.col("codes").cast("string").alias("c")))
                .count()
            )
            stale_zero = stale_zero and diff == 0
            spark.catalog.clearCache()
        feed.unpersist()
        out[tag] = {
            "n_vectors": n,
            "build_encode_sec": round(build_best, 2),
            "maintain_sec": round(maintain_best, 2),
            "stale_code_rows": 0 if stale_zero else "NONZERO",
        }
        print(f"{tag}: {out[tag]}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
