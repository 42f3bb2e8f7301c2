#!/usr/bin/env python3
"""Measure the TX-HOSTED search index at scale: build, change-feed
refresh, snapshot-served max-score query, and generation-unit vacuum
reclaim, at sf0.1 and (if ``tools/make_sf1.py`` has produced it) the
sf1 corpus.

The question this answers: what do the refreshable, snapshot-isolated
host's build, refresh and serving cost — and does its refresh stay
O(change) as the corpus grows 10x? The refresh applies a 55-row change
feed (``change_feed``: 20 updates as delete+insert pairs + 10 inserts
+ 5 deletes).

Usage: python tools/txrefresh_scale.py [runs=2]
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

from sf_epa_data_ingestion_spark.session import get_spark  # noqa: E402
from sf_epa_data_ingestion_spark.sources.readers import load_table  # noqa: E402
from sf_epa_data_ingestion_spark.storage import txindex  # noqa: E402

SCRATCH = os.path.join(REPO, ".scaledata", "txrefresh_scale")

WAND_QUERIES = [
    (0, "dup scan batch data value"),
    (1, "dup window sort merge row"),
    (2, "scan filter value row fast"),
]


def change_feed(docs):
    """20 updates (delete+insert pairs) + 10 inserts + 5 deletes."""
    lo = docs.agg(F.min("doc_id")).first()[0]
    upd = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 20))
    upd_del = upd.withColumn("_change_type", F.lit("delete"))
    upd_ins = upd.withColumn(
        "text", F.concat(F.lit("zzzfresh zzztokens "), F.col("text"))
    ).withColumn("_change_type", F.lit("insert"))
    ins = docs.limit(10).select(
        (F.col("doc_id") + 900_000_000).alias("doc_id"),
        F.concat(F.lit("zzznew document "), F.col("text")).alias("text"),
    ).withColumn("_change_type", F.lit("insert"))
    dels = (
        docs.orderBy(F.desc("doc_id")).limit(5)
        .withColumn("_change_type", F.lit("delete"))
    )
    return (
        upd_del.select("doc_id", "text", "_change_type")
        .unionByName(upd_ins.select("doc_id", "text", "_change_type"))
        .unionByName(ins.select("doc_id", "text", "_change_type"))
        .unionByName(dels.select("doc_id", "text", "_change_type"))
    )


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    spark = get_spark(app_name="txrefresh-scale")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {}
    corpora = [("sf0.1", "/root/testdata/sf0.1")]
    sf1 = os.path.join(REPO, ".scaledata", "sf1")
    if os.path.exists(os.path.join(sf1, "documents.parquet")):
        corpora.append(("sf1", sf1))
    for tag, sf_dir in corpora:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        n = docs.count()
        feed = change_feed(docs).persist()
        n_change = feed.count()
        qdf = spark.createDataFrame(
            WAND_QUERIES, "query_id long, query_text string"
        )
        tx = os.path.join(SCRATCH, tag, "tx")
        best = {
            "tx_build": float("inf"), "tx_refresh": float("inf"),
            "tx_query": float("inf"),
        }
        vacuum_reclaim = 0
        for _ in range(runs):
            shutil.rmtree(tx, ignore_errors=True)
            t0 = time.time()
            txindex.materialize_tx_search_index(
                docs, tx, id_col="doc_id", text_col="text"
            )
            best["tx_build"] = min(best["tx_build"], time.time() - t0)
            t0 = time.time()
            txindex.refresh_tx_search_index(
                spark, tx, feed, id_col="doc_id", text_col="text"
            )
            best["tx_refresh"] = min(best["tx_refresh"], time.time() - t0)
            # snapshot-served WAND: the graded search_bm25_wand_tx shape
            snap = txindex.load_tx_search_index(spark, tx)
            t0 = time.time()
            snap.bm25_maxscore(qdf, k=10).collect()
            best["tx_query"] = min(best["tx_query"], time.time() - t0)
            # generation-unit vacuum reclaim (gen 1 falls out of retention)
            pre = _du(tx)
            txindex.vacuum_tx_search_index(spark, tx, keep_generations=1)
            vacuum_reclaim = max(vacuum_reclaim, pre - _du(tx))
            spark.catalog.clearCache()
        feed.unpersist()
        out[tag] = {
            "n_docs": n,
            "n_change_rows": n_change,
            **{k: round(v, 2) for k, v in best.items()},
            "vacuum_reclaim_mb": round(vacuum_reclaim / (1 << 20), 1),
        }
        print(f"{tag}: {out[tag]}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
