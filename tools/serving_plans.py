#!/usr/bin/env python3
"""Executed plans and job counts of the serving face, as ``search_serving``
calls it: ``TxSearchSnapshot.bm25_maxscore`` on a pinned snapshot of the
persisted transactional index over the benchmark corpus, one single query
(built with ``createDataFrame(list)``, literal ``terms``) and the whole
query set in one batch.

Usage (from the root of a checkout):

    python3 tools/serving_plans.py <outdir>

The corpus is ``perfbench/datagen.py`` at scale 1.0 with the benchmark's
data seed, and the query set is ``search_serving``'s at seed 1, on
``local[4]``.  Writes ``<outdir>/single.txt`` and ``<outdir>/batch.txt``:
the job count, the wall time, the ``Scan ExistingRDD`` (query-frame scan)
and Exchange counts of the final adaptive plan, then that plan.  Each call runs
once untimed first so the counted call is warm.  The input tables and the
index live in a temporary directory that is removed at exit.
"""

import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]
SCALE, SEED, MASTER = 1.0, 1, "local[4]"


def _count(plan: str) -> dict[str, int]:
    """Node counts of the final adaptive plan."""
    nodes = [ln.lstrip(":+- ") for ln in plan.splitlines()]
    return {
        "query_frame_scans": sum("Scan ExistingRDD" in n for n in nodes),
        "shuffle_exchanges": sum(n.startswith("Exchange ") for n in nodes),
        "broadcast_exchanges": sum(n.startswith("BroadcastExchange ") for n in nodes),
        "reused_exchanges": sum(n.startswith("ReusedExchange ") for n in nodes),
        "single_partition_exchanges": plan.count("Exchange SinglePartition"),
    }


def _measure(spark, make_df) -> tuple[dict, str]:
    make_df().collect()  # warm-up
    sc = spark.sparkContext
    group = f"serving_plans_{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    df = make_df()
    t0 = time.perf_counter()
    df.collect()
    wall_ms = (time.perf_counter() - t0) * 1000.0
    sc.setJobGroup("", "")
    plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return {"jobs": jobs, "wall_ms": round(wall_ms, 1), **_count(plan)}, plan


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    outdir = sys.argv[1]

    work = tempfile.mkdtemp(prefix="serving_plans_")
    tempfile.tempdir = work
    try:
        import datagen
        from run import DATA_SEED
        from workloads import WORKLOADS, make_queries, norm_terms

        data = os.path.join(work, "data")
        datagen.generate(data, seed=DATA_SEED, scale=SCALE)
        queries = make_queries(data, SEED, WORKLOADS["search_serving"]["queries"])

        import __spark_entry__ as entry
        from sf_epa_data_ingestion_spark.session import get_spark
        from sf_epa_data_ingestion_spark.storage import txindex

        spark = get_spark(master=MASTER, extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        })
        spark.sparkContext.setLogLevel("ERROR")
        snap = txindex.load_tx_search_index(spark, entry._tx_search_index_dir(spark, data))

        def qdf(qs):
            return spark.createDataFrame(list(qs), "query_id long, query_text string")

        single = queries[0]
        batch_terms = sorted({t for _, text in queries for t in norm_terms(text)})
        cases = {
            "single": lambda: snap.bm25_maxscore(qdf([single]), k=10, terms=norm_terms(single[1])),
            "batch": lambda: snap.bm25_maxscore(qdf(queries), k=10, terms=batch_terms),
        }
        os.makedirs(outdir, exist_ok=True)
        for name, make_df in cases.items():
            stats, plan = _measure(spark, make_df)
            head = f"# {name}: scale {SCALE}, seed {SEED}, {MASTER}\n"
            head += "".join(f"# {k} = {v}\n" for k, v in stats.items())
            with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
                f.write(head + plan + "\n")
            print(name, stats, flush=True)
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
