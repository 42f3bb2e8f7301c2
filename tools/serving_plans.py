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
the job count; the median over five warm calls of the time to build the
DataFrame, to plan it and to run it (``build_ms``, ``plan_ms``,
``exec_ms``); the query-frame (``Scan ExistingRDD``), postings and bounds
scan counts and the Exchange counts of the final adaptive plan; then that
plan.  Each case runs once untimed first so the timed calls are warm.  The
input tables and the index live in a temporary directory that is removed
at exit.
"""

import os
import re
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]
SCALE, SEED, MASTER, RUNS = 1.0, 1, "local[4]", 5
BOUNDS_SCHEMA = re.compile(r"struct<token:string(,df:bigint)?(,max_part:double)?(,ub:double)?>")


def _count(plan: str) -> dict[str, int]:
    """Node counts of the final adaptive plan. A piece's scan is told by
    its read schema: postings lead with (token, id), bounds with token
    and only bounds columns after it."""
    nodes = [ln.lstrip(":+- ") for ln in plan.splitlines()]
    schemas = re.findall(r"FileScan parquet .*ReadSchema: (struct<[^>]*>)", plan)
    return {
        "query_frame_scans": sum("Scan ExistingRDD" in n for n in nodes),
        "postings_scans": sum(s.startswith("struct<token:string,id:bigint") for s in schemas),
        "bounds_scans": sum(bool(BOUNDS_SCHEMA.fullmatch(s)) for s in schemas),
        "shuffle_exchanges": sum(n.startswith("Exchange ") for n in nodes),
        "broadcast_exchanges": sum(n.startswith("BroadcastExchange ") for n in nodes),
        "reused_exchanges": sum(n.startswith("ReusedExchange ") for n in nodes),
        "single_partition_exchanges": plan.count("Exchange SinglePartition"),
    }


def _measure(spark, make_df) -> tuple[dict, str]:
    """Times ``RUNS`` warm calls in three phases and keeps each phase's
    median: ``build_ms`` builds the DataFrame (no job runs), ``plan_ms``
    forces its physical plan and ``exec_ms`` collects it. The jobs and
    the plan are the last call's."""
    make_df().collect()  # warm-up
    sc = spark.sparkContext
    times = {"build_ms": [], "plan_ms": [], "exec_ms": []}
    for _ in range(RUNS):
        group = f"serving_plans_{time.monotonic_ns()}"
        t0 = time.perf_counter()
        df = make_df()
        t1 = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        t2 = time.perf_counter()
        sc.setJobGroup(group, group)
        df.collect()
        t3 = time.perf_counter()
        sc.setJobGroup("", "")
        for k, v in zip(times, (t1 - t0, t2 - t1, t3 - t2)):
            times[k].append(v * 1000.0)
    plan = qe.executedPlan().toString().split("== Initial Plan ==")[0]
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    medians = {k: round(statistics.median(v), 1) for k, v in times.items()}
    return {"jobs": jobs, **medians, **_count(plan)}, plan


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
