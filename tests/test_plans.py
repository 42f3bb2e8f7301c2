"""Physical-plan audits (PLANS.md pinned as tests).

These assert the *shape* Catalyst compiles our declared plans to — the
properties the 100 TB design in SCALE.md relies on. They run at sf0.001:
plan shape is scale-independent for everything asserted here except
AQE-dynamic choices, which we pin via hints or explicit structure.
"""

from __future__ import annotations

import io
import contextlib

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def plan_of_df(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_of(spark, name: str) -> str:
    return plan_of_df(entry.queries()[name](spark, SF))


def test_filter_pushdown_and_pruning(spark):
    p = plan_of(spark, "filter_project")
    assert "EqualTo(event_type,purchase)" in p, "equality filter not pushed to scan"
    assert "GreaterThan(value,50.0)" in p, "range filter not pushed to scan"
    # widest events column must be pruned from the scan
    assert "props" not in p, "column pruning failed: props read but unused"


def test_pricing_summary_pushdown(spark):
    p = plan_of(spark, "pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in p
    # untouched wide columns pruned
    assert "l_comment" not in p


def test_star_join_broadcasts(spark):
    p = plan_of(spark, "join_dims_rollup")
    assert p.count("BroadcastHashJoin") >= 2, "dimension joins must broadcast"
    assert "SortMergeJoin" not in p


def test_anti_join_is_broadcast_anti(spark):
    p = plan_of(spark, "anti_join")
    assert "LeftAnti" in p
    assert "BroadcastHashJoin" in p


def test_partial_aggregation(spark):
    p = plan_of(spark, "pricing_summary")
    # map-side partial agg + final agg around the exchange
    assert p.count("HashAggregate") >= 2


def test_ngram_join_is_hash_not_sortmerge(spark):
    p = plan_of(spark, "ngram_jaccard")
    assert "ShuffledHashJoin" in p, "shingle self-join must hash-probe (SHUFFLE_HASH hint)"


def test_flagship_window_group_limit_pushdown(spark):
    import re

    p = plan_of(spark, "pdf_to_download")
    # rank<=1 cutoff applied map-side before the window exchange
    assert "WindowGroupLimit" in p, "row_number=1 must push a group limit"
    assert "LeftAnti" in p and "BroadcastHashJoin" in p
    # detail section lists each node once: at most 2 real shuffle exchanges
    # (window partitioning + done-set dedup); joins are all broadcast
    shuffles = re.findall(r"^\(\d+\) Exchange\b", p, flags=re.M)
    assert len(shuffles) <= 2, f"unexpected extra shuffles:\n{p}"


def test_minhash_has_no_pushed_filter_into_signature(spark):
    # the null-text filter must sit at the scan, not on size(sig)
    p = plan_of(spark, "minhash_lsh")
    assert "IsNotNull(text)" in p, "null filter should push to the documents scan"


def test_line_dedup_fast_path_is_scan_speed_projection(spark):
    """r15: with a small banned set (the structural common case) the
    rewrite is ONE projection over the scan — InSet hash probe inside
    the array filter, zero exchanges, no join. The banned-set build
    (an aggregate, never a window) runs as its own bounded-collect job
    and is pinned separately below."""
    from sf_epa_data_ingestion_spark.operators import cleaning
    from sf_epa_data_ingestion_spark.sources.readers import load_table

    p = plan_of(spark, "line_dedup")
    assert "INSET" in p or " IN (" in p, "rewrite lost the set-probe form"
    assert "Exchange" not in p, "fast-path rewrite must not shuffle"
    assert "Join" not in p, "fast-path rewrite must not join"

    # banned-line count: partial-aggregating groupBy, never a window
    d = load_table(spark, SF, "documents")
    pb = plan_of_df(cleaning.banned_lines(d, "text", max_freq=900, delimiter=" "))
    assert "Window" not in pb
    assert pb.count("HashAggregate") >= 2, "banned-line count lost partial aggregation"

    # distributed fallback (banned set above inline_max) keeps the
    # anti-join membership + reassembly shape
    pf = plan_of_df(
        cleaning.dedup_lines(d, "doc_id", "text", max_freq=900,
                             delimiter=" ", inline_max=0)
    )
    assert "LeftAnti" in pf, "fallback membership test must be an anti-join"
    assert "Window" not in pf


def test_temperature_resample_broadcasts_rates(spark):
    # the r13 hash_sample_suite merge carries the temperature leg; pin
    # the leg's own plan (the union adds nothing to the join strategy)
    p = plan_of_df(entry.q_temperature_resample(spark, SF))
    # the per-group rate table joins back via broadcast: the corpus itself
    # is never shuffled (scan -> broadcast-join -> filter)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_shipping_priority_topk_and_broadcast(spark):
    p = plan_of(spark, "shipping_priority")
    # global top-10 must be per-partition TakeOrdered + driver merge,
    # never a full global sort; the segment-filtered customer dim broadcasts
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p


def test_local_supplier_volume_broadcasts_all_dims(spark):
    p = plan_of(spark, "local_supplier_volume")
    # customer/supplier/nation/region all broadcast; only fact joins shuffle
    assert p.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in p and "NestedLoop" not in p


def test_multi_grouping_is_three_expands(spark):
    p = plan_of(spark, "multi_grouping")
    # each branch (GROUPING SETS / rollup / cube) compiles to its own
    # single Expand feeding one aggregate pair; the union adds no extra
    # Expand (formatted output names each node twice: tree + detail)
    assert p.count(") Expand") == 3
    assert p.count("HashAggregate") >= 6


def test_bm25_broadcasts_stats_and_avgdl(spark):
    p = plan_of(spark, "search_bm25")
    # term-pruned postings probe the doc-length table; the term stats
    # must broadcast and avgdl is a scalar subquery — never shuffle the
    # corpus for a 4-term query, never a cartesian against a scalar
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    # token IN (...) is applied right at the explode, before any shuffle
    assert "token#" in p and " IN (hash,join,spark,table)" in p


def test_ngram_positional_filter_inside_join(spark):
    p = plan_of(spark, "ngram_jaccard")
    # r4 shape: the PPJoin positional bound is a join-condition predicate
    # (dies in the probe), pair dedup is an aggregate on the two id cols,
    # and the join stays SHUFFLE_HASH (heavy-duplicate key)
    assert "ShuffledHashJoin" in p
    assert "SortMergeJoin" not in p


def test_expensive_expressions_run_below_the_fanout_exchange(spark):
    # The r4 lesson (SCALE.md "spread placement"): the interpreted per-row
    # expression (shingling / span hashing / n-gram expansion) must sit
    # DOWNSTREAM of the fan-out exchange, or a sub-MB single-file scan
    # runs it in one task. Pin: in the formatted plan the Generate
    # (explode) node appears only after an Exchange above the documents
    # scan, never directly on it.
    #
    # clearCache first: these operators persist() subtrees, and a prior
    # test that built the same query leaves CacheManager entries that
    # render as InMemoryTableScan, hiding the Exchange/Scan nodes this
    # test asserts on.
    for q in ("ngram_jaccard", "dup_spans", "contamination"):
        spark.catalog.clearCache()
        p = plan_of(spark, q)
        # every Generate over the corpus must have an Exchange between it
        # and the scan: scan node ids strictly precede the first exchange,
        # which strictly precedes the first generate in the operator chain
        first_scan = p.find("Scan parquet")
        first_exchange = p.find("Exchange", first_scan)
        first_generate = p.find("Generate", first_scan)
        assert first_scan != -1 and first_exchange != -1 and first_generate != -1, q
        assert first_exchange < first_generate, (
            f"{q}: explode computed at scan parallelism (Generate before Exchange)"
        )


def test_sample_to_budget_windows_are_bounded(spark):
    # The scale contract (SCALE.md "Mixture budget application"): no window
    # runs over the raw per-doc rows of a whole source ordered by hash —
    # the per-doc walk must be partitioned by (source, BUCKET), i.e. over
    # one boundary bucket's rows, never by source alone. Asserted on the
    # optimized logical plan: the operator persists its base (one corpus
    # scan for three consumers), which hides subtrees inside
    # InMemoryRelation in the formatted physical output, but window
    # partition specs survive optimization verbatim. The boundary
    # pushdown itself (cum table filtered to boundary rows on the
    # broadcast build side) was verified on the physical plan of the
    # un-cached form; the DuckDB oracle pins the semantics every round.
    import re

    spark.catalog.clearCache()
    df = entry.queries()["sample_to_budget"](spark, SF)
    p = df._jdf.queryExecution().optimizedPlan().toString()
    assert p.count("Window [") >= 2
    # the per-doc walk windows by (source, bucket) — never by source alone
    assert re.search(r"windowspecdefinition\(source#\d+, bucket#\d+, u#\d+ ASC", p)
    assert not re.search(r"windowspecdefinition\(source#\d+, u#\d+ ASC", p)
    # the final keep filter compares the seeded running sum to the budget
    assert re.search(
        r"cum_before#\d+L? \+ coalesce\(_we0#\d+L?, 0\)", p
    )


def test_ivfpq_probe_is_equijoin_no_cartesian(spark):
    p = plan_of(spark, "ann_ivfpq")
    # the ADC sweep must be a cid equi-join against the broadcast per-probe
    # LUT rows — never a cartesian over the corpus codes; the only allowed
    # broadcast-nested-loop is a 1-row scalar if any
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # the full-vector refine side joins only the shortlist
    assert "cid" in p


def test_bm25_batch_broadcasts_query_terms(spark):
    # the r13 batch_search_suite merge carries the bm25-batch leg; pin
    # the leg's own plan (the union adds nothing to the join strategy)
    p = plan_of_df(entry.q_search_bm25_batch(spark, SF))
    # term pruning is a broadcast join of the distinct (query, token) set
    # onto the postings — the join IS the pushdown when terms are data;
    # corpus-sized sides never cartesian
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p
