"""Tests for the scale-layout utilities: salted joins and bucketed tables."""

from __future__ import annotations

import io
import contextlib
import threading

import pyspark.sql.functions as F

from sf_epa_data_ingestion_spark.partitioning import salted_join
from sf_epa_data_ingestion_spark.sources import bucketing


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_salted_join_matches_plain_join(spark):
    # one pathologically hot key (90% of rows) + a long tail
    big = spark.range(0, 10_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(0, 20).select(F.col("id").alias("k"), (F.col("id") * 100).alias("v"))

    expected = sorted(
        (r["k"], r["payload"], r["v"]) for r in big.join(small, ["k"]).collect()
    )
    got = sorted(
        (r["k"], r["payload"], r["v"]) for r in salted_join(big, small, ["k"]).collect()
    )
    assert got == expected

    # left join keeps unmatched big rows exactly once
    big_extra = big.union(spark.createDataFrame([(999_999, -1)], ["k", "payload"]))
    left = salted_join(big_extra, small, ["k"], how="left")
    assert left.filter(F.col("k") == 999_999).count() == 1
    assert left.count() == big_extra.join(small, ["k"], "left").count()


def test_salted_join_salts_the_join_key(spark):
    big = spark.range(0, 100).select(F.lit(1).alias("k"), F.col("id").alias("p"))
    small = spark.range(0, 3).select(F.col("id").alias("k"), F.col("id").alias("v"))
    p = _plan(salted_join(big, small, ["k"], n_salts=4))
    assert "__salt" in p, "join must include the salt in its keys"


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    orders = spark.range(0, 1000).select(
        F.col("id").alias("o_key"), (F.col("id") % 7).alias("o_val")
    )
    items = spark.range(0, 5000).select(
        (F.col("id") % 1000).alias("o_key"), F.col("id").alias("l_val")
    )
    bucketing.save_bucketed(
        orders, "t_orders_b", ["o_key"], num_buckets=8, sort_cols=["o_key"],
        path=str(tmp_path / "orders"),
    )
    bucketing.save_bucketed(
        items, "t_items_b", ["o_key"], num_buckets=8, sort_cols=["o_key"],
        path=str(tmp_path / "items"),
    )
    try:
        a = bucketing.table(spark, "t_orders_b")
        b = bucketing.table(spark, "t_items_b")
        joined = a.hint("MERGE").join(b, "o_key")
        p = _plan(joined)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p, f"bucketed join must not shuffle:\n{p}"
        assert joined.count() == 5000
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_items_b")


def test_keyed_cache_exposes_cache_partitioning(spark):
    """r16: persist() under AQE wraps the cached plan in an
    AdaptiveSparkPlan whose partitioning is invisible, so a same-key
    self-join re-exchanges BOTH sides; cache(keyed=True) must keep the
    cache's hashpartitioning visible so the join runs exchange-free."""
    from sf_epa_data_ingestion_spark.partitioning import cache

    base = spark.range(0, 2000).select(
        (F.col("id") % 37).alias("k"), F.col("id").alias("v")
    )
    # distinct lineages: the CacheManager dedups by logical plan, so an
    # identical plan would silently reuse the FIRST (AQE-wrapped) cache
    plain = base.repartition(8, "k").persist()
    keyed = cache(
        spark.range(0, 2000)
        .select((F.col("id") % 37).alias("k"), F.col("id").alias("v"))
        .where(F.col("v") >= 0)
        .repartition(8, "k"),
        keyed=True,
    )
    try:

        def join_plan(full):
            probe = full.filter(F.col("v") % 3 == 0)
            j = probe.alias("a").join(
                full.hint("SHUFFLE_HASH").alias("b"),
                (F.col("a.k") == F.col("b.k")) & (F.col("a.v") < F.col("b.v")),
            )
            return _plan(j)

        assert "ENSURE_REQUIREMENTS" in join_plan(plain)  # the AQE-cache trap
        assert "ENSURE_REQUIREMENTS" not in join_plan(keyed)
        # AQE stays ON for the session after the scoped persist
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        # and values are the plain-persist values
        got = keyed.groupBy("k").count().orderBy("k").collect()
        want = plain.groupBy("k").count().orderBy("k").collect()
        assert got == want
    finally:
        plain.unpersist()
        keyed.unpersist()


def test_adaptive_factor_gates_on_plan_size(spark):
    """r16: spread oversubscription is derived from the input's plan-size
    estimate, not pinned — tiny inputs get factor 1 (task overhead
    dominates), big ones keep the requested skew headroom."""
    from sf_epa_data_ingestion_spark.partitioning import (
        SPREAD_FACTOR_MIN_BYTES,
        adaptive_factor,
        plan_size_bytes,
    )

    small = spark.range(0, 10).select(F.col("id"))
    sz = plan_size_bytes(small)
    assert sz is not None and sz < SPREAD_FACTOR_MIN_BYTES
    assert adaptive_factor(small, 4) == 1
    assert adaptive_factor(small, 1) == 1  # factor 1 is never raised


def test_keyed_cache_overlapping_calls_leave_aqe_on(spark, monkeypatch):
    """Two threads in cache(keyed=True) at once, ordered by events inside
    a wrapped persist(): the first enters, the second enters while the
    first is inside persist(), the first exits while the second is still
    inside. The second must still see AQE off, and once both are out AQE
    is back on for the session. A lock held across persist() would keep
    the second out until the first is done, and the waits below would
    never be met."""
    from sf_epa_data_ingestion_spark.partitioning import cache

    second_inside = threading.Event()
    first_done = threading.Event()
    seen_by_second = []
    frame_cls = type(spark.range(0))
    plain_persist = frame_cls.persist

    def ordered_persist(self, *args, **kwargs):
        if threading.current_thread().name == "first":
            assert second_inside.wait(60)
        else:
            second_inside.set()
            assert first_done.wait(60)
            seen_by_second.append(spark.conf.get("spark.sql.adaptive.enabled"))
        return plain_persist(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "persist", ordered_persist)
    cached, errors = [], []

    def call(name, n):
        try:
            cached.append(cache(spark.range(0, n).repartition(2, "id"), keyed=True))
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)
        finally:
            if name == "first":
                first_done.set()

    spark.conf.set("spark.sql.adaptive.enabled", "true")
    threads = [
        threading.Thread(target=call, args=("first", 100), name="first"),
        threading.Thread(target=call, args=("second", 200), name="second"),
    ]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
        assert not any(t.is_alive() for t in threads)
        assert errors == []
        assert seen_by_second == ["false"]
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        for df in cached:
            df.unpersist()
