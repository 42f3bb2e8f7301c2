"""``session.scoped_conf``, the one way library code changes session conf:
values hold inside the scope and are restored after it, through nesting,
errors and scopes of several threads that interleave. The thread tests
order their steps with events; no step waits out a timeout."""

from __future__ import annotations

import random
import sys
import threading

import pytest

from sf_epa_data_ingestion_spark.session import scoped_conf

KEY = "spark.sf_epa.test.scoped"
OTHER = "spark.sf_epa.test.other"


def _get(spark, key=KEY):
    return spark.conf.get(key, None)


@pytest.fixture
def keys(spark):
    spark.conf.unset(KEY)
    spark.conf.set(OTHER, "old")
    yield
    spark.conf.unset(KEY)
    spark.conf.unset(OTHER)


def test_scope_sets_then_restores_set_and_unset_keys(spark, keys):
    with scoped_conf(spark, {KEY: "a", OTHER: "b"}):
        assert _get(spark) == "a" and _get(spark, OTHER) == "b"
    assert _get(spark) is None  # unset before: unset again
    assert _get(spark, OTHER) == "old"


def test_nested_scopes_restore_the_enclosing_value(spark, keys):
    with scoped_conf(spark, {KEY: "outer"}):
        with scoped_conf(spark, {KEY: "inner"}):
            assert _get(spark) == "inner"
        assert _get(spark) == "outer"
    assert _get(spark) is None


def test_error_in_the_body_restores(spark, keys):
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, {KEY: "a", OTHER: "b"}):
            raise RuntimeError("boom")
    assert _get(spark) is None and _get(spark, OTHER) == "old"


def test_a_set_that_fails_part_way_restores_the_keys_already_set(spark, keys):
    # a static conf cannot be set on a live session
    with pytest.raises(Exception, match="spark.sql.warehouse.dir"):
        with scoped_conf(spark, {KEY: "a", "spark.sql.warehouse.dir": "/nowhere"}):
            pass
    assert _get(spark) is None
    with scoped_conf(spark, {KEY: "b"}):  # no stale scope is left open
        assert _get(spark) == "b"
    assert _get(spark) is None


@pytest.mark.parametrize("first_out", ["a", "b"])
def test_interleaved_threads_restore_the_open_scope_then_the_original(spark, keys, first_out):
    """Thread a enters, thread b enters, then one exits: the conf takes
    the value of the scope still open, and once both are out the
    original value."""
    entered = {n: threading.Event() for n in "ab"}
    leave = {n: threading.Event() for n in "ab"}
    left = {n: threading.Event() for n in "ab"}
    errors = []

    def scope(name):
        try:
            with scoped_conf(spark, {OTHER: name}):
                entered[name].set()
                assert leave[name].wait(60)
        except Exception as exc:
            errors.append(exc)
        finally:
            left[name].set()

    threads = {n: threading.Thread(target=scope, args=(n,)) for n in "ab"}
    threads["a"].start()
    assert entered["a"].wait(60)
    threads["b"].start()
    assert entered["b"].wait(60)
    assert _get(spark, OTHER) == "b"
    last_out = "b" if first_out == "a" else "a"
    leave[first_out].set()
    assert left[first_out].wait(60)
    assert _get(spark, OTHER) == last_out
    leave[last_out].set()
    for t in threads.values():
        t.join(60)
        assert not t.is_alive()
    assert errors == []
    assert _get(spark, OTHER) == "old"


def test_second_thread_enters_while_the_first_holds_its_scope(spark, keys):
    """The ``foreachBatch`` shape: the first thread holds its scope while
    it waits for work done under another scope on a second thread (a
    stream's ``awaitTermination``). The second thread must get in and
    finish."""
    seen = []

    def batch():
        with scoped_conf(spark, {OTHER: "batch"}):
            seen.append(_get(spark, OTHER))

    with scoped_conf(spark, {OTHER: "replay"}):
        worker = threading.Thread(target=batch)
        worker.start()
        worker.join(60)
        assert not worker.is_alive()
        assert _get(spark, OTHER) == "replay"
    assert seen == ["batch"]
    assert _get(spark, OTHER) == "old"


def test_many_threads_nesting_at_random_leave_the_original(spark, keys):
    """Stress: more threads than cores enter and exit nested scopes on
    one key with a tiny switch interval. A lost update to the
    bookkeeping would leave a scope's value behind or fail an exit."""
    errors = []

    def worker(seed):
        rng = random.Random(seed)
        try:
            for _ in range(20):
                with scoped_conf(spark, {OTHER: f"t{seed}"}):
                    if rng.random() < 0.5:
                        with scoped_conf(spark, {OTHER: f"t{seed}n", KEY: "x"}):
                            pass
        except Exception as exc:
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert errors == []
    assert _get(spark, OTHER) == "old" and _get(spark) is None
