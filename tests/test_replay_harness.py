"""Pins for the graded-replay harness helpers in ``__spark_entry__``:
the deterministic micro-batch feed writer and the scoped state-partition
override. These carry four graded rows (late_data_replay,
running_user_stats_replay, dedup_stream_replay, and the feed pattern
generally), so their invariants get their own regression net."""

import glob
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402


def test_arrival_feed_orders_batches_by_mtime(spark, tmp_path):
    """One file per batch, strictly increasing mtimes 10 s apart —
    the property FileStreamSource's ms-granular ordering needs for the
    replay's batch identity to be deterministic."""
    feed = str(tmp_path / "feed")
    b = [
        spark.createDataFrame([(i,)], "v long") for i in range(3)
    ]
    entry._arrival_feed(b, feed)
    files = glob.glob(os.path.join(feed, "*.parquet"))
    assert len(files) == 3
    mtimes = sorted(os.path.getmtime(f) for f in files)
    assert mtimes[1] - mtimes[0] == pytest.approx(10.0, abs=0.1)
    assert mtimes[2] - mtimes[1] == pytest.approx(10.0, abs=0.1)
    # batch content follows mtime order: the oldest file is batch 0
    ordered = sorted(files, key=os.path.getmtime)
    vals = [spark.read.parquet(f).first()["v"] for f in ordered]
    assert vals == [0, 1, 2]


def test_replay_shuffle_partitions_scoped_restore(spark):
    """The override must restore the session default on exit AND on
    exception — a leaked 8 would silently shrink every later query's
    shuffle fan-out for the rest of the session."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    with entry._replay_shuffle_partitions(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.shuffle.partitions") == old

    with pytest.raises(RuntimeError, match="boom"):
        with entry._replay_shuffle_partitions(spark):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == old


def test_replay_shuffle_partitions_scale_aware(spark, tmp_path):
    """r14/r15: the pin derives from feed bytes on disk — fixture-sized
    feeds (<= REPLAY_FIXTURE_FEED_BYTES) keep the measured-optimal 8;
    for larger feeds the session conf is left completely UNTOUCHED (r14
    ADVICE: an override to defaultParallelism would substitute the
    local core count for a cluster session's configured value). Values
    are unaffected — this only sizes state/shuffle fan-out."""
    small = tmp_path / "small"
    small.mkdir()
    (small / "a.parquet").write_bytes(b"x" * 1024)
    with entry._replay_shuffle_partitions(spark, str(small)):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"

    big = tmp_path / "big"
    big.mkdir()
    (big / "a.parquet").write_bytes(b"x" * (5 * 1024 * 1024))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    # whatever the session has configured must genuinely apply — set a
    # sentinel value no derivation would produce and assert it survives
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        with entry._replay_shuffle_partitions(spark, str(big)):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_replay_pin_feed_size_boundary(spark, tmp_path):
    """r14 VERDICT next-round #6: the fixture/production boundary is the
    NAMED constant REPLAY_FIXTURE_FEED_BYTES, pinned AT the boundary —
    a feed of exactly that many bytes still takes the fixture pin of 8;
    one byte more leaves the session conf alone. A silent fixture-size
    change that crosses this line would flip every replay row's state
    layout; this test makes that flip loud."""
    assert entry.REPLAY_FIXTURE_FEED_BYTES == 4 * 1024 * 1024

    at = tmp_path / "at_boundary"
    at.mkdir()
    # split across two files: the walk must SUM, not per-file max
    (at / "a.parquet").write_bytes(b"x" * (entry.REPLAY_FIXTURE_FEED_BYTES - 100))
    (at / "b.parquet").write_bytes(b"x" * 100)
    with entry._replay_shuffle_partitions(spark, str(at)):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"

    over = tmp_path / "over_boundary"
    over.mkdir()
    (over / "a.parquet").write_bytes(b"x" * (entry.REPLAY_FIXTURE_FEED_BYTES + 1))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        with entry._replay_shuffle_partitions(spark, str(over)):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

