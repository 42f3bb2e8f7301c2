"""Session-scoped reader memos (r15): load_table costs ~90 ms of pure
driver/py4j time per call — a 100-query suite pays that hundreds of
times for the same static tables, and a serving tier would hold its
frames open. The memo must be invisible except for speed: same plan
back for the same bytes, a fresh plan the moment the path's content
changes. Also the persisted-layout cache (``_materialized_dir``)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sf_epa_data_ingestion_spark.sources import readers

SF = "/root/testdata/sf0.001"


def test_load_table_memoizes_per_session(spark):
    a = readers.load_table(spark, SF, "orders")
    b = readers.load_table(spark, SF, "orders")
    assert a is b, "repeat load of an unchanged table must hit the memo"
    # distinct tables / sf dirs are distinct entries
    c = readers.load_table(spark, SF, "lineitem")
    assert c is not a
    assert a.count() > 0  # the cached frame still executes


def test_load_table_reopens_on_rewrite(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(p)
    a = readers.load_table(spark, str(tmp_path), "t")
    assert a.count() == 3
    # rewrite in place: mtime_ns moves -> the memo must miss
    spark.range(5).write.mode("overwrite").parquet(p)
    os.utime(p)  # overwrite may reuse the dir inode; force the stat change
    b = readers.load_table(spark, str(tmp_path), "t")
    assert b.count() == 5


def test_load_table_leaves_session_conf_and_reads_utc(spark, tmp_path):
    """A nanos table loads under its own conf scope: a session at a
    non-UTC zone with the legacy-nanos reader off keeps both after the
    load and after a memo hit, and the frame (and a query derived from
    it, planned under the caller's conf) still reads the UTC values."""
    # fabricate a TIMESTAMP(NANOS) table (the driver's testdata has
    # carried micros since r14, but the legacy-reader path must hold)
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    nanos = 1_700_000_000_000_000_123  # 2023-11-14 22:13:20 UTC, +123 ns
    t = pa.table({"ts": pa.array([nanos], pa.timestamp("ns"))})
    pq.write_table(t, str(tmp_path / "nanos.parquet"))
    utc = datetime.datetime(2023, 11, 14, 22, 13, 20)
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        df = readers.load_table(spark, str(tmp_path), "nanos")
        hit = readers.load_table(spark, str(tmp_path), "nanos")  # memo hit
        assert hit is df
        assert spark.conf.get("spark.sql.session.timeZone") == "America/Los_Angeles"
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) is None
        assert [r["ts"] for r in df.collect()] == [utc]
        day = df.select(F.to_date("ts").alias("d")).first()["d"]
        assert day == utc.date()
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)


def test_materialized_dir_reuses_only_under_the_same_code(tmp_path, monkeypatch):
    """A persisted layout is served only to the code that built it: an
    unchanged code digest reuses the layout (one build), a changed one
    (edited build code, tag not bumped) rebuilds it (two builds)."""
    import tempfile

    import __spark_entry__ as entry

    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"corpus")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    builds = []

    def build(tmp):
        builds.append(tmp)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "_meta.json"), "w") as f:
            f.write("{}")

    a = entry._materialized_dir(str(sf), "documents", "probe_v1", build)
    assert entry._materialized_dir(str(sf), "documents", "probe_v1", build) == a
    assert len(builds) == 1
    monkeypatch.setattr(entry, "_code_digest", lambda: "edited build code")
    b = entry._materialized_dir(str(sf), "documents", "probe_v1", build)
    assert b != a and len(builds) == 2


def test_materialized_dir_keeps_the_layout_of_a_build_race_winner(tmp_path, monkeypatch):
    """When another process publishes the same layout while this one
    builds, the winner's layout stays (it may be serving from it) and
    this process's own build dir is dropped."""
    import glob
    import tempfile

    import __spark_entry__ as entry

    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"corpus")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def build(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "_meta.json"), "w") as f:
            f.write("{}")
        # the other process finishes first and publishes its layout
        root = tmp.rsplit(".build_", 1)[0]
        os.makedirs(root)
        for name in ("_meta.json", "winner"):
            with open(os.path.join(root, name), "w") as f:
                f.write("{}")

    root = entry._materialized_dir(str(sf), "documents", "race_v1", build)
    assert os.path.exists(os.path.join(root, "winner"))
    assert glob.glob(str(tmp_path / "*.build_*")) == []


def _layouts(tmp_path, monkeypatch):
    """A private temp dir, and a function that publishes one layout of
    the ``documents`` table of ``sf`` under the given code digest, aged
    ``age_s`` seconds."""
    import tempfile
    import time

    import __spark_entry__ as entry

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def build(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "_meta.json"), "w") as f:
            f.write("{}")

    def publish(sf, code, age_s=0.0):
        sf.mkdir(exist_ok=True)
        (sf / "documents.parquet").write_bytes(b"corpus")
        monkeypatch.setattr(entry, "_code_digest", lambda: code)
        root = entry._materialized_dir(str(sf), "documents", "probe_v1", build)
        t = time.time() - age_s
        os.utime(os.path.join(root, "_meta.json"), (t, t))
        return root

    return publish


def test_materialized_dir_reclaims_an_old_superseded_layout(tmp_path, monkeypatch):
    """A build that supersedes a layout of the same tag and table, older
    than the retention, deletes it; the new layout stays."""
    publish = _layouts(tmp_path, monkeypatch)
    old = publish(tmp_path / "sf", "old code", age_s=7200)
    new = publish(tmp_path / "sf", "new code")
    assert new != old and os.path.isdir(new)
    assert not os.path.exists(old)


def test_materialized_dir_keeps_the_layout_of_another_table_path(tmp_path, monkeypatch):
    """Layouts of another table path (another scale factor) under the
    same tag are never superseded, however old: only the same-path one
    is reclaimed."""
    publish = _layouts(tmp_path, monkeypatch)
    other = publish(tmp_path / "sf_other", "old code", age_s=7200)
    old = publish(tmp_path / "sf", "old code", age_s=7200)
    publish(tmp_path / "sf", "new code")
    assert os.path.exists(os.path.join(other, "_meta.json"))
    assert not os.path.exists(old)


def test_materialized_dir_keeps_a_young_superseded_layout(tmp_path, monkeypatch):
    """A superseded layout younger than the retention may still be
    serving another process: it stays, while an old one goes."""
    publish = _layouts(tmp_path, monkeypatch)
    old = publish(tmp_path / "sf", "old code", age_s=7200)
    young = publish(tmp_path / "sf", "young code", age_s=60)
    publish(tmp_path / "sf", "new code")
    assert os.path.exists(os.path.join(young, "_meta.json"))
    assert not os.path.exists(old)
