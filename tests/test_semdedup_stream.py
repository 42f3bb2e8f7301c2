"""Streaming SemDeDup monitor: cross-batch + in-batch decisions,
replay idempotence, and stream == batch under the same frozen model."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from sf_epa_data_ingestion_spark.operators import similarity
from sf_epa_data_ingestion_spark.storage.txlog import TxTable
from sf_epa_data_ingestion_spark.streaming.semdedup import semantic_dedup_monitor

DIM = 8
E0 = [1.0] + [0.0] * (DIM - 1)
E1 = [0.0, 1.0] + [0.0] * (DIM - 2)
CENTS = [E0, E1]


def _u(v):
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


# cell 0: a/b/d mutually near-identical, c far; cell 1: e alone
VECS = {
    1: _u([0.99, 0.10] + [0.0] * (DIM - 2)),          # a
    2: _u([0.97, 0.14, 0.02] + [0.0] * (DIM - 3)),    # b
    3: _u([0.60, -0.40, 0.60, -0.30] + [0.0] * (DIM - 4)),  # c
    4: _u([0.98, 0.12, 0.01] + [0.0] * (DIM - 3)),    # d
    5: _u([0.10, 0.99] + [0.0] * (DIM - 2)),          # e
}


def _emb(spark, ids):
    return spark.createDataFrame(
        [(i, VECS[i]) for i in ids], "vec_id long, embedding array<double>"
    )


def _tables(spark, tmp_path):
    state = TxTable(spark, str(tmp_path / "state")).create(
        spark.createDataFrame([], "id long, cid int, u array<double>, ccos double")
    )
    out = TxTable(spark, str(tmp_path / "decisions")).create(
        spark.createDataFrame(
            [], "cid int, keep_id long, drop_id long, cosine_sim double"
        )
    )
    return state, out


def test_semdedup_monitor_cross_batch_in_batch_and_replay(spark, tmp_path):
    state, out = _tables(spark, tmp_path)
    sink = semantic_dedup_monitor(state, out, "sd-test", CENTS, threshold=0.95)

    # batch 0: a and c (same cell, far apart) -> no decisions
    sink(_emb(spark, [1, 3]), 0)
    assert out.read().count() == 0
    assert state.read().count() == 2

    # batch 1: b (cross-batch dup of a), d (dup of a AND b — cross-batch
    # and in-batch), e (novel, other cell); d re-delivered in-batch
    batch = _emb(spark, [2, 4, 5]).unionByName(_emb(spark, [4]))
    sink(batch, 1)
    rows = out.read().collect()
    pairs = {
        (min(r["keep_id"], r["drop_id"]), max(r["keep_id"], r["drop_id"]))
        for r in rows
    }
    assert pairs == {(1, 2), (1, 4), (2, 4)}
    assert len(rows) == 3, "duplicate decision rows after in-batch re-delivery"
    assert state.read().count() == 5

    # replay batch 1: both tables unchanged (per-table txn markers)
    sink(batch, 1)
    assert out.read().count() == 3
    assert state.read().count() == 5

    # re-delivery of id 2 in a later batch: no new state row, no rematch
    sink(_emb(spark, [2]), 2)
    assert out.read().count() == 3
    assert state.read().count() == 5


def test_semdedup_monitor_tolerates_invalid_embeddings(spark, tmp_path):
    """r9 ADVICE: a NULL, wrong-dimension, or NaN-carrying embedding
    reaching the monitor must not fail the micro-batch (the batch
    operator's contract admits these rows) — it is masked out of pair
    scoring, and valid rows in the same batch still get their decisions."""
    state, out = _tables(spark, tmp_path)
    sink = semantic_dedup_monitor(state, out, "sd-invalid", CENTS, threshold=0.95)

    bad = spark.createDataFrame(
        [
            (101, None),                                  # NULL embedding
            (102, [1.0, 0.0]),                            # wrong dimension
            (103, [float("nan")] + [0.0] * (DIM - 1)),    # NaN component
        ],
        "vec_id long, embedding array<double>",
    )
    sink(_emb(spark, [1]).unionByName(bad), 0)      # must not raise
    sink(_emb(spark, [2]).unionByName(bad.filter(F.col("vec_id") == 101)), 1)

    rows = out.read().collect()
    assert {
        (min(r["keep_id"], r["drop_id"]), max(r["keep_id"], r["drop_id"]))
        for r in rows
    } == {(1, 2)}
    ids = {r["id"] for r in state.read().collect()}
    assert {1, 2}.issubset(ids)
    # invalid rows land in state masked (ccos NaN) and never pair
    assert not {101, 102, 103} & {r["keep_id"] for r in rows}
    assert not {101, 102, 103} & {r["drop_id"] for r in rows}


def test_monitor_compaction_bounds_state_files_over_long_replay(spark, tmp_path):
    """r9 VERDICT next-round #3: the monitor itself must trigger state
    compaction — over >=20 micro-batches the compacted monitor's live
    (and probed) file count stays bounded while an uncompacted control
    grows per batch, with identical decisions and state rows, and a
    replayed batch stays a no-op across a compaction boundary."""

    def _vec(i):
        # cell alternates; small in-cell perturbation so a few real
        # pairs exist and decisions are non-trivial
        base = E0 if i % 2 == 0 else E1
        v = list(base)
        v[2] = (i % 5) * 1e-3
        return _u(v)

    def _batch(b):
        rows = [(b * 10 + j, _vec(b * 10 + j)) for j in range(4)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    n_batches = 22
    runs = {}
    for tag, compact_files in (("cmp", 6), ("ctl", None)):
        state = TxTable(spark, str(tmp_path / f"state_{tag}")).create_empty(
            "id long, cid int, u array<double>, ccos double"
        )
        out = TxTable(spark, str(tmp_path / f"out_{tag}")).create_empty(
            "cid int, keep_id long, drop_id long, cosine_sim double"
        )
        sink = semantic_dedup_monitor(
            state, out, f"sd-{tag}", CENTS, threshold=0.95,
            compact_files=compact_files, compact_target_files=2,
        )
        for b in range(n_batches):
            sink(_batch(b), b)
        runs[tag] = (state, out)

    state_c, out_c = runs["cmp"]
    state_n, out_n = runs["ctl"]
    # decisions and state contents identical under compaction
    key = lambda r: (r["cid"], r["keep_id"], r["drop_id"], round(r["cosine_sim"], 6))
    assert sorted(map(key, out_c.read().collect())) == sorted(
        map(key, out_n.read().collect())
    )
    assert out_c.read().count() > 0  # non-vacuous: real pairs flowed
    assert state_c.read().count() == state_n.read().count() == n_batches * 4
    # the control accumulates ~a file per batch; the compacted state is
    # bounded near threshold + target
    assert len(state_n.read_files()) >= n_batches
    assert len(state_c.read_files()) <= 10
    # cid clustering restored by compaction: a one-cell probe prunes
    assert len(state_c.read_files(filters=[("cid", "in", [0])])) < len(
        state_c.read_files()
    )
    # replay across the compaction boundary is still a no-op
    v_state, v_out = state_c.read().count(), out_c.read().count()
    sink_c = semantic_dedup_monitor(
        state_c, out_c, "sd-cmp", CENTS, threshold=0.95,
        compact_files=6, compact_target_files=2,
    )
    sink_c(_batch(n_batches - 1), n_batches - 1)
    assert state_c.read().count() == v_state
    assert out_c.read().count() == v_out


def test_semdedup_stream_equals_batch_operator(spark, tmp_path):
    """Accumulated stream decisions over any batch split == the batch
    operator over the union corpus under the same frozen centroids
    (every unordered within-cluster pair is scored exactly once)."""
    state, out = _tables(spark, tmp_path)
    sink = semantic_dedup_monitor(state, out, "sd-parity", CENTS, threshold=0.95)
    sink(_emb(spark, [1, 3]), 0)
    sink(_emb(spark, [2, 4, 5]), 1)

    streamed = {
        (r["cid"], r["keep_id"], r["drop_id"], r["cosine_sim"])
        for r in out.read().collect()
    }
    index = similarity.encode_ivf(
        _emb(spark, sorted(VECS)), CENTS, id_col="vec_id", vec_col="embedding"
    )
    batch = {
        (r["cid"], r["keep_id"], r["drop_id"], r["cosine_sim"])
        for r in similarity.semantic_dedup_pairs(index, CENTS, threshold=0.95).collect()
    }
    assert streamed == batch and len(batch) == 3


def test_generation_cutover_mid_stream(spark, tmp_path):
    """r9 VERDICT next-round #2: the frozen-model drift answer. A stream
    runs under generation 1; an offline retrain publishes generation 2
    (new centroids, history re-assigned, marker carried); the SAME
    monitor follows at the next batch boundary. Pins: (a) decisions
    before/after the cutover each equal their generation's batch
    operator, (b) no batch is lost or double-processed, (c) the replay
    marker survives the swap (pre- and post-cutover batch ids replay as
    no-ops), (d) retiring the old generation leaves serving intact."""
    from sf_epa_data_ingestion_spark.streaming.generations import GenerationStore
    from sf_epa_data_ingestion_spark.streaming.semdedup import (
        current_semdedup_generation,
        init_semdedup_generations,
        retrain_semdedup_generation,
        semantic_dedup_monitor_gen,
    )

    A = [1.0, 0.0, 0.0, 0.0] + [0.0] * (DIM - 4)
    B = [0.0, 1.0, 0.0, 0.0] + [0.0] * (DIM - 4)
    C = [0.7, 0.7, 0.0, 0.0] + [0.0] * (DIM - 4)
    D = [0.0, 0.0, 1.0, 0.0] + [0.0] * (DIM - 4)

    def _near(base, k):
        v = list(base)
        v[3] = 1e-3 * k
        return _u(v)

    vecs = {
        1: _near(A, 1), 2: _near(A, 2), 3: _u(C), 4: _near(B, 1),
        5: _near(B, 2), 6: _near(C, 3),
        7: _near(A, 4), 8: _near(C, 5), 9: _near(B, 6), 10: _u(D),
        11: _near(D, 7), 12: _near(D, 8),
    }

    def _corpus(ids):
        return spark.createDataFrame(
            [(i, vecs[i]) for i in ids], "vec_id long, embedding array<double>"
        )

    root = str(tmp_path / "gens")
    init_semdedup_generations(spark, root, CENTS)
    out = TxTable(spark, str(tmp_path / "decisions")).create_empty(
        "gen int, cid int, keep_id long, drop_id long, cosine_sim double"
    )
    sink = semantic_dedup_monitor_gen(spark, root, out, "sd-gen", threshold=0.95)

    def _batch_pairs(ids, cents):
        enc = similarity.encode_ivf(_corpus(ids), cents)
        return {
            (r["keep_id"], r["drop_id"], round(r["cosine_sim"], 6))
            for r in similarity.semantic_dedup_pairs(
                enc, cents, threshold=0.95
            ).collect()
        }

    # --- generation 1: batch 0 ---
    sink(_corpus(range(1, 7)), 0)
    got0 = {
        (r["keep_id"], r["drop_id"], round(r["cosine_sim"], 6))
        for r in out.read().collect()
    }
    want0 = _batch_pairs(range(1, 7), CENTS)
    assert got0 == want0 and got0, "pre-cutover decisions != gen-1 batch operator"
    assert {r["gen"] for r in out.read().collect()} == {1}

    # --- offline cutover to generation 2 ---
    new_gen = retrain_semdedup_generation(spark, root, "sd-gen", n_centroids=3)
    assert new_gen == 2 and GenerationStore(root).latest() == 2
    gen, cents2, state2 = current_semdedup_generation(spark, root)
    assert gen == 2 and len(cents2) == 3 and cents2 != CENTS
    # backfill: full history re-assigned, nothing lost or duplicated
    assert state2.read().count() == 6
    assert state2.last_txn("sd-gen") == 0  # marker carried
    # re-assignment matches the batch pipeline under the new model
    batch_assign = {
        (r["vec_id"], r["cid"])
        for r in similarity.encode_ivf(_corpus(range(1, 7)), cents2).collect()
    }
    assert {(r["id"], r["cid"]) for r in state2.read().collect()} == batch_assign

    # replay of a PRE-cutover batch id after the swap: no-op
    sink(_corpus(range(1, 7)), 0)
    assert out.read().count() == len(want0)
    assert state2.read().count() == 6

    # --- generation 2: batch 1 (the monitor follows mid-stream) ---
    sink(_corpus(range(7, 13)), 1)
    rows = out.read().collect()
    got1 = {
        (r["keep_id"], r["drop_id"], round(r["cosine_sim"], 6))
        for r in rows if r["gen"] == 2
    }
    # expected: every gen-2-batch-operator pair over the union that
    # touches a batch-1 arrival (old-old pairs were decided under gen 1
    # and are never re-scored)
    want_full = _batch_pairs(range(1, 13), cents2)
    want1 = {p for p in want_full if p[0] >= 7 or p[1] >= 7}
    assert got1 == want1 and got1, "post-cutover decisions != gen-2 batch operator"
    # gen-1 decisions still standing untouched
    assert {
        (r["keep_id"], r["drop_id"], round(r["cosine_sim"], 6))
        for r in rows if r["gen"] == 1
    } == want0
    assert state2.read().count() == 12

    # replay of the post-cutover batch: no-op
    sink(_corpus(range(7, 13)), 1)
    assert out.read().count() == len(want0) + len(want1)

    # --- retire generation 1; serving unaffected ---
    retired = GenerationStore(root).retire_below(keep_latest=1)
    assert retired == [1]
    gen, cents_r, state_r = current_semdedup_generation(spark, root)
    assert gen == 2 and cents_r == cents2
    assert state_r.read().count() == 12


def test_compact_vacuum_bounds_on_disk_files(spark, tmp_path):
    """r10: compaction alone bounds the LIVE file set while removed
    generations pile up on disk; with compact_vacuum_keep the monitor
    also reclaims them, so the state directory's physical parquet count
    stays bounded over a long replay — with decisions unchanged and
    replay still a no-op."""
    import os

    def _vec(i):
        base = E0 if i % 2 == 0 else E1
        v = list(base)
        v[2] = (i % 5) * 1e-3
        return _u(v)

    def _batch(b):
        rows = [(b * 10 + j, _vec(b * 10 + j)) for j in range(3)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def _on_disk(root):
        return sum(
            1 for f in os.listdir(root) if f.endswith(".parquet")
        )

    n_batches = 16
    runs = {}
    for tag, keep in (("vac", 2), ("ctl", None)):
        state = TxTable(spark, str(tmp_path / f"state_{tag}")).create_empty(
            "id long, cid int, u array<double>, ccos double"
        )
        out = TxTable(spark, str(tmp_path / f"out_{tag}")).create_empty(
            "cid int, keep_id long, drop_id long, cosine_sim double"
        )
        sink = semantic_dedup_monitor(
            state, out, f"sd-{tag}", CENTS, threshold=0.95,
            compact_files=4, compact_target_files=2, compact_vacuum_keep=keep,
        )
        for b in range(n_batches):
            sink(_batch(b), b)
        runs[tag] = (state, out)

    state_v, out_v = runs["vac"]
    state_n, out_n = runs["ctl"]
    key = lambda r: (r["cid"], r["keep_id"], r["drop_id"], round(r["cosine_sim"], 6))
    assert sorted(map(key, out_v.read().collect())) == sorted(
        map(key, out_n.read().collect())
    )
    assert state_v.read().count() == state_n.read().count() == n_batches * 3
    # the control's on-disk count keeps every compacted-away generation;
    # the vacuuming monitor's stays near the live count
    assert _on_disk(state_n.root) > 2 * len(state_n.read_files())
    assert _on_disk(state_v.root) <= len(state_v.read_files()) + 6
    # replay after vacuum: still a no-op
    v = state_v.read().count()
    sink_v = semantic_dedup_monitor(
        state_v, out_v, "sd-vac", CENTS, threshold=0.95,
        compact_files=4, compact_target_files=2, compact_vacuum_keep=2,
    )
    sink_v(_batch(n_batches - 1), n_batches - 1)
    assert state_v.read().count() == v


def test_auto_retrain_cuts_over_on_drift(spark, tmp_path):
    """r10: the drift loop closed — the generational monitor itself
    triggers the cutover when arriving vectors land far from every
    frozen centroid (batch mean ccos < ratio x the generation's running
    mean), exactly the invisible-retrain posture of the reference's
    managed service. Pins: no cutover while data matches the model,
    cutover fires on drifted data, the new model covers the drifted
    region (decisions for drifted near-dups appear under gen 2), and
    stable data after the cutover triggers nothing further."""
    from sf_epa_data_ingestion_spark.streaming.generations import GenerationStore
    from sf_epa_data_ingestion_spark.streaming.semdedup import (
        init_semdedup_generations,
        semantic_dedup_monitor_gen,
    )

    def _vec(base, k):
        v = list(base)
        v[3] = 1e-3 * k
        return _u(v)

    # drifted direction far from both gen-1 centroids (E0, E1)
    DRIFT = _u([0.0, 0.0, 1.0, 1.0] + [0.0] * (DIM - 4))

    root = str(tmp_path / "gens")
    init_semdedup_generations(spark, root, CENTS)
    out = TxTable(spark, str(tmp_path / "decisions")).create_empty(
        "gen int, cid int, keep_id long, drop_id long, cosine_sim double"
    )
    sink = semantic_dedup_monitor_gen(
        spark, root, out, "sd-auto", threshold=0.95,
        auto_retrain={"ratio": 0.9, "min_batches": 2, "n_centroids": 3},
    )

    def _batch(rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # four on-model batches: running mean builds, no cutover
    b = 0
    for _ in range(4):
        rows = [(b * 10 + j, _vec(E0 if j % 2 == 0 else E1, b * 10 + j)) for j in range(3)]
        sink(_batch(rows), b)
        b += 1
    assert GenerationStore(root).latest() == 1

    # a drifted batch: mean ccos collapses -> the monitor retrains
    drifted = [(900 + j, _vec(DRIFT, j)) for j in range(4)]
    sink(_batch(drifted), b)
    b += 1
    assert GenerationStore(root).latest() == 2

    # post-cutover: the new model has a cell near the drifted region, so
    # a newly arriving drifted near-dup pairs under generation 2
    sink(_batch([(950, _vec(DRIFT, 1))]), b)
    b += 1
    rows = out.read().collect()
    assert any(r["gen"] == 2 for r in rows), "no decisions under the new generation"
    gen2_ids = {r["keep_id"] for r in rows if r["gen"] == 2} | {
        r["drop_id"] for r in rows if r["gen"] == 2
    }
    assert 950 in gen2_ids and gen2_ids & {900, 901, 902, 903}

    # stable batches under gen 2: no further cutover
    for _ in range(3):
        sink(_batch([(1000 + b, _vec(DRIFT, b))]), b)
        b += 1
    assert GenerationStore(root).latest() == 2


def test_retrain_retry_after_crashed_build(spark, tmp_path):
    """r10 review: a crash mid-retrain (gen dir built, manifest never
    published) must not poison the retry — build_generation clears the
    orphan, so re-running the retrain succeeds and serving follows."""
    from sf_epa_data_ingestion_spark.streaming.generations import (
        GenerationStore,
        build_generation,
    )
    from sf_epa_data_ingestion_spark.streaming.semdedup import (
        current_semdedup_generation,
        init_semdedup_generations,
        retrain_semdedup_generation,
        semantic_dedup_monitor_gen,
    )

    root = str(tmp_path / "gens")
    init_semdedup_generations(spark, root, CENTS)
    out = TxTable(spark, str(tmp_path / "out")).create_empty(
        "gen int, cid int, keep_id long, drop_id long, cosine_sim double"
    )
    sink = semantic_dedup_monitor_gen(spark, root, out, "sd-crash")
    sink(_emb(spark, [1, 2, 3, 4, 5]), 0)

    # crash simulation: generation 2's directory exists (model + state
    # table created) but the manifest was never published
    build_generation(
        spark, root, 2, {"cents": CENTS}, "state",
        "id long, cid int, u array<double>, ccos double",
    )
    assert GenerationStore(root).latest() == 1  # pointer untouched

    # the retry must rebuild cleanly, not FileExistsError forever
    assert retrain_semdedup_generation(spark, root, "sd-crash", n_centroids=3) == 2
    gen, cents2, state2 = current_semdedup_generation(spark, root)
    assert gen == 2 and len(cents2) == 3
    assert state2.read().count() == 5
    assert state2.last_txn("sd-crash") == 0  # marker carried

    # a published generation's directory is immutable
    import pytest
    from sf_epa_data_ingestion_spark.streaming.generations import (
        GenerationAlreadyPublished,
    )
    with pytest.raises(GenerationAlreadyPublished):
        GenerationStore(root).prepare_dir(2)


def test_retrain_with_fewer_vectors_than_centroids(spark, tmp_path):
    """A retrain asked for more centroids than the state holds vectors
    trains one cell per vector instead of failing: the coarse trainer
    keeps one centroid per hash-ordered seed."""
    from sf_epa_data_ingestion_spark.streaming.semdedup import (
        current_semdedup_generation,
        init_semdedup_generations,
        retrain_semdedup_generation,
        semantic_dedup_monitor_gen,
    )

    root = str(tmp_path / "gens")
    init_semdedup_generations(spark, root, CENTS)
    out = TxTable(spark, str(tmp_path / "out")).create_empty(
        "gen int, cid int, keep_id long, drop_id long, cosine_sim double"
    )
    semantic_dedup_monitor_gen(spark, root, out, "sd-small")(_emb(spark, [1, 2, 3, 4, 5]), 0)

    assert retrain_semdedup_generation(spark, root, "sd-small", n_centroids=16) == 2
    gen, cents2, state2 = current_semdedup_generation(spark, root)
    assert gen == 2 and len(cents2) == 5
    assert sorted(r["id"] for r in state2.read().collect()) == [1, 2, 3, 4, 5]
    assert {r["cid"] for r in state2.read().collect()} <= set(range(5))


def test_generation_publish_is_atomic_and_tmp_tolerant(spark, tmp_path):
    """r10 review: the generation record appears atomically (temp write
    + link), a leftover temp file never pollutes generation resolution,
    and a lost publish race raises without damaging the winner."""
    import json
    import os

    import pytest
    from sf_epa_data_ingestion_spark.streaming.generations import (
        GenerationAlreadyPublished,
        GenerationStore,
    )

    store = GenerationStore(str(tmp_path / "g"))
    store.publish(1, {"x": 1})
    # a crashed publisher's temp file is invisible to resolution
    with open(os.path.join(store.gens_dir, ".00002.999.tmp"), "w") as f:
        f.write("{torn")
    assert store.latest() == 1
    assert store.generations() == [1]
    # losing the race raises; the winner's record is intact
    with pytest.raises(GenerationAlreadyPublished):
        store.publish(1, {"x": 2})
    assert store.meta(1)["x"] == 1
    assert json.load(open(os.path.join(store.gens_dir, "00001.json")))["x"] == 1
