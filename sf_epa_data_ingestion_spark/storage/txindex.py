"""Transactional search-index hosting: the five-piece layout inside
txlog tables behind an atomic manifest — the one BM25 index host. Every
search row serves from a pinned ``TxSearchSnapshot``, and the same host
is kept fresh under a change feed, built by composing two primitives
the engine already has:

- each piece (postings, doclens, stats, bounds, frontier) lives in its
  own ``TxTable`` — copy-on-write commits, per-file min/max stats, so
  a term probe's bucket pruning is txlog FILE SKIPPING on the
  ``__tb``/``__ib`` column (the build range-partitions by bucket, so
  per-file bounds are tight);
- a ``GenerationStore`` manifest pins a CONSISTENT SET of per-piece
  versions: ``{postings: v, doclens: v, stats: v, bounds: v,
  frontier: v, n_docs, n_buckets}``. Readers resolve the manifest once
  and read every piece AT its pinned version (txlog snapshot reads);
  writers refresh the pieces (normal txlog commits), then publish
  generation N+1 with one atomic exclusive-create.

Consequences, by construction:
- torn refresh: invisible. Piece commits without a manifest are
  unreferenced garbage; readers stay on generation N, and the next
  refresh simply commits on top.
- concurrent readers: full snapshot isolation. A reader that resolved
  generation N keeps computing against N's files even while N+1's
  refresh rewrites pieces — txlog never deletes removed files until
  ``vacuum``, so the old snapshot stays materialized on disk.
- replay: the manifest carries the ``{app: batch}`` marker map; a
  replayed micro-batch is acknowledged without touching any piece.

Scale posture: a refresh rewrites only touched-bucket postings/doclens
FILES (replace_where rides the per-file ``__tb``/``__ib`` bounds, so
untouched files stay live under their old paths — pinned by test),
stats/bounds/frontier are vocabulary-sized overwrites, and the WAND
bounds are frontier-exact (``search.bounds_from_frontier``). Old
generations are reclaimed with ``vacuum_tx_search_index`` once no
reader needs them.
"""

from __future__ import annotations

import functools
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from sf_epa_data_ingestion_spark.operators import search
from sf_epa_data_ingestion_spark.storage.txlog import TxTable
from sf_epa_data_ingestion_spark.streaming.generations import GenerationStore

_PIECES = ("postings", "doclens", "stats", "bounds", "frontier")


class ConcurrentRefreshError(RuntimeError):
    """A piece table's tip version is ahead of the latest manifest's
    pinned version at refresh start: either another refresh is in
    flight (single-writer violation) or a previous refresh crashed
    between its piece commits and the manifest publish."""


def _tables(spark, path: str) -> dict[str, TxTable]:
    return {p: TxTable(spark, os.path.join(path, p)) for p in _PIECES}


def materialize_tx_search_index(
    docs: DataFrame,
    path: str,
    id_col: str = "id",
    text_col: str = "chunk",
    n_buckets: int = 16,
) -> None:
    """Build generation 1: five txlog tables + the manifest. Postings
    are range-partitioned on ``__tb`` (doclens on ``__ib``) so each data
    file's committed bucket bounds are tight and a term probe's
    ``("__tb", "in", buckets)`` skipping read opens only the probed
    buckets' files."""
    spark = docs.sparkSession
    n = docs.count()
    t = _tables(spark, path)

    postings = search.build_postings(docs, id_col=id_col, text_col=text_col)
    p_tb = postings.withColumn(
        "__tb", F.pmod(F.xxhash64(F.col("token")), F.lit(n_buckets))
    )
    t["postings"].create(p_tb.repartitionByRange(n_buckets, "__tb"))
    p_read = t["postings"].read().drop("__tb")

    dl = search.doc_lengths(docs, id_col=id_col, text_col=text_col)
    dl_ib = dl.withColumn(
        "__ib", F.pmod(F.xxhash64(F.col("id")), F.lit(n_buckets))
    )
    t["doclens"].create(dl_ib.repartitionByRange(n_buckets, "__ib"))
    dl_read = t["doclens"].read().drop("__ib")

    t["stats"].create(search.build_token_stats(p_read, n_docs=n))
    t["bounds"].create(search.build_term_bounds(p_read, dl_read, n))
    t["frontier"].create(search.build_term_frontier(p_read, dl_read))

    GenerationStore(path).publish(
        1,
        {
            "versions": {p: t[p].versions()[-1] for p in _PIECES},
            "n_docs": n,
            "n_buckets": n_buckets,
            "txn": {},
        },
    )


class TxSearchSnapshot:
    """A consistent view of one manifest generation. Every accessor
    reads its piece AT the pinned version — refreshes and vacuums of
    NEWER generations never change what this snapshot computes (txlog
    retains a removed file until vacuum drops the generation).

    A pinned version never changes, so each piece's txlog snapshot
    (files, schema, per-file stats) is resolved once per object, and
    each unfiltered piece frame is built once: the queries of a session
    share them. Both memos hold at most one entry per piece. Two threads
    that miss at once both resolve the same pinned version and store
    equal values, so the memos need no lock."""

    def __init__(self, spark, path: str, gen: int, meta: dict):
        self.spark = spark
        self.path = path
        self.gen = gen
        self.n_docs = int(meta["n_docs"])
        self.n_buckets = int(meta["n_buckets"])
        self._versions = meta["versions"]
        self._t = _tables(spark, path)
        self._resolved: dict[str, tuple] = {}
        self._frames: dict[str, DataFrame] = {}

    def _read(self, piece: str, filters=None) -> DataFrame:
        snapshot = self._resolved.get(piece)
        if snapshot is None:
            snapshot = self._resolved[piece] = self._t[piece]._snapshot_full(
                int(self._versions[piece])
            )
        return self._t[piece].read_snapshot(snapshot, filters)

    def _piece(self, piece: str) -> DataFrame:
        """The whole piece without its bucket column, built once."""
        df = self._frames.get(piece)
        if df is None:
            df = self._frames[piece] = self._read(piece).drop("__tb", "__ib")
        return df

    def postings(self) -> DataFrame:
        return self._piece("postings")

    def postings_for_terms(self, terms) -> DataFrame:
        """Bucket-pruned probe: the terms' bucket ids are computed
        driver-side with the xxhash64 mirror, so files whose committed
        __tb bounds exclude every probed bucket never enter the scan
        (txlog file skipping over the snapshot's resolved file list);
        the residual token filter still applies. Ranking-identical to
        the unpruned postings by construction: every row of a probed
        term lives in its bucket."""
        from sf_epa_data_ingestion_spark.functions.refhash import xxh64_string

        buckets = sorted({xxh64_string(t) % self.n_buckets for t in terms})
        return (
            self._read("postings", filters=[("__tb", "in", buckets)])
            .filter(F.col("token").isin(sorted(terms)))
            .drop("__tb")
        )

    def doclens(self) -> DataFrame:
        return self._piece("doclens")

    def stats(self) -> DataFrame:
        return self._piece("stats")

    def bounds(self) -> DataFrame:
        return self._piece("bounds")

    def frontier(self) -> DataFrame:
        return self._piece("frontier")

    @functools.cached_property
    def avgdl(self) -> float | None:
        """Mean length of this generation's docs with tokens, resolved
        once: the snapshot is immutable, so BM25 serving takes it as a
        literal instead of aggregating doclens in every query's plan."""
        return search._doc_avgdl(self.doclens()).first()[0]

    def last_txn(self, app: str):
        """Replay marker for ``app`` as of this generation's manifest."""
        return GenerationStore(self.path).meta(self.gen).get("txn", {}).get(app)

    def bm25_maxscore(self, queries: DataFrame, k: int = 10,
                      k1: float = 1.2, b: float = 0.75,
                      query_id: str = "query_id",
                      text_col: str = "query_text",
                      terms: list | None = None) -> DataFrame:
        """WAND-pruned batch BM25 served ENTIRELY from this snapshot, as
        one SQL plan (``search._maxscore_topk``, the kernel
        ``bm25_search_many_maxscore`` runs too): the postings probe is
        bucket-pruned through txlog file skipping
        (``postings_for_terms``), and every statistic (bounds, doclens,
        n_docs) reads at the pinned versions — so results are stable
        under concurrent refreshes. avgdl is the snapshot's ``avgdl``,
        a literal in the plan, so no query scans all of doclens for it.
        The query frame's terms are broadcast onto the bounds scan, and
        both passes read the one ranked-terms exchange above it and the
        one probe exchange of the postings, so the query frame, bounds
        and postings are each scanned once; each pass flags its
        candidate docs instead of joining a candidate set back. The
        bounds and doclens frames are this snapshot's memoized ones.

        ``terms``: when the query texts are LITERALS the caller already
        knows their normalized term set (``search._literal_terms`` over
        the literals) — passing it skips the tokenize+collect
        job this method otherwise runs over the query frame. Must equal
        ``_norm_tokens``' output for the same texts: a superset only
        widens the probe (safe), a subset would silently drop a term
        from scoring. The terms enter the SQL text as escaped string
        literals only."""
        if terms is None:
            # the SAME Spark expression the scorer tokenizes with (one
            # tiny collect over the query frame) — a hand-rolled Python
            # mirror would have to track _norm_tokens' JVM semantics
            # forever, and any divergence silently drops a term's
            # postings from the pruned probe
            terms = sorted(
                r["t"]
                for r in queries.select(
                    F.explode(search._norm_tokens(F.col(text_col))).alias("t")
                ).distinct().collect()
            )
        return search._maxscore_topk(
            self.postings_for_terms(terms),
            self.bounds(),
            queries,
            self.n_docs,
            self.doclens(),
            self.avgdl,
            k, k1, b, query_id, text_col, terms=terms,
        )


def load_tx_search_index(spark, path: str) -> TxSearchSnapshot:
    store = GenerationStore(path)
    gen = store.latest()
    if gen is None:
        raise FileNotFoundError(f"no tx search index manifest under {path}")
    return TxSearchSnapshot(spark, path, gen, store.meta(gen))


def refresh_tx_search_index(
    spark,
    path: str,
    changes: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    change_col: str = "_change_type",
    k1: float = 1.2,
    b: float = 0.75,
    txn: tuple[str, int] | None = None,
    recover_torn: bool = False,
    _publish: bool = True,
) -> None:
    """Apply a txlog change feed and publish the next generation
    atomically: touched-bucket postings/doclens CoW, vocabulary-sized
    stats, frontier-exact bounds. Every mutation is a txlog commit and
    nothing becomes visible until the manifest publish — the last,
    atomic step.

    SINGLE-WRITER DISCIPLINE: at most one refresh may run at a time
    (the streaming face, ``tx_index_refresh_sink``, serializes by
    construction). Before mutating anything, every piece's tip version
    is checked against the manifest's pinned version and drift raises
    ``ConcurrentRefreshError`` — without this, a refresh that lost the
    manifest race (or crashed pre-publish) would leave piece commits at
    the tip which the NEXT successful refresh silently pins, publishing
    duplicate postings rows in buckets it never touched.

    Crash recovery: re-run with ``recover_torn=True``. The torn
    refresh's unpublished piece commits are first rolled back with
    ``TxTable.restore_to`` (metadata-only) to the pinned versions, so
    recovery is sound even when the re-run carries a DIFFERENT change
    batch than the one that crashed. Only safe when no concurrent
    refresh is in flight — that is the operator's call, which is why it
    is not automatic. ``_publish=False`` exists for the torn-refresh
    test (pieces committed, manifest withheld: readers must stay
    consistent on the old generation)."""
    from sf_epa_data_ingestion_spark.functions.refhash import xxh64_string

    snap = load_tx_search_index(spark, path)
    if txn is not None:
        last = GenerationStore(path).meta(snap.gen).get("txn", {}).get(txn[0])
        if last is not None and int(txn[1]) <= int(last):
            return  # replayed micro-batch: acknowledged, nothing touched
    t = snap._t
    n_buckets = snap.n_buckets

    drifted = {}
    for p in _PIECES:
        tip = t[p].versions()[-1]  # one log listing per piece
        if tip != int(snap._versions[p]):
            drifted[p] = (int(snap._versions[p]), tip)
    if drifted:
        if not recover_torn:
            raise ConcurrentRefreshError(
                f"piece tip(s) ahead of manifest gen {snap.gen} pins at "
                f"{path}: " + ", ".join(
                    f"{p} pinned v{pin} tip v{tip}"
                    for p, (pin, tip) in sorted(drifted.items())
                ) + " — another refresh is in flight, or a prior one "
                "crashed pre-publish (re-run with recover_torn=True "
                "after confirming no concurrent writer)"
            )
        for p, (pin, _tip) in sorted(drifted.items()):
            t[p].restore_to(pin)

    touched_tokens = sorted(
        r["token"]
        for r in changes.select(
            F.explode(search._norm_tokens(F.col(text_col))).alias("token")
        ).distinct().collect()
    )
    touched_buckets = sorted({xxh64_string(tk) % n_buckets for tk in touched_tokens})
    touched_ibs = sorted(
        r["__ib"]
        for r in changes.select(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)).alias("__ib")
        ).distinct().collect()
    )
    # every doclens probe below is __ib-pruned to the change set's
    # id-buckets (txlog file skipping) — an unpruned snap.doclens() scan
    # here would make the per-batch refresh O(corpus), breaking the
    # change-proportional contract this module exists for
    touched_dl_probe = snap._read(
        "doclens", filters=[("__ib", "in", touched_ibs)]
    ).drop("__ib")

    deleted_ids = (
        changes.filter(F.col(change_col) == "delete")
        .select(F.col(id_col).alias("id")).distinct()
    )
    # full-row-image contract: a delete whose image carries no tokens
    # touches no postings bucket, so a doc with indexed dl > 0 would
    # keep its postings while the counts decrement — fail fast
    empty_deletes = (
        changes.filter(F.col(change_col) == "delete")
        .filter(F.coalesce(F.size(search._norm_tokens(F.col(text_col))), F.lit(0)) <= 0)
        .select(F.col(id_col).alias("id")).distinct()
    )
    n_bad = (
        touched_dl_probe.join(F.broadcast(empty_deletes), "id", "left_semi")
        .filter(F.col("dl") > 0).count()
    )
    if n_bad:
        raise ValueError(
            f"refresh_tx_search_index: {n_bad} delete row(s) carry a "
            "null/empty text image for docs whose indexed dl > 0 — the "
            "change feed must supply the full pre-image"
        )
    n_deleted = touched_dl_probe.join(
        F.broadcast(deleted_ids), "id", "left_semi"
    ).count()
    n_inserted = changes.filter(F.col(change_col) == "insert").count()
    n_after = snap.n_docs - n_deleted + n_inserted

    # --- postings: CoW on touched buckets, delete + maintained append
    # fused into ONE commit (r11: TxTable.replace_where — half the
    # piece commits per generation, and with the bucket-aligned layout
    # the survivor set is empty so the whole mutation is one staged
    # write)
    touched_part = snap._read(
        "postings", filters=[("__tb", "in", touched_buckets)]
    ).drop("__tb")
    maintained = search.apply_changes(
        touched_part.select("token", "id", "tf"),
        changes, id_col=id_col, text_col=text_col, change_col=change_col,
    ).withColumn("__tb", F.pmod(F.xxhash64(F.col("token")), F.lit(n_buckets)))
    t["postings"].replace_where(
        F.col("__tb").isin(touched_buckets),
        maintained.repartitionByRange(max(1, len(touched_buckets)), "__tb"),
        prune_filters=[("__tb", "in", touched_buckets)],
    )

    # --- doclens: CoW on touched id-buckets (same pruned read as the
    # probes above — one construction, so the filters cannot drift)
    new_dl = search.apply_changes_doclens(
        touched_dl_probe, changes, id_col=id_col, text_col=text_col,
        change_col=change_col,
    ).withColumn("__ib", F.pmod(F.xxhash64(F.col("id")), F.lit(n_buckets)))
    t["doclens"].replace_where(
        F.col("__ib").isin(touched_ibs),
        new_dl.repartitionByRange(max(1, len(touched_ibs)), "__ib"),
        prune_filters=[("__ib", "in", touched_ibs)],
    )
    doclens_after = t["doclens"].read().drop("__ib")
    postings_after = t["postings"].read().drop("__tb")

    # --- stats / frontier / bounds: vocabulary-sized overwrites,
    # frontier-exact bounds (maintained == a full rebuild, row for row)
    new_stats = search.apply_changes_stats(
        snap.stats(), changes, n_after,
        id_col=id_col, text_col=text_col, change_col=change_col,
    )
    t["stats"].overwrite(new_stats)
    stats_read = t["stats"].read()
    new_frontier = search.apply_changes_frontier(
        snap.frontier(), postings_after, doclens_after, changes,
        id_col=id_col, text_col=text_col, change_col=change_col,
    )
    t["frontier"].overwrite(new_frontier)
    t["bounds"].overwrite(
        search.bounds_from_frontier(
            t["frontier"].read(), stats_read, doclens_after, n_after,
            k1=k1, b=b,
        )
    )

    if not _publish:
        return  # torn-refresh simulation: readers must stay on snap.gen
    txn_map = dict(GenerationStore(path).meta(snap.gen).get("txn", {}))
    if txn is not None:
        txn_map[txn[0]] = int(txn[1])
    GenerationStore(path).publish(
        snap.gen + 1,
        {
            "versions": {p: t[p].versions()[-1] for p in _PIECES},
            "n_docs": n_after,
            "n_buckets": n_buckets,
            "txn": txn_map,
        },
    )


def vacuum_tx_search_index(spark, path: str, keep_generations: int = 2) -> None:
    """Reclaim piece files not referenced by the newest
    ``keep_generations`` MANIFESTS. The retention unit is generations,
    not raw txlog versions: refreshes may commit to pieces an UNEVEN
    number of times (a torn refresh adds restore_to rollback commits;
    pre-r11 refreshes paid a delete + an append per bucketed piece), so
    a fixed per-table version count would reclaim a still-pinned
    generation's postings while keeping its stats — a torn snapshot for
    any reader holding it. Per piece, every
    version >= the OLDEST retained manifest's pinned version is kept
    (txlog retention is a contiguous newest-N window, and pinned
    versions are monotone across generations). Run only when no reader
    still holds an older generation's snapshot."""
    store = GenerationStore(path)
    gens = store.generations()[-max(1, keep_generations):]
    if not gens:
        return
    oldest_pinned = {
        p: min(int(store.meta(g)["versions"][p]) for g in gens) for p in _PIECES
    }
    for piece, t in _tables(spark, path).items():
        latest = t.versions()[-1]
        t.vacuum(
            keep_versions=latest - oldest_pinned[piece] + 1,
            retention_seconds=0,
        )
