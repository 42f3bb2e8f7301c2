"""Transactional search-index hosting (storage/txindex.py): the five
pieces inside txlog tables behind an atomic manifest — atomic cutover,
torn-refresh invisibility, concurrent-reader snapshot isolation,
replay markers, change-proportional refresh, and parity with a live
index build."""

import re

import pyspark.sql.functions as F
import pytest

from sf_epa_data_ingestion_spark.operators import search
from sf_epa_data_ingestion_spark.storage import TxTable
from sf_epa_data_ingestion_spark.storage import txindex
from sf_epa_data_ingestion_spark.storage.txindex import (
    load_tx_search_index,
    materialize_tx_search_index,
    refresh_tx_search_index,
    vacuum_tx_search_index,
)


def _docs(spark, n=200):
    return (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(n)
        .withColumn(
            "text",
            F.concat(F.col("text"), F.lit(" uniq"), F.col("doc_id").cast("string")),
        )
    )


def _feed(spark, tmp_path, docs):
    """A committed mixed change set (3 updates + 2 inserts + 1 delete)."""
    t = TxTable(spark, str(tmp_path / "docs")).create(
        docs.repartitionByRange(4, "doc_id")
    )
    lo = docs.agg(F.min("doc_id")).first()[0]
    upd = docs.filter(F.col("doc_id") <= lo + 2).withColumn(
        "text", F.concat(F.lit("fresh zebra tokens "), F.col("text"))
    )
    ins = docs.limit(2).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    t.merge(upd.unionByName(ins), ["doc_id"])
    hi = docs.agg(F.max("doc_id")).first()[0]
    t.delete_where(F.col("doc_id") == hi)
    return t, t.changes(0)


def _piece_rows(snap):
    return {
        "postings": {(r["token"], r["id"], r["tf"]) for r in snap.postings().collect()},
        "doclens": {(r["id"], r["dl"]) for r in snap.doclens().collect()},
        "stats": {(r["token"], r["df"], round(r["idf"], 12)) for r in snap.stats().collect()},
        "bounds": {(r["token"], r["df"], r["max_part"], r["ub"]) for r in snap.bounds().collect()},
        "frontier": {(r["token"], r["tf"], r["dl"]) for r in snap.frontier().collect()},
        "n_docs": snap.n_docs,
    }


def _rebuilt_rows(spark, path, corpus, **kw):
    """The oracle for a refreshed index: ``_piece_rows`` of a fresh tx
    build of the final corpus."""
    materialize_tx_search_index(corpus, path, id_col="doc_id", text_col="text", **kw)
    return _piece_rows(load_tx_search_index(spark, path))


def test_build_matches_live_index_and_probe_prunes(spark, tmp_path):
    docs = _docs(spark)
    tx = str(tmp_path / "tx")
    materialize_tx_search_index(docs, tx, id_col="doc_id", text_col="text")

    snap = load_tx_search_index(spark, tx)
    assert snap.gen == 1
    # every piece holds the rows the live index functions compute over docs
    n = docs.count()
    p = search.build_postings(docs, id_col="doc_id", text_col="text")
    dl = search.doc_lengths(docs, id_col="doc_id", text_col="text")
    tx_rows = _piece_rows(snap)
    del tx_rows["frontier"]  # covered by the refresh-equals-rebuild tests
    assert tx_rows == {
        "postings": {(r["token"], r["id"], r["tf"]) for r in p.collect()},
        "doclens": {(r["id"], r["dl"]) for r in dl.collect()},
        "stats": {
            (r["token"], r["df"], round(r["idf"], 12))
            for r in search.build_token_stats(p, n_docs=n).collect()
        },
        "bounds": {
            (r["token"], r["df"], r["max_part"], r["ub"])
            for r in search.build_term_bounds(p, dl, n).collect()
        },
        "n_docs": n,
    }

    # bucket-pruned term probe: fewer files, identical rows
    terms = ["spark", "table"]
    t_post = snap._t["postings"]
    from sf_epa_data_ingestion_spark.functions.refhash import xxh64_string

    buckets = sorted({xxh64_string(t) % snap.n_buckets for t in terms})
    probed = t_post.read_files(filters=[("__tb", "in", buckets)])
    assert 0 < len(probed) < len(t_post.read_files())
    got = {(r["token"], r["id"]) for r in snap.postings_for_terms(terms).collect()}
    want = {
        (r["token"], r["id"])
        for r in snap.postings().filter(F.col("token").isin(terms)).collect()
    }
    assert got == want and got
    # the pruned probe ranks exactly like the live, unpruned index
    query = " ".join(terms)
    live = sorted(
        (r["id"], r["score"])
        for r in search.lexical_search(
            p, search.build_token_stats(p, n_docs=n), query, k=25
        ).collect()
    )
    served = sorted(
        (r["id"], r["score"])
        for r in search.lexical_search(
            snap.postings_for_terms(terms), snap.stats(), query, k=25
        ).collect()
    )
    assert served == live and served


def test_refresh_equals_rebuild_and_cutover_is_atomic(spark, tmp_path):
    docs = _docs(spark)
    tx = str(tmp_path / "tx")
    materialize_tx_search_index(docs, tx, id_col="doc_id", text_col="text")
    t, changes = _feed(spark, tmp_path, docs)

    # a reader resolves generation 1 BEFORE the refresh
    old_snap = load_tx_search_index(spark, tx)
    before = _piece_rows(old_snap)

    refresh_tx_search_index(
        spark, tx, changes, id_col="doc_id", text_col="text", txn=("app", 0)
    )

    # new generation equals a from-scratch build of the new corpus
    new_snap = load_tx_search_index(spark, tx)
    assert new_snap.gen == 2
    assert _piece_rows(new_snap) == _rebuilt_rows(
        spark, str(tmp_path / "rebuilt"), t.read()
    )

    # SNAPSHOT ISOLATION: the generation-1 reader still computes the
    # OLD consistent pieces after the refresh rewrote everything
    assert _piece_rows(old_snap) == before

    # replay marker survives in the manifest: same (app, batch) no-ops
    refresh_tx_search_index(
        spark, tx, changes, id_col="doc_id", text_col="text", txn=("app", 0)
    )
    assert load_tx_search_index(spark, tx).gen == 2
    assert new_snap.last_txn("app") == 0


def test_refresh_leaves_untouched_bucket_files_in_place(spark, tmp_path):
    """The O(change) claim: a refresh rewrites only the postings files
    whose ``__tb`` bounds meet a touched token's bucket and the doclens
    files whose ``__ib`` bounds meet a changed id's bucket. Every other
    live data file stays in the new version's live file set under the
    same path."""
    from sf_epa_data_ingestion_spark.functions.refhash import xxh64_string

    docs = _docs(spark)
    tx = str(tmp_path / "tx")
    # 64 buckets: with ~45 touched tokens, 16 buckets would ALL be hit on
    # this small-vocabulary corpus and the untouched-file pin would be
    # vacuous
    materialize_tx_search_index(
        docs, tx, id_col="doc_id", text_col="text", n_buckets=64
    )
    _t, changes = _feed(spark, tmp_path, docs)
    touched_tbs = sorted({
        xxh64_string(r["token"]) % 64
        for r in changes.select(
            F.explode(search._norm_tokens(F.col("text"))).alias("token")
        ).distinct().collect()
    })
    touched_ibs = sorted({
        r["ib"]
        for r in changes.select(
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(64)).alias("ib")
        ).distinct().collect()
    })
    pieces = load_tx_search_index(spark, tx)._t

    def untouched(piece, col, buckets):
        t = pieces[piece]
        return set(t.read_files()) - set(t.read_files(filters=[(col, "in", buckets)]))

    before = {
        "postings": untouched("postings", "__tb", touched_tbs),
        "doclens": untouched("doclens", "__ib", touched_ibs),
    }
    assert all(before.values())  # untouched files exist

    refresh_tx_search_index(spark, tx, changes, id_col="doc_id", text_col="text")
    snap = load_tx_search_index(spark, tx)
    assert snap.gen == 2
    for piece, files in before.items():
        live = set(pieces[piece].read_files(version=int(snap._versions[piece])))
        assert files <= live, f"untouched {piece} files rewritten: {sorted(files - live)}"


def test_refresh_bounds_exact_after_delete_heavy_feed(spark, tmp_path):
    """After a DELETE-HEAVY change feed, which drifts avgdl on every
    untouched token, the refreshed bounds and frontier equal a fresh
    build exactly, and WAND served from the refreshed snapshot equals
    naive scoring over the rebuild."""
    docs = _docs(spark)
    t = TxTable(spark, str(tmp_path / "docs")).create(
        docs.repartitionByRange(4, "doc_id")
    )
    tx = str(tmp_path / "tx")
    materialize_tx_search_index(
        t.read(0), tx, id_col="doc_id", text_col="text", n_buckets=64
    )
    # delete the 30 LONGEST docs: maximal avgdl shift downward
    victims = (
        t.read(0)
        .select("doc_id", F.length("text").alias("n"))
        .orderBy(F.desc("n"), "doc_id")
        .limit(30)
    )
    t.delete_where(F.col("doc_id").isin(
        [r["doc_id"] for r in victims.collect()]
    ))
    refresh_tx_search_index(
        spark, tx, t.changes(0), id_col="doc_id", text_col="text"
    )

    snap = load_tx_search_index(spark, tx)
    rebuilt_dir = str(tmp_path / "rebuilt")
    want = _rebuilt_rows(spark, rebuilt_dir, t.read(), n_buckets=64)
    got = _piece_rows(snap)
    assert got["bounds"] == want["bounds"]
    assert got["frontier"] == want["frontier"]

    rebuilt = load_tx_search_index(spark, rebuilt_dir)
    queries = spark.createDataFrame(
        [(1, "spark table join"), (2, "hash index")], "qid long, qtext string"
    )
    wand = snap.bm25_maxscore(queries, k=5, query_id="qid", text_col="qtext")
    naive = search.bm25_search_many(
        rebuilt.postings(), rebuilt.stats(), queries, rebuilt.n_docs,
        doclens=rebuilt.doclens(), k=5, query_id="qid", text_col="qtext",
    )

    def _rows(df):
        return sorted(
            (r["qid"], r["id"], round(r["score"], 9)) for r in df.collect()
        )
    assert _rows(wand) == _rows(naive) and _rows(wand)


def test_torn_refresh_is_invisible_until_manifest(spark, tmp_path):
    docs = _docs(spark)
    tx = str(tmp_path / "tx")
    materialize_tx_search_index(docs, tx, id_col="doc_id", text_col="text")
    _t, changes = _feed(spark, tmp_path, docs)

    before = _piece_rows(load_tx_search_index(spark, tx))
    # crash simulation: every piece refreshed, manifest never published
    refresh_tx_search_index(
        spark, tx, changes, id_col="doc_id", text_col="text", _publish=False
    )
    after = load_tx_search_index(spark, tx)
    assert after.gen == 1
    assert _piece_rows(after) == before  # readers stay fully consistent

    # r11 (ADVICE): a refresh that finds piece tips ahead of the
    # manifest pins FAILS FAST — blind re-running would be fine for the
    # SAME change batch, but a different batch would pin the torn
    # commits and publish duplicate postings in untouched buckets
    with pytest.raises(txindex.ConcurrentRefreshError, match="ahead of manifest"):
        refresh_tx_search_index(
            spark, tx, changes, id_col="doc_id", text_col="text"
        )

    # recovery = re-run with recover_torn=True: the torn piece commits
    # are rolled back (TxTable.restore_to, metadata-only) to the pinned
    # versions first, so the re-run lands exactly where an untorn
    # refresh would have
    refresh_tx_search_index(
        spark, tx, changes, id_col="doc_id", text_col="text",
        recover_torn=True,
    )
    recovered = load_tx_search_index(spark, tx)
    assert recovered.gen == 2
    assert _piece_rows(recovered) == _rebuilt_rows(
        spark, str(tmp_path / "rebuilt"), _t.read()
    )


def test_torn_refresh_recovery_with_a_different_change_batch(spark, tmp_path):
    """The advisor's race scenario, closed soundly: refresh A tears
    (piece commits, no manifest), then recovery runs a DIFFERENT change
    batch B. Without the rollback, A's orphan commits would be pinned
    by B's publish — duplicate postings rows (doubled tf contributions)
    in buckets B never touched. With restore_to, the published index
    equals a clean rebuild of corpus + B alone."""
    docs = _docs(spark)
    tx = str(tmp_path / "tx")
    materialize_tx_search_index(docs, tx, id_col="doc_id", text_col="text")

    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    a_id, b_id = ids[0], ids[1]
    changes_a = spark.createDataFrame(
        [(int(a_id) + 100000, "torn batch alpha tokens", "insert")],
        "doc_id long, text string, _change_type string",
    )
    changes_b = spark.createDataFrame(
        [(int(b_id) + 200000, "recovery batch beta tokens", "insert")],
        "doc_id long, text string, _change_type string",
    )
    refresh_tx_search_index(
        spark, tx, changes_a, id_col="doc_id", text_col="text", _publish=False
    )
    refresh_tx_search_index(
        spark, tx, changes_b, id_col="doc_id", text_col="text",
        recover_torn=True,
    )
    recovered = load_tx_search_index(spark, tx)
    assert recovered.gen == 2

    corpus_plus_b = docs.unionByName(
        changes_b.select("doc_id", "text")
    )
    assert _piece_rows(recovered) == _rebuilt_rows(
        spark, str(tmp_path / "rebuilt_b"), corpus_plus_b
    )
    # and batch A's doc is nowhere in the published postings
    assert (
        recovered.postings().filter(F.col("id") == int(a_id) + 100000).count() == 0
    )


def test_refresh_rejects_tokenless_delete_image(spark, tmp_path):
    """A delete whose image carries no tokens, for a doc whose indexed
    dl > 0, would strand the doc's postings while n_docs decrements: the
    refresh fails fast. Deleting a genuinely token-free doc (dl == 0)
    with an empty image stays legal."""
    docs = _docs(spark, n=50).unionByName(
        spark.createDataFrame([(-1, "")], "doc_id long, text string")
    )
    tx = str(tmp_path / "tx")
    materialize_tx_search_index(docs, tx, id_col="doc_id", text_col="text")
    lo = docs.filter(F.col("doc_id") >= 0).agg(F.min("doc_id")).first()[0]
    bad = spark.createDataFrame(
        [(int(lo), None, "delete")], "doc_id long, text string, _change_type string"
    )
    with pytest.raises(ValueError, match="full pre-image"):
        refresh_tx_search_index(spark, tx, bad, id_col="doc_id", text_col="text")

    ok = spark.createDataFrame(
        [(-1, "", "delete")], "doc_id long, text string, _change_type string"
    )
    refresh_tx_search_index(spark, tx, ok, id_col="doc_id", text_col="text")
    snap = load_tx_search_index(spark, tx)
    assert (snap.gen, snap.n_docs) == (2, 50)
    assert snap.doclens().filter(F.col("id") == -1).count() == 0


def test_vacuum_reclaims_old_generations(spark, tmp_path):
    docs = _docs(spark, n=80)
    tx = str(tmp_path / "tx")
    materialize_tx_search_index(docs, tx, id_col="doc_id", text_col="text")
    _t, changes = _feed(spark, tmp_path, docs)
    refresh_tx_search_index(spark, tx, changes, id_col="doc_id", text_col="text")

    snap = load_tx_search_index(spark, tx)
    rows = _piece_rows(snap)
    vacuum_tx_search_index(spark, tx, keep_generations=1)
    # current generation unaffected by the reclaim
    assert _piece_rows(load_tx_search_index(spark, tx)) == rows


def test_tx_index_refresh_sink_multi_batch_replay(spark, tmp_path):
    """The streaming face: two change micro-batches through
    tx_index_refresh_sink — two manifest generations, final state equals
    a from-scratch build of the final corpus, and replaying either
    batch id is a no-op (the marker rides the manifest)."""
    from sf_epa_data_ingestion_spark.streaming.freshness import (
        tx_index_refresh_sink,
    )

    docs = _docs(spark, n=120)
    tx = str(tmp_path / "tx")
    materialize_tx_search_index(docs, tx, id_col="doc_id", text_col="text")
    t = TxTable(spark, str(tmp_path / "docs")).create(
        docs.repartitionByRange(4, "doc_id")
    )
    sink = tx_index_refresh_sink(spark, tx, "tx-maint", id_col="doc_id", text_col="text")

    lo = docs.agg(F.min("doc_id")).first()[0]
    t.merge(
        docs.filter(F.col("doc_id") <= lo + 1).withColumn(
            "text", F.concat(F.lit("fresh zebra "), F.col("text"))
        ),
        ["doc_id"],
    )
    sink(t.changes(0, 1), 0)
    hi = docs.agg(F.max("doc_id")).first()[0]
    t.delete_where(F.col("doc_id") == hi)
    sink(t.changes(1, 2), 1)

    snap = load_tx_search_index(spark, tx)
    assert snap.gen == 3  # build + two batches
    assert _piece_rows(snap) == _rebuilt_rows(
        spark, str(tmp_path / "rebuilt"), t.read()
    )

    # replays (crash-window re-deliveries): no new generation
    sink(t.changes(1, 2), 1)
    sink(t.changes(0, 1), 0)
    assert load_tx_search_index(spark, tx).gen == 3


def test_snapshot_wand_serving_matches_naive_and_survives_refresh(spark, tmp_path):
    """r10: WAND served from a pinned snapshot equals naive scoring over
    the same generation — and keeps returning the OLD generation's
    results after a concurrent refresh rewrote every piece (the
    stable-serving property of a pinned generation)."""
    docs = _docs(spark, n=150)
    tx = str(tmp_path / "tx")
    materialize_tx_search_index(docs, tx, id_col="doc_id", text_col="text")
    snap = load_tx_search_index(spark, tx)
    queries = spark.createDataFrame(
        [(1, "spark table join"), (2, "hash index scan")],
        "query_id long, query_text string",
    )

    def _rows(df):
        return sorted(
            (r["query_id"], r["id"], round(r["score"], 9)) for r in df.collect()
        )

    wand = _rows(snap.bm25_maxscore(queries, k=5))
    naive = _rows(
        search.bm25_search_many(
            snap.postings(), snap.stats(), queries, snap.n_docs,
            doclens=snap.doclens(), k=5,
        )
    )
    assert wand == naive and wand

    # refresh rewrites pieces; the already-resolved snapshot still
    # serves generation-1 results bit-for-bit
    _t, changes = _feed(spark, tmp_path, docs)
    refresh_tx_search_index(spark, tx, changes, id_col="doc_id", text_col="text")
    assert _rows(snap.bm25_maxscore(queries, k=5)) == wand
    # while a freshly-resolved snapshot serves the new corpus
    snap2 = load_tx_search_index(spark, tx)
    assert snap2.gen == 2
    wand2 = _rows(snap2.bm25_maxscore(queries, k=5))
    naive2 = _rows(
        search.bm25_search_many(
            snap2.postings(), snap2.stats(), queries, snap2.n_docs,
            doclens=snap2.doclens(), k=5,
        )
    )
    assert wand2 == naive2 and wand2 != wand


def test_vacuum_keeps_all_retained_generations_readable(spark, tmp_path):
    """r10 review: the vacuum retention unit is GENERATIONS, not raw
    txlog versions — one refresh commits unevenly across pieces (two
    postings commits vs one stats commit), so a fixed version count
    would tear the previous generation. With keep_generations=2, a
    reader holding the previous generation's snapshot must keep
    computing it bit-for-bit after the vacuum."""
    docs = _docs(spark, n=80)
    tx = str(tmp_path / "tx")
    materialize_tx_search_index(docs, tx, id_col="doc_id", text_col="text")
    t, changes1 = _feed(spark, tmp_path, docs)
    refresh_tx_search_index(spark, tx, changes1, id_col="doc_id", text_col="text")
    snap_prev = load_tx_search_index(spark, tx)  # generation 2
    prev_rows = _piece_rows(snap_prev)

    # a second refresh produces generation 3
    hi = t.read().agg(F.max("doc_id")).first()[0]
    v = t.versions()[-1]
    t.delete_where(F.col("doc_id") == hi)
    refresh_tx_search_index(
        spark, tx, t.changes(v), id_col="doc_id", text_col="text"
    )
    assert load_tx_search_index(spark, tx).gen == 3

    vacuum_tx_search_index(spark, tx, keep_generations=2)
    # generation 2's snapshot — the PREVIOUS retained generation, whose
    # postings versions sit several txlog commits back — still reads
    assert _piece_rows(snap_prev) == prev_rows
    assert _piece_rows(load_tx_search_index(spark, tx))  # gen 3 fine too


def test_hybrid_query_is_snapshot_isolated_mid_refresh(spark, tmp_path):
    """r10 VERDICT next-round #3: a hybrid (lexical + ANN, RRF-fused)
    query whose lexical leg serves from a resolved TxSearchSnapshot
    returns the pre-refresh generation's results BIT-FOR-BIT while a
    refresh is mid-flight (pieces rewritten, manifest unpublished) and
    after the new generation publishes — and a freshly resolved
    snapshot then serves the refreshed corpus. This is the graded
    search_hybrid_ann_tx serving path under a concurrent
    tx_index_refresh_sink."""
    from sf_epa_data_ingestion_spark.operators import similarity

    docs = _docs(spark, n=150)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = (
        docs.join(emb, docs["doc_id"] == emb["vec_id"], "inner")
        .select(F.col("doc_id").alias("id"), "text", "embedding")
        .persist()
    )
    tx = str(tmp_path / "tx")
    materialize_tx_search_index(corpus, tx, id_col="id", text_col="text")

    # frozen ANN leg (only the lexical leg refreshes in this scenario)
    coarse, cq = similarity.train_ivfpq(
        corpus, corpus_id="id", vec_col="embedding", dim=64, n_centroids=8
    )
    index = similarity.encode_ivfpq(
        corpus, coarse, cq, 64, id_col="id", vec_col="embedding"
    ).persist()
    query = "zebra tokens text"
    terms = sorted(set(query.split()))
    qv = [1.0 if i % 7 == 0 else 0.25 for i in range(64)]

    def _hybrid(snap):
        return sorted(
            tuple(r)
            for r in search.hybrid_search_ann(
                corpus, snap.postings_for_terms(terms), snap.stats(),
                query, qv, index, coarse, cq, k=10, dim=64,
            ).collect()
        )

    snap1 = load_tx_search_index(spark, tx)
    r1 = _hybrid(snap1)
    assert r1

    # mid-refresh: every piece rewritten, manifest withheld. An update
    # is a delete(full pre-image) + insert(post-image) pair per id —
    # the CoW MERGE change-feed shape apply_changes expects.
    touched = corpus.limit(3)
    upd = touched.select(
        "id", "text", F.lit("delete").alias("_change_type")
    ).unionByName(
        touched.select(
            "id",
            F.concat(F.lit("fresh zebra tokens "), F.col("text")).alias("text"),
            F.lit("insert").alias("_change_type"),
        )
    )
    refresh_tx_search_index(
        spark, tx, upd, id_col="id", text_col="text", _publish=False
    )
    assert _hybrid(snap1) == r1                       # held snapshot stable
    assert _hybrid(load_tx_search_index(spark, tx)) == r1  # fresh resolve too

    # complete the cutover (same batch, recovery path)
    refresh_tx_search_index(
        spark, tx, upd, id_col="id", text_col="text", recover_torn=True
    )
    assert _hybrid(snap1) == r1  # pre-cutover reader STILL pinned
    snap2 = load_tx_search_index(spark, tx)
    assert snap2.gen == 2
    r2 = _hybrid(snap2)
    # 'zebra' now has postings: the lexical leg surfaces the boosted
    # docs and the fused ranking moves
    assert r2 != r1
    corpus.unpersist()
    index.unpersist()


def _final_plan(df) -> str:
    """The executed (final adaptive) physical plan of a collected frame."""
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


def test_single_query_plan_reads_query_frame_once(spark, tmp_path):
    """One serving query built with createDataFrame(list) (a LogicalRDD:
    every scan of it runs Python tasks): the executed max-score plan
    scans it exactly once — every branch reads the same term-set
    subtree — and has no SinglePartition exchange, i.e. no per-query
    avgdl aggregate over doclens (the snapshot passes its own avgdl as
    a literal)."""
    docs = _docs(spark, n=60)
    tx = str(tmp_path / "tx")
    materialize_tx_search_index(docs, tx, id_col="doc_id", text_col="text")
    snap = load_tx_search_index(spark, tx)
    query = spark.createDataFrame(
        [(7, "spark table join")], "query_id long, query_text string"
    )
    served = snap.bm25_maxscore(query, k=5, terms=["join", "spark", "table"])
    assert served.collect()
    plan = _final_plan(served)
    assert plan.count("Scan ExistingRDD") == 1, plan
    assert "Exchange SinglePartition" not in plan, plan


@pytest.fixture(scope="module")
def served_index(spark, tmp_path_factory):
    """One small tx index shared by the serving-plan and session-safety
    tests below; each test pins its own snapshot of it."""
    tx = str(tmp_path_factory.mktemp("served") / "tx")
    materialize_tx_search_index(_docs(spark, n=80), tx, id_col="doc_id", text_col="text")
    return tx


_BOUNDS_SCHEMA = re.compile(
    r"struct<token:string(,df:bigint)?(,max_part:double)?(,ub:double)?>"
)


def _served(snap, queries, terms=None, **kw):
    spark = snap.spark
    qdf = spark.createDataFrame(queries, "query_id long, query_text string")
    if terms is None:
        terms = search._literal_terms(*[t for _, t in queries])
    return snap.bm25_maxscore(qdf, k=5, terms=terms, **kw)


def _scored(df, qid="query_id"):
    return sorted((r[qid], r["id"], r["score"]) for r in df.collect())


def test_single_query_plan_scans_each_input_once_and_flags_candidates(spark, served_index):
    """The served max-score plan of one query: the query frame is
    scanned once, bounds once (both passes read one ranked-terms
    exchange above it), postings once (both passes read one probe
    exchange, and each flags its candidate docs with a window instead
    of semi-joining a second postings scan back), and no
    SinglePartition exchange."""
    snap = load_tx_search_index(spark, served_index)
    served = _served(snap, [(7, "spark table join")])
    assert served.collect()
    plan = _final_plan(served)
    # a piece's scan is told by its read schema (the location string is
    # truncated): postings lead with (token, id), bounds with token and
    # only bounds columns after it
    schemas = re.findall(r"FileScan parquet .*ReadSchema: (struct<[^>]*>)", plan)
    assert plan.count("Scan ExistingRDD") == 1, plan
    assert sum(s.startswith("struct<token:string,id:bigint") for s in schemas) == 1, plan
    assert sum(bool(_BOUNDS_SCHEMA.fullmatch(s)) for s in schemas) == 1, plan
    assert "LeftSemi" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_snapshot_resolves_each_piece_once(spark, served_index, monkeypatch):
    """Three queries served from one pinned snapshot resolve each piece's
    txlog snapshot once: the file list, schema and stats are memoized
    on the snapshot, and the postings probe prunes from that list."""
    import collections

    calls = collections.Counter()
    real = TxTable._snapshot_full

    def counting(self, version=None):
        calls[self.root.rsplit("/", 1)[-1]] += 1
        return real(self, version)

    monkeypatch.setattr(TxTable, "_snapshot_full", counting)
    snap = load_tx_search_index(spark, served_index)
    for q in [(1, "spark table"), (2, "hash join scan"), (3, "row filter")]:
        assert _scored(_served(snap, [q]))
    assert calls["postings"] == calls["bounds"] == calls["doclens"] == 1, calls
    assert max(calls.values()) == 1, calls


def test_concurrent_queries_on_one_snapshot_match_single_thread(spark, served_index):
    """Two threads serve different queries on one pinned snapshot at
    once; each gets exactly its single-thread answer."""
    import threading

    snap = load_tx_search_index(spark, served_index)
    batches = {"a": [(1, "spark table join")], "b": [(1, "hash index scan row")]}
    want = {name: _scored(_served(snap, qs)) for name, qs in batches.items()}
    assert want["a"] and want["b"] and want["a"] != want["b"]
    got, errors = {}, []
    barrier = threading.Barrier(len(batches))

    def serve(name):
        try:
            barrier.wait(timeout=60)
            got[name] = _scored(_served(snap, batches[name]))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=serve, args=(n,)) for n in batches]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert got == want


def test_served_call_leaves_no_temp_view_and_escapes_caller_terms(spark, served_index):
    """The kernel's frames are SQL arguments that live only for the
    call: no temporary view outlives a served query (nor the
    ``_explain_out`` frames). Caller terms holding quotes, backslashes
    and braces are escaped as SQL literals, so they neither break the
    SQL nor change the rows; custom query id and text column names
    still work."""
    snap = load_tx_search_index(spark, served_index)
    before = sorted(t.name for t in spark.catalog.listTables())
    queries = [(1, "spark table join"), (2, "hash index scan")]
    plain = _scored(_served(snap, queries))
    assert plain
    odd = search._literal_terms(*[t for _, t in queries]) + [
        "o'brien", "back\\slash", "x') OR ('1'='1", "{q}",
    ]
    assert _scored(_served(snap, queries, terms=odd)) == plain

    renamed = spark.createDataFrame(queries, "qid long, qtext string")
    custom = snap.bm25_maxscore(
        renamed, k=5, query_id="qid", text_col="qtext",
        terms=search._literal_terms(*[t for _, t in queries]),
    )
    assert custom.columns == ["qid", "id", "score"]
    assert _scored(custom, "qid") == plain

    info: dict = {}
    search.bm25_search_many_maxscore(
        snap.postings(), snap.stats(), snap.bounds(), renamed, snap.n_docs,
        snap.doclens(), k=5, query_id="qid", text_col="qtext", _explain_out=info,
    )
    assert info["essential"].count() <= info["qterms"].count()
    assert sorted(t.name for t in spark.catalog.listTables()) == before


def test_bounds_df_equals_stats_df_after_build_and_refresh(spark, tmp_path):
    """The max-score path takes each term's df from bounds and never
    reads stats, so the two must agree token for token: after a tx
    build and after one tx refresh."""
    def df_of(frame):
        return {r["token"]: r["df"] for r in frame.select("token", "df").collect()}

    docs = _docs(spark, n=80)
    tx = str(tmp_path / "tx")
    materialize_tx_search_index(docs, tx, id_col="doc_id", text_col="text")
    snap = load_tx_search_index(spark, tx)
    built = df_of(snap.bounds())
    assert built and built == df_of(snap.stats())

    _t, changes = _feed(spark, tmp_path, docs)
    refresh_tx_search_index(spark, tx, changes, id_col="doc_id", text_col="text")
    snap2 = load_tx_search_index(spark, tx)
    assert snap2.gen == 2
    refreshed = df_of(snap2.bounds())
    assert refreshed == df_of(snap2.stats()) and refreshed != built
