"""Batch search-operator parity pins (index-side doc_lengths vs the
postings-derived fallback — the r7 BM25 scale rework must be a pure plan
change, never a result change)."""

from __future__ import annotations

import pyspark.sql.functions as F

from sf_epa_data_ingestion_spark.operators import search
from sf_epa_data_ingestion_spark.sources.readers import load_table

SF_DIR = "/root/testdata/sf0.01"
QUERY = "spark join hash table"


def _index(spark):
    d = load_table(spark, SF_DIR, "documents")
    n = d.count()
    postings = search.build_postings(d, id_col="doc_id", text_col="text").persist()
    stats = search.build_token_stats(postings, n_docs=n)
    return d, n, postings, stats


def test_doc_lengths_matches_postings_sum(spark):
    d, _, postings, _ = _index(spark)
    from_docs = {
        r["id"]: r["dl"]
        for r in search.doc_lengths(d, id_col="doc_id", text_col="text")
        .filter(F.col("dl") > 0)
        .collect()
    }
    from_postings = {
        r["id"]: r["dl"]
        for r in postings.groupBy("id").agg(F.sum("tf").alias("dl")).collect()
    }
    assert from_docs == from_postings
    postings.unpersist()


def test_bm25_doclens_path_matches_fallback(spark):
    d, n, postings, stats = _index(spark)
    doclens = search.doc_lengths(d, id_col="doc_id", text_col="text")
    with_lens = sorted(
        (r["id"], r["score"])
        for r in search.bm25_search(
            postings, stats, QUERY, n_docs=n, k=25, doclens=doclens
        ).collect()
    )
    fallback = sorted(
        (r["id"], r["score"])
        for r in search.bm25_search(postings, stats, QUERY, n_docs=n, k=25).collect()
    )
    assert with_lens == fallback and len(with_lens) > 0
    postings.unpersist()


def test_bm25_batch_single_query_matches_scalar(spark):
    """bm25_search_many over a 1-row query frame == bm25_search with the
    same string (identical expressions, join-pruning vs IN-pruning)."""
    d, n, postings, stats = _index(spark)
    doclens = search.doc_lengths(d, id_col="doc_id", text_col="text")
    qdf = spark.createDataFrame([(7, QUERY)], "query_id long, query_text string")
    batch = sorted(
        (r["id"], r["score"])
        for r in search.bm25_search_many(
            postings, stats, qdf, n_docs=n, k=25, doclens=doclens
        ).collect()
    )
    scalar = sorted(
        (r["id"], r["score"])
        for r in search.bm25_search(
            postings, stats, QUERY, n_docs=n, k=25, doclens=doclens
        ).collect()
    )
    assert batch == scalar and len(batch) > 0
    postings.unpersist()


def test_prune_high_df_terms_equals_dropping_the_term_from_queries(spark):
    """BM25 over a df-pruned index == BM25 over the full index with the
    high-df terms removed from the query string (the pruning only ever
    removes whole posting lists, and doc lengths come from doclens)."""
    d, n, postings, stats = _index(spark)
    doclens = search.doc_lengths(d, id_col="doc_id", text_col="text")
    # find a genuinely high-df term to make the test meaningful
    dfs = {r["token"]: r["df"] for r in stats.collect()}
    hot = max(dfs, key=dfs.get)
    # the synthetic vocabulary is uniformly common (~78% df) — set the cap
    # between the hottest term and the rest so exactly it drops
    frac = (dfs[hot] - 1) / n
    assert all(dfs[t] <= frac * n for t in QUERY.split()), "query term above cap"
    pruned = search.prune_high_df_terms(postings, n, max_df_frac=frac).persist()
    pruned_stats = search.build_token_stats(pruned, n_docs=n)
    assert pruned.filter(F.col("token") == hot).count() == 0
    q = f"{hot} {QUERY}"
    with_pruned_index = sorted(
        (r["id"], r["score"])
        for r in search.bm25_search(
            pruned, pruned_stats, q, n_docs=n, k=25, doclens=doclens
        ).collect()
    )
    without_hot_term = sorted(
        (r["id"], r["score"])
        for r in search.bm25_search(
            pruned, pruned_stats, QUERY, n_docs=n, k=25, doclens=doclens
        ).collect()
    )
    assert with_pruned_index == without_hot_term and len(with_pruned_index) > 0
    pruned.unpersist()
    postings.unpersist()


def test_hybrid_batch_single_query_matches_scalar(spark):
    """hybrid_search_many over a 1-row query frame == hybrid_search with
    the same string + vector + filters."""
    d, n, postings, stats = _index(spark)
    emb = load_table(spark, SF_DIR, "embeddings")
    docs = d.join(emb, d["doc_id"] == emb["vec_id"], "inner").select(
        F.col("doc_id").alias("id"), "text", "lang", "embedding"
    )
    qv = [1.0 if i % 5 == 0 else 0.5 for i in range(64)]
    qdf = spark.createDataFrame(
        [(3, QUERY, qv)], "query_id long, query_text string, query_vec array<double>"
    )
    batch = sorted(
        (r["id"], r["lex_score"], r["sem_score"], r["score"])
        for r in search.hybrid_search_many(
            docs, postings, stats, qdf, attr_filters={"lang": "en"}, k=10
        ).collect()
    )
    scalar = sorted(
        (r["id"], r["lex_score"], r["sem_score"], r["score"])
        for r in search.hybrid_search(
            docs, postings, stats, QUERY, query_vec=qv,
            attr_filters={"lang": "en"}, k=10,
        ).collect()
    )
    assert batch == scalar and len(batch) > 0
    postings.unpersist()


def test_punctuated_query_ranks_like_its_normalized_terms(spark):
    """The scalar searches tokenize the query with the index's own
    normalizer, so punctuation glued to a term ("spark,", "hash-join!")
    still matches the normalized postings tokens."""
    d, n, postings, stats = _index(spark)
    emb = load_table(spark, SF_DIR, "embeddings")
    docs = d.join(emb, d["doc_id"] == emb["vec_id"], "inner").select(
        F.col("doc_id").alias("id"), "text", "lang", "embedding"
    )
    qv = [1.0 if i % 3 == 0 else 0.5 for i in range(64)]

    def ranked(query):
        return [
            sorted(tuple(r) for r in df.collect())
            for df in (
                search.bm25_search(postings, stats, query, n_docs=n, k=10),
                search.lexical_search(postings, stats, query, k=10),
                search.hybrid_search(docs, postings, stats, query, query_vec=qv, k=10)
                .select("id", "lex_score", "sem_score", "score"),
            )
        ]

    plain = ranked("spark hash join")
    assert all(len(rows) == 10 for rows in plain)
    assert ranked("Spark, hash-join!") == plain
    postings.unpersist()


def test_bm25_batch_fallback_doclens_matches(spark):
    """Batch BM25 without an index-side doclens table (postings-derived
    fallback) == the doclens path."""
    d, n, postings, stats = _index(spark)
    doclens = search.doc_lengths(d, id_col="doc_id", text_col="text")
    qdf = spark.createDataFrame(
        [(0, QUERY), (1, "window sort merge")], "query_id long, query_text string"
    )
    a = sorted(
        (r["query_id"], r["id"], r["score"])
        for r in search.bm25_search_many(
            postings, stats, qdf, n_docs=n, k=25, doclens=doclens
        ).collect()
    )
    b = sorted(
        (r["query_id"], r["id"], r["score"])
        for r in search.bm25_search_many(postings, stats, qdf, n_docs=n, k=25).collect()
    )
    assert a == b and len(a) > 0
    postings.unpersist()


def test_hybrid_batch_null_vector_means_lexical_only(spark):
    """A NULL query_vec row degrades to pure-lexical ranking (sem 0),
    matching the scalar form with query_vec=None."""
    d, n, postings, stats = _index(spark)
    emb = load_table(spark, SF_DIR, "embeddings")
    docs = d.join(emb, d["doc_id"] == emb["vec_id"], "inner").select(
        F.col("doc_id").alias("id"), "text", "lang", "embedding"
    )
    qdf = spark.createDataFrame(
        [(9, QUERY, None)], "query_id long, query_text string, query_vec array<double>"
    )
    batch = sorted(
        (r["id"], r["lex_score"], r["sem_score"], r["score"])
        for r in search.hybrid_search_many(
            docs, postings, stats, qdf, attr_filters={"lang": "en"}, k=10
        ).collect()
    )
    scalar = sorted(
        (r["id"], r["lex_score"], r["sem_score"], r["score"])
        for r in search.hybrid_search(
            docs, postings, stats, QUERY, query_vec=None,
            attr_filters={"lang": "en"}, k=10,
        ).collect()
    )
    assert batch == scalar and len(batch) > 0
    postings.unpersist()


def test_token_bucketed_postings_prune_the_bm25_scan(spark, tmp_path):
    """The index-side claim in the BM25 scale notes, demonstrated: save
    the postings table bucketed by token and the query-term IN filter
    prunes to a subset of buckets (SelectedBucketsCount in the scan) —
    at 100 TB the term probe reads ~n_terms/n_buckets of the index."""
    import contextlib
    import io

    d, n, postings, stats = _index(spark)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    name = "postings_bucketed_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (postings.write.bucketBy(16, "token").sortBy("token").saveAsTable(name))
    try:
        bucketed = spark.table(name)
        terms = sorted(set(QUERY.split()))
        probed = bucketed.filter(F.col("token").isin(terms))
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            probed.explain("formatted")
        plan = buf.getvalue()
        assert "SelectedBucketsCount" in plan, plan
        import re

        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m and int(m.group(1)) < int(m.group(2)), m.group(0) if m else plan
        # and the pruned-table ranking is identical to the plain one
        doclens = search.doc_lengths(d, id_col="doc_id", text_col="text")
        a = sorted(
            (r["id"], r["score"])
            for r in search.bm25_search(
                bucketed, stats, QUERY, n_docs=n, k=25, doclens=doclens
            ).collect()
        )
        b = sorted(
            (r["id"], r["score"])
            for r in search.bm25_search(
                postings, stats, QUERY, n_docs=n, k=25, doclens=doclens
            ).collect()
        )
        assert a == b and len(a) > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        postings.unpersist()


def _tiny_hybrid_corpus(spark):
    """40 docs sharing tokens with QUERY + one planted doc (id 999) that
    shares NO tokens but whose embedding IS the query vector. Deterministic
    embeddings: near-orthogonal-to-qv pattern for the token-matching docs."""
    qv = [1.0 if i % 7 == 0 else 0.25 for i in range(64)]
    rows = []
    for i in range(40):
        # rotate a base pattern so vectors are distinct and far from qv
        emb = [(-1.0) ** ((i + j) % 2) * (0.1 + ((i * 17 + j) % 64) / 64.0) for j in range(64)]
        rows.append((i, f"spark join hash table doc number {i}", emb))
    rows.append((999, "zebra quokka axolotl wombat", qv))
    docs = spark.createDataFrame(rows, "id long, text string, embedding array<double>")
    postings = search.build_postings(docs, id_col="id", text_col="text")
    stats = search.build_token_stats(postings, n_docs=docs.count())
    from sf_epa_data_ingestion_spark.operators import similarity

    coarse, cq = similarity.train_ivfpq(docs, corpus_id="id", vec_col="embedding", dim=64)
    index = similarity.encode_ivfpq(docs, coarse, cq, 64, id_col="id", vec_col="embedding")
    return docs, postings, stats, index, coarse, cq, qv


def test_hybrid_ann_semantic_only_match_surfaces(spark):
    """The r8 capability pin: a document matching the query SEMANTICALLY
    but sharing no tokens must surface in hybrid top-k — impossible for
    hybrid_search (lexical-only candidate pool; asserted as the contrast)
    and the reason the ANN leg exists (reference's managed service runs
    lexical AND vector retrieval, fused)."""
    docs, postings, stats, index, coarse, cq, qv = _tiny_hybrid_corpus(spark)
    # pool=5 models the corpus-scale regime where the two legs' candidate
    # pools barely overlap (on this 41-doc corpus pool=100 puts EVERY doc
    # in both pools, which drowns single-leg candidates — K=60 RRF
    # deliberately discounts a lone top rank below two mediocre ones)
    out = search.hybrid_search_ann(
        docs, postings, stats, QUERY, qv, index, coarse, cq, k=10, pool=5, dim=64
    ).collect()
    by_id = {r["id"]: r for r in out}
    assert 999 in by_id, "semantic-only match missing from hybrid-ANN top-k"
    assert by_id[999]["lex_rank"] == 0  # proven unreachable lexically
    assert by_id[999]["sem_rank"] == 1  # its embedding IS the query vector
    # contrast: the lexical-pool-only hybrid can NEVER retrieve doc 999,
    # at any k or pool depth — its candidate set is the lexical one
    old = search.hybrid_search(
        docs, postings, stats, QUERY, query_vec=qv, id_col="id", k=41
    ).collect()
    assert all(r["id"] != 999 for r in old)


def test_hybrid_ann_single_leg_degeneracy(spark):
    """Docstring contract: with an empty semantic leg the top-k ordering
    equals lexical_search's; with an empty lexical leg (no query token in
    the corpus) it equals the ANN ranking."""
    docs, postings, stats, index, coarse, cq, qv = _tiny_hybrid_corpus(spark)
    empty_index = index.filter(F.lit(False))
    lex_only = search.hybrid_search_ann(
        docs, postings, stats, QUERY, qv, empty_index, coarse, cq, k=5, dim=64
    ).collect()
    lex_ref = search.lexical_search(postings, stats, QUERY, k=5).collect()
    assert [r["id"] for r in lex_only] == [r["id"] for r in lex_ref]
    assert all(r["sem_rank"] == 0 for r in lex_only)

    sem_only = search.hybrid_search_ann(
        docs, postings, stats, "qqqq wwww", qv, index, coarse, cq, k=5, dim=64
    ).collect()
    from sf_epa_data_ingestion_spark.operators import similarity

    ann_ref = similarity.ivfpq_search(
        index,
        docs.select("id", "embedding"),
        spark.createDataFrame([(-1, qv)], "query_id long, embedding array<double>"),
        coarse,
        cq,
        k=5,
        corpus_id="id",
        dim=64,
    ).collect()
    assert [r["id"] for r in sem_only] == [r["id"] for r in ann_ref]
    assert all(r["lex_rank"] == 0 for r in sem_only)


def test_maxscore_bm25_identical_to_naive_and_actually_prunes(spark):
    """r8 WAND/max-score gate: (1) the pruned batch ranking is IDENTICAL
    to bm25_search_many over the same index — scores, ids, tie-breaks;
    (2) on queries containing the corpus's one rare term ('dup',
    df 25/500) the pruning genuinely fires: the floor from dup's short
    posting list puts the common terms' suffix bounds under it, so
    candidate generation scans strictly fewer (query, term) lists than
    the naive probe. Deterministic corpus + floors, so both are pins."""
    d, n, postings, stats = _index(spark)
    doclens = search.doc_lengths(d, id_col="doc_id", text_col="text")
    bounds = search.build_term_bounds(postings, doclens, n)
    queries = [
        (0, "dup scan batch data value"),
        (1, "dup window sort merge row"),
        (2, "scan filter value row fast"),
    ]
    qdf = spark.createDataFrame(queries, "query_id long, query_text string")
    info: dict = {}
    pruned = sorted(
        (r["query_id"], r["id"], r["score"])
        for r in search.bm25_search_many_maxscore(
            postings, stats, bounds, qdf, n_docs=n, doclens=doclens, k=10,
            _explain_out=info,
        ).collect()
    )
    naive = sorted(
        (r["query_id"], r["id"], r["score"])
        for r in search.bm25_search_many(
            postings, stats, qdf, n_docs=n, k=10, doclens=doclens
        ).collect()
    )
    assert pruned == naive and len(pruned) == 30
    all_terms = {(r["query_id"], r["token"]) for r in info["qterms"].collect()}
    essential = {(r["query_id"], r["token"]) for r in info["essential"].collect()}
    assert essential <= all_terms
    # the dup-anchored queries prune their common terms...
    for qid in (0, 1):
        pruned_terms = {t for q, t in all_terms - essential if q == qid}
        assert pruned_terms, f"query {qid}: no term pruned"
        assert ("dup" in {t for q, t in essential if q == qid})
    postings.unpersist()


def _first_join_or_broadcast_above(plan: str, marker: str) -> list[str]:
    """For each node of a physical plan tree string whose line holds
    ``marker``: the nearest ancestor that is a join or a
    BroadcastExchange (node name, codegen prefix dropped)."""
    import re

    nodes = []
    for line in plan.splitlines():
        text = line.lstrip(" :+-")
        nodes.append((len(line) - len(text), re.sub(r"^\*\(\d+\) ", "", text)))
    hits = []
    for i, (col, text) in enumerate(nodes):
        if marker not in text:
            continue
        for j in range(i - 1, -1, -1):
            if nodes[j][0] < col:
                col, name = nodes[j][0], nodes[j][1].split(" ", 1)[0]
                if name == "BroadcastExchange" or name.endswith("Join"):
                    hits.append(name)
                    break
    return hits


def test_maxscore_never_broadcasts_unpruned_bounds(spark, tmp_path):
    """bounds is vocabulary-sized, so the batch's term set broadcasts
    onto the bounds scan: every path up from that scan meets a join
    before any BroadcastExchange. Postings are unfiltered (the
    search_bm25_wand shape), so no inferred token filter prunes the
    bounds scan either. bounds is the only file-backed input here, so
    every parquet scan in the plan is a bounds scan, whichever columns
    the branch reading it keeps."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate([
            "spark join hash table", "hash table scan", "spark spark row",
            "merge row filter", "table join join", "scan filter value",
        ])],
        "doc_id long, text string",
    )
    postings = search.build_postings(docs, id_col="doc_id", text_col="text")
    doclens = search.doc_lengths(docs, id_col="doc_id", text_col="text")
    search.build_term_bounds(postings, doclens, 6).write.parquet(str(tmp_path / "bounds"))
    bounds = spark.read.parquet(str(tmp_path / "bounds"))
    qdf = spark.createDataFrame(
        [(0, "spark table"), (1, "row filter scan")], "query_id long, query_text string"
    )
    stats = search.build_token_stats(postings, n_docs=6)
    served = search.bm25_search_many_maxscore(
        postings, stats, bounds, qdf, n_docs=6, doclens=doclens, k=2
    )
    naive = search.bm25_search_many(postings, stats, qdf, n_docs=6, doclens=doclens, k=2)
    assert sorted(served.collect()) == sorted(naive.collect())
    plan = served._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    above = _first_join_or_broadcast_above(plan, "FileScan parquet")
    assert len(above) == plan.count("FileScan parquet") >= 1, plan
    assert "BroadcastExchange" not in above, plan


def test_hybrid_ann_batch_single_row_parity_and_semantic_reach(spark):
    """hybrid_search_ann_many contracts: (1) a 1-row batch reproduces
    hybrid_search_ann row-for-row (same legs, same RRF, same ties);
    (2) the batch form retrieves a semantic-only match for the query
    that wants it while OTHER queries in the same batch don't pick it
    up — per-query pools and fusion don't bleed across the batch."""
    docs, postings, stats, index, coarse, cq, qv = _tiny_hybrid_corpus(spark)

    one = spark.createDataFrame(
        [(-1, QUERY, qv)], "query_id long, query_text string, query_vec array<double>"
    )
    got = sorted(
        (r["id"], r["lex_rank"], r["sem_rank"], r["rrf_score"], r["rank"])
        for r in search.hybrid_search_ann_many(
            docs, postings, stats, one, index, coarse, cq, k=10, pool=5, dim=64
        ).collect()
    )
    want = sorted(
        (r["id"], r["lex_rank"], r["sem_rank"], r["rrf_score"], r["rank"])
        for r in search.hybrid_search_ann(
            docs, postings, stats, QUERY, qv, index, coarse, cq, k=10, pool=5, dim=64
        ).collect()
    )
    assert got == want and len(got) > 0

    # batch of two: the qv query surfaces doc 999 (no shared tokens, its
    # embedding IS qv); an all-lexical query with an orthogonal-ish
    # vector must not rank 999 first
    other_vec = [(-1.0) ** j * (0.1 + j / 64.0) for j in range(64)]
    two = spark.createDataFrame(
        [(-1, QUERY, qv), (-2, QUERY, other_vec)],
        "query_id long, query_text string, query_vec array<double>",
    )
    out = search.hybrid_search_ann_many(
        docs, postings, stats, two, index, coarse, cq, k=10, pool=5, dim=64
    ).collect()
    q1 = {r["id"]: r for r in out if r["query_id"] == -1}
    q2 = {r["id"]: r for r in out if r["query_id"] == -2}
    assert 999 in q1 and q1[999]["lex_rank"] == 0 and q1[999]["sem_rank"] == 1
    assert 999 not in q2 or q2[999]["sem_rank"] != 1


def test_hybrid_ann_attr_filter_pushed_into_both_legs(spark):
    """r8 VERDICT missing #2: attr_filters apply AT RETRIEVAL. With a
    selective filter and a candidate pool much smaller than the corpus,
    post-filtering would spend pool slots on to-be-discarded docs and
    undershoot k; retrieval-time filtering must return k results whenever
    k matches exist — and the unfiltered call must keep its exact r8
    behavior (single-leg degeneracy untouched is pinned separately)."""
    qv = [1.0 if i % 7 == 0 else 0.25 for i in range(64)]
    rows = []
    # ANN scoring is cosine (vectors unit-normalize in _ivfpq_prep), so
    # separation must be by DIRECTION, not magnitude.
    # 60 "noise" docs that dominate BOTH legs: strong token overlap AND
    # near-qv direction (cos ~0.999), but tagged lang=xx
    for i in range(60):
        emb = [v + 0.02 * ((-1.0) ** j) * (1 + (i + j) % 3) for j, v in enumerate(qv)]
        rows.append((i, "spark join hash table doc", "xx", emb))
    # 10 lang=en docs: weaker lexical match, direction well off qv
    # (cos ~0.6) so they never crack an unfiltered pool of 8 in either
    # leg — pure post-filtering of that pool would surface almost none
    for i in range(100, 110):
        emb = [v + ((-1.0) ** j) * (1.0 + ((i * 13 + j) % 7) / 7.0) for j, v in enumerate(qv)]
        rows.append((i, "spark doc", "en", emb))
    docs = spark.createDataFrame(rows, "id long, text string, lang string, embedding array<double>")
    postings = search.build_postings(docs, id_col="id", text_col="text")
    stats = search.build_token_stats(postings, n_docs=docs.count())
    from sf_epa_data_ingestion_spark.operators import similarity

    coarse, cq = similarity.train_ivfpq(docs, corpus_id="id", vec_col="embedding", dim=64)
    index = similarity.encode_ivfpq(docs, coarse, cq, 64, id_col="id", vec_col="embedding")

    out = search.hybrid_search_ann(
        docs, postings, stats, "spark join hash", qv, index, coarse, cq,
        k=8, pool=8, dim=64, n_probe=16, attr_filters={"lang": "en"},
    ).collect()
    assert len(out) == 8, [r["id"] for r in out]  # k matches exist -> k returned
    assert all(r["id"] >= 100 for r in out)
    # leg ranks are within the filtered corpus: the best en doc is rank 1
    assert min(r["lex_rank"] for r in out if r["lex_rank"] > 0) == 1
    assert min(r["sem_rank"] for r in out if r["sem_rank"] > 0) == 1

    # contrast pin: the same pool post-filtered (filter the fused output
    # of an unfiltered call) undershoots k on this corpus
    unfiltered = search.hybrid_search_ann(
        docs, postings, stats, "spark join hash", qv, index, coarse, cq,
        k=70, pool=8, dim=64, n_probe=16,
    ).collect()
    post = [r for r in unfiltered if r["id"] >= 100][:8]
    assert len(post) < 8


def test_hybrid_ann_index_provider_matches_eager_index(spark):
    """r12: the ``index_for_cids`` provider path (the generation-pinned
    txlog host's hook) must be BIT-IDENTICAL to passing the eager index
    frame — with and without attr_filters (the filtered path wraps the
    provider with the same retrieval-time id restriction)."""
    qv = [1.0 if i % 7 == 0 else 0.25 for i in range(64)]
    rows = []
    for i in range(40):
        emb = [v + 0.03 * ((-1.0) ** j) * (1 + (i + j) % 5) for j, v in enumerate(qv)]
        rows.append((i, f"spark join hash doc {i}", "en" if i % 2 else "xx", emb))
    docs = spark.createDataFrame(
        rows, "id long, text string, lang string, embedding array<double>"
    )
    postings = search.build_postings(docs, id_col="id", text_col="text")
    stats = search.build_token_stats(postings, n_docs=docs.count())
    from sf_epa_data_ingestion_spark.operators import similarity

    coarse, cq = similarity.train_ivfpq(
        docs, corpus_id="id", vec_col="embedding", dim=64
    )
    index = similarity.encode_ivfpq(
        docs, coarse, cq, 64, id_col="id", vec_col="embedding"
    )
    provider = lambda cids: index.filter(F.col("cid").isin(list(cids)))  # noqa: E731

    for filters in (None, {"lang": "en"}):
        eager = sorted(
            tuple(r) for r in search.hybrid_search_ann(
                docs, postings, stats, "spark join hash", qv, index,
                coarse, cq, k=8, dim=64, attr_filters=filters,
            ).collect()
        )
        via_provider = sorted(
            tuple(r) for r in search.hybrid_search_ann(
                docs, postings, stats, "spark join hash", qv, None,
                coarse, cq, k=8, dim=64, attr_filters=filters,
                index_for_cids=provider,
            ).collect()
        )
        assert eager == via_provider and eager


def test_sql_normalizer_matches_norm_tokens(spark):
    """The max-score kernel tokenizes its queries in SQL with
    ``_NORM_TOKENS_SQL``; it must split every text exactly like the
    index's ``_norm_tokens``, or a term would silently miss its
    postings."""
    texts = [
        "Hello, World!!  foo-bar\tBAZ", "", None, "  a  b ", "Ünïcode ß x_y 42",
        "it's o'brien back\\slash {q}", "MIXED case\nnew line", "...", "a1b2 c3",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, t string")
    got = df.select("i", F.expr(search._NORM_TOKENS_SQL.format("t")).alias("x")).collect()
    want = df.select("i", search._norm_tokens(F.col("t")).alias("x")).collect()
    assert sorted(got) == sorted(want)
    assert dict(want)[0] == ["hello", "world", "foo", "bar", "baz"]
