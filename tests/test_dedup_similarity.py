"""Behavioral tests for dedup + similarity operators on crafted corpora."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from sf_epa_data_ingestion_spark.operators import dedup, similarity
from sf_epa_data_ingestion_spark.streaming.semdedup import (
    current_semdedup_generation,
    retrain_semdedup_generation,
    state_assignments,
)


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])


def test_exact_dedup_normalizes_whitespace_and_case(spark):
    df = _docs(spark, ["Hello  World", "hello world", "HELLO\tWORLD", "other doc"])
    out = dedup.exact_dedup(df).collect()
    by_keep = {r["keep_id"]: r["n_dups"] for r in out}
    assert by_keep == {0: 3, 3: 1}


def test_minhash_identical_docs_jaccard_one(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    df = _docs(spark, [base, base, "completely different text about spark engines " * 8])
    out = dedup.minhash_lsh_pairs(df)
    rows = out.collect()
    pair = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in rows}
    assert pair[(0, 1)] == 1.0
    assert (0, 2) not in pair and (1, 2) not in pair


def test_simhash_identical_zero_hamming(spark):
    base = "spark native minhash engine " * 10
    df = _docs(spark, [base, base, "unrelated words entirely here " * 10])
    sigs = {r["id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    assert sigs[0] == sigs[1]
    pairs = dedup.simhash_pairs(df, max_hamming=0).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} >= {(0, 1)}


def test_simhash_pandas_matches_expression_reference(spark):
    """The Arrow-batched numpy simhash must agree bit-for-bit with the
    pinned expression-level fold on real corpus text plus the edge cases
    (empty text -> signature 0, NULL text -> NULL, sign-bit doc)."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(64)
    )
    extra = spark.createDataFrame(
        [(100001, ""), (100002, None), (100003, "x " * 300), (100004, "one")],
        ["doc_id", "text"],
    )
    df = docs.unionByName(extra)
    a = {r["id"]: r["simhash"] for r in dedup.simhash_expression(df).collect()}
    b = {r["id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    assert set(a) == set(b) and len(a) >= 60
    for k in a:
        assert a[k] == b[k], (k, a[k], b[k])
    assert b[100001] == 0 and b[100002] is None


def test_shingle_hashes_pd_matches_expression_reference(spark):
    """The Arrow/numpy shingle hasher feeding the PPJoin pipeline must
    produce the same SET of hashes as the expression form
    ``array_distinct(transform(char_shingles(text, k), xxhash64))`` —
    per doc, on real corpus text plus the edge cases that pick the
    slow path (shorter than k, non-ASCII multi-byte, empty-after-trim).
    NULL text contract differs deliberately (UDF -> NULL; the expression
    yields [xxhash64(NULL)=42] via greatest's null-skip) — the pipeline
    filters NULL text upstream, so only non-null parity matters."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())
        .limit(64)
    )
    extra = spark.createDataFrame(
        [
            (200001, ""),
            (200002, "tiny"),
            (200003, "x" * 11),
            (200004, "x" * 12),
            (200005, "café ☃ unicode shingles exercise the per-char path"),
            (200006, "Tabs\tand\nNEWLINES   collapse  "),
            (200007, "abc " * 50),
        ],
        ["doc_id", "text"],
    )
    df = docs.unionByName(extra)
    for k in (8, 12):
        expr = {
            r["doc_id"]: sorted(set(r["h"]))
            for r in df.select(
                "doc_id",
                F.transform(
                    dedup.char_shingles(F.col("text"), k), lambda s: F.xxhash64(s)
                ).alias("h"),
            ).collect()
        }
        udf = {
            r["doc_id"]: sorted(r["h"])
            for r in df.select(
                "doc_id", dedup._shingle_hashes_pd(k)(F.col("text")).alias("h")
            ).collect()
        }
        assert set(expr) == set(udf) and len(expr) >= 60
        for doc in expr:
            assert expr[doc] == udf[doc], (k, doc)


def test_ngram_jaccard_exact_values(spark):
    df = _docs(spark, ["abcdefgh", "abcdefgh", "zzzzzzzz"])
    out = dedup.ngram_jaccard_pairs(df, k=8, threshold=0.5).collect()
    assert len(out) == 1
    (r,) = out
    assert (r["id_a"], r["id_b"], r["jaccard"]) == (0, 1, 1.0)


def test_ngram_jaccard_unique_shingles_prune_without_loss(spark):
    """Deterministic pin for the late-r8 df=1 position cut: the join
    inputs are filtered by ``pos >= n_u``, which is lossless ONLY while
    the per-doc array sorts df-ASCENDING (unique shingles first) and n_u
    counts exactly the df=1 entries. A sort-order or count drift would
    silently drop COMMON shingles from the index and lose true pairs —
    this corpus makes that loud: two docs share a common core but each
    also carries a long unique tail, so the qualifying pair survives
    only if every common shingle outlives the pruning."""
    core = "the quick brown fox jumps over the lazy dog again and again"
    a = core + " unique-tail-alpha-alpha-alpha-alpha-alpha-alpha"
    b = core + " unique-tail-omega-omega-omega-omega-omega-omega"
    df = _docs(spark, [a, b, "entirely disjoint filler text zzz qqq vvv"])
    out = dedup.ngram_jaccard_pairs(df, k=8, threshold=0.30).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 1) in got, out
    # exact values too: replay the Jaccard in plain Python
    def sh(s):
        s = " ".join(s.lower().split())
        return {s[i:i + 8] for i in range(max(len(s) - 7, 1))}
    inter = len(sh(a) & sh(b))
    (r,) = [r for r in out if (r["id_a"], r["id_b"]) == (0, 1)]
    assert r["n_common"] == inter
    assert abs(r["jaccard"] - inter / len(sh(a) | sh(b))) < 1e-9


def test_brute_force_topk_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(20, 8)).astype(float)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)], ["vec_id", "embedding"]
    )
    queries = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.brute_force_topk(df, queries, k=3).collect()
    for qid in (0, 1):
        got = [r["vec_id"] for r in sorted((r for r in out if r["query_id"] == qid), key=lambda r: r["rank"])]
        sims = vecs @ vecs[qid] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[qid]))
        sims_rounded = [(round(s, 6), i) for i, s in enumerate(sims) if i != qid]
        expect = [i for _, i in sorted(sims_rounded, key=lambda t: (-t[0], t[1]))[:3]]
        assert got == expect


def test_lsh_topk_finds_identical_vector(spark):
    # an exact duplicate vector always lands in the same buckets -> recalled
    vec = [1.0, -2.0, 0.5, 3.0]
    other = [[float(i + j) for j in range(4)] for i in range(5)]
    rows = [(0, vec), (1, vec)] + [(i + 2, v) for i, v in enumerate(other)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.lsh_topk(df, queries, k=3, dim=4).collect()
    assert any(r["vec_id"] == 1 and r["cosine_sim"] == 1.0 for r in out)


def test_ivf_topk_identical_vector_and_recall(spark):
    import numpy as np

    # an exact duplicate shares the query's cell -> always recalled
    vec = [1.0, -2.0, 0.5, 3.0]
    other = [[float(i + j) for j in range(4)] for i in range(6)]
    rows = [(0, vec), (1, vec)] + [(i + 2, v) for i, v in enumerate(other)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.ivf_topk(df, queries, k=3, n_centroids=2, n_probe=1, iters=1).collect()
    assert any(r["vec_id"] == 1 and r["cosine_sim"] == 1.0 for r in out)

    # recall vs brute force on a clustered corpus: queries probe half the
    # cells, so same-cluster neighbors (the true top-k) are found
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(4, 8)) * 5
    vecs = np.vstack([c + rng.normal(size=(25, 8)) * 0.3 for c in centers])
    big = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))], ["vec_id", "embedding"]
    )
    qs = big.filter(F.col("vec_id") % 25 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.brute_force_topk(big, qs, k=5).collect()
    approx = similarity.ivf_topk(big, qs, k=5, n_centroids=8, n_probe=4, iters=2).collect()
    truth = {(r["query_id"], r["vec_id"]) for r in exact}
    found = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.8, f"recall {recall}"

    # deterministic across runs
    again = similarity.ivf_topk(big, qs, k=5, n_centroids=8, n_probe=4, iters=2).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, again))

    # deterministic across PARTITIONINGS: the fixed-point Lloyd sums are
    # order-independent integers, so a different partition layout (the
    # thing a 1000-executor cluster changes) must yield bit-identical
    # results — the property the q_ann_ivf golden oracle relies on
    shuffled = similarity.ivf_topk(
        big.repartition(7), qs.coalesce(1), k=5, n_centroids=8, n_probe=4, iters=2
    ).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, shuffled))


def test_ivf_with_fewer_vectors_than_centroids(spark, tmp_path):
    """A corpus with fewer valid vectors than n_centroids trains one cell
    per valid vector (a NULL row seeds nothing), and the in-query chain,
    a generation-1 SemDeDup build and the refhash mirror all agree on
    it."""
    import numpy as np

    from sf_epa_data_ingestion_spark.functions.refhash import ref_ivf_model

    rng = np.random.default_rng(5)
    vecs = {i: [float(x) for x in rng.normal(size=8)] for i in range(5)}
    df = spark.createDataFrame(
        list(vecs.items()) + [(5, None)], "vec_id long, embedding array<double>"
    )
    queries = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    cents = similarity.train_ivf(df, n_centroids=16, dim=8)
    assert len(cents) == 5
    _probes, ref_cents, _margin = ref_ivf_model(list(vecs.items()), n_centroids=16, dim=8)
    assert ref_cents == cents

    topk = sorted(
        map(tuple, similarity.ivf_topk(df, queries, k=3, n_centroids=16, dim=8).collect())
    )
    assert {r[0] for r in topk} == {0, 1} and all(r[3] <= 3 for r in topk)

    root = str(tmp_path / "ivf")
    retrain_semdedup_generation(spark, root, "ivf", 16, corpus=df)
    _gen, loaded, state = current_semdedup_generation(spark, root)
    assert loaded == cents
    served = similarity.ivf_search(
        state_assignments(state), queries, loaded, k=3
    ).collect()
    assert sorted(map(tuple, served)) == topk


def test_embedding_near_dup_exact_threshold(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    out = similarity.embedding_near_dup_pairs(df, threshold=0.99, exact=True).collect()
    assert [(r["id_a"], r["id_b"], r["cosine_sim"]) for r in out] == [(0, 1, 1.0)]


def test_connected_components_known_graph(spark):
    from sf_epa_data_ingestion_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # two chains (1-2-3, 10-11) and a triangle with a bridge (20..23)
        [(2, 1), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22), (22, 23)],
        "id_a long, id_b long",
    )
    expected = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}
    # threshold default -> driver union-find; 0 -> distributed loop
    for thr in (500_000, 0):
        comp = {
            r["id"]: r["component"]
            for r in connected_components(pairs, driver_edge_threshold=thr).collect()
        }
        assert comp == expected, thr


def test_connected_components_matches_union_find(spark):
    """Cross-check label propagation against a driver-side union-find on
    the real minhash pair graph at sf0.001."""
    from sf_epa_data_ingestion_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = minhash_lsh_pairs(docs).select("id_a", "id_b")
    edges = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    assert edges, "fixture should produce near-dup pairs"

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    # canonical representative = min id per set
    expected_sets: dict[int, set] = {}
    for x in parent:
        expected_sets.setdefault(find(x), set()).add(x)
    expected = {x: min(s) for root, s in expected_sets.items() for x in s}

    # both execution paths must agree with the reference union-find
    for thr in (500_000, 0):
        got = {
            r["id"]: r["component"]
            for r in connected_components(pairs, driver_edge_threshold=thr).collect()
        }
        assert got == expected, thr


def test_resolve_duplicates_keep_list(spark):
    from sf_epa_data_ingestion_spark.operators.dedup import resolve_duplicates

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 10, 99)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = {r["doc_id"]: r for r in resolve_duplicates(docs, pairs).collect()}
    assert [out[i]["component"] for i in (1, 2, 3)] == [1, 1, 1]
    # untouched docs are their own singleton components and canonical
    assert out[10]["component"] == 10 and out[10]["is_canonical"]
    assert out[99]["is_canonical"]
    assert out[1]["is_canonical"] and not out[2]["is_canonical"] and not out[3]["is_canonical"]


def test_pandas_signatures_match_expression_reference(spark):
    """_signatures_pd must agree bit-for-bit with the expression-level
    _signatures (same splitmix64 hyperplanes, same >0 rule, same 1<<b
    packing) — the hot path swapped implementations, not semantics."""
    import pyspark.sql.functions as F
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(64)
    )
    dim = len(emb.select("embedding").first()[0])
    expr_sigs = similarity._signatures(F.col("embedding"), 4, 8, dim)
    pd_sigs = similarity._signatures_pd(4, 8, dim)(F.col("embedding"))
    rows = emb.select(
        expr_sigs.alias("a"), pd_sigs.alias("b")
    ).collect()
    assert rows and all(list(r["a"]) == list(r["b"]) for r in rows)
    # ragged vectors: any length mismatch nulls every expression dot ->
    # all-zero signature; the UDF must match (zero row), not partial-dot
    ragged = spark.createDataFrame(
        [(1, [0.7] * (dim - 2)), (2, [0.7] * (dim + 3))], "id long, embedding array<double>"
    )
    for r in ragged.select(
        similarity._signatures(F.col("embedding"), 4, 8, dim).alias("a"),
        similarity._signatures_pd(4, 8, dim)(F.col("embedding")).alias("b"),
    ).collect():
        assert list(r["a"]) == list(r["b"]) == [0, 0, 0, 0], r


def test_centroid_topn_pd_matches_expression_spec(spark):
    # the Arrow-batched matmul must agree with the literal-tree
    # _nearest_centroid (argmax dot, ties to smallest index) and order
    # probes by descending dot
    import random

    random.seed(7)
    cents = [[random.uniform(-1, 1) for _ in range(8)] for _ in range(5)]
    rows = [(i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    got = (
        df.select(
            "id",
            F.element_at(similarity._centroid_topn_pd(cents, 1)(F.col("v")), 1).alias("pd_cid"),
            similarity._nearest_centroid(F.col("v"), cents).alias("ex_cid"),
        )
        .collect()
    )
    assert all(r["pd_cid"] == r["ex_cid"] for r in got)
    # NULL and ragged (short/long) vectors: the expression path nulls every
    # dot on any length mismatch (zip_with NULL padding) so all centroids
    # tie and index 0 wins; the UDF must emit the same all-tie order, not a
    # partial dot over the overlapping prefix.
    ragged = spark.createDataFrame(
        [(1, None), (2, [0.5] * 5), (3, [0.5] * 11)], "id long, v array<double>"
    )
    for r in ragged.select(
        "id",
        similarity._centroid_topn_pd(cents, 2)(F.col("v")).alias("p"),
        similarity._nearest_centroid(F.col("v"), cents).alias("ex_cid"),
    ).collect():
        assert r["p"] == [0, 1] and r["ex_cid"] == 0, r


from hypothesis import given, settings, strategies as st


@settings(max_examples=8, deadline=None)
@given(docs=st.lists(
    st.lists(st.sampled_from(
        # a tiny vocabulary makes shared shingles (and near-threshold
        # pairs, where the r6 count bound has the least slack) common
        "lorem ipsum dolor sit amet alpha beta gamma lorem ipsum".split()),
             min_size=3, max_size=24).map(" ".join),
    min_size=2, max_size=10))
def test_ngram_jaccard_matches_bruteforce_reference(spark, docs):
    # EXACTNESS pin for the whole PPJoin machinery (rarest-first global
    # order, probe prefix x full index, the r6 pair-level count bound
    # o <= c + min(ceil(t*n_a)-1, n_a-1-pa_last, n_b-1-pb_last),
    # array_intersect verify): on arbitrary template-heavy corpora the
    # result must equal the brute-force all-pairs Jaccard over k-shingle
    # sets computed in plain Python. A bound even one off on any branch
    # drops a true near-threshold pair, which this test generates by
    # construction.
    k, t = 5, 0.30
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(df, k=k, threshold=t).collect()
    }

    def shingles(s):
        s = " ".join(s.lower().split())
        return {s[i:i + k] for i in range(max(len(s) - k + 1, 1))}

    want = {}
    sh = [shingles(d) for d in docs]
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            inter = len(sh[i] & sh[j])
            union = len(sh[i] | sh[j])
            if union and inter / union >= t:
                want[(i, j)] = (inter, inter / union)
    assert set(got) == set(want), (got, want)
    for p, (n, jac) in want.items():
        assert got[p][0] == n
        assert abs(got[p][1] - jac) < 1e-9


def test_minhash_signature_rows_matches_expression_reference(spark):
    """The Arrow mapInPandas signature stage (production path for batch
    LSH and the streaming monitor) must reproduce the expression spec
    ``minhash_signature(char_shingles(...))`` bit-for-bit — real corpus
    plus the slow-path edges (unicode multi-byte, shorter-than-k, empty,
    whitespace-collapse)."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    exp = {
        r["id"]: list(r["sig"])
        for r in d.select(
            F.col("doc_id").alias("id"),
            dedup.minhash_signature(dedup.char_shingles(F.col("text"), 8), 64).alias("sig"),
        ).collect()
    }
    got = {r["id"]: list(r["sig"]) for r in dedup.minhash_signature_rows(d).collect()}
    assert got == exp

    rows = [
        (1, "café ☃ 你好 and some ascii text here to shingle"),
        (2, "ab"),
        (3, ""),
        (4, "x" * 7),
        (5, "x" * 8),
        (6, "tabs\tand\nnewlines collapse  here"),
        (7, "naïve space"),  # NBSP survives Java-\s normalization
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    exp2 = {
        r["id"]: list(r["sig"])
        for r in df.select(
            F.col("doc_id").alias("id"),
            dedup.minhash_signature(dedup.char_shingles(F.col("text"), 8), 64).alias("sig"),
        ).collect()
    }
    got2 = {r["id"]: list(r["sig"]) for r in dedup.minhash_signature_rows(df).collect()}
    assert got2 == exp2


def test_shingle_hash_rows_matches_expression_reference(spark):
    """The Arrow mapInPandas shingle front (production path of the PPJoin
    pipeline since r5) must produce the same per-doc hash SET as the
    expression form — real corpus plus the slow-path edges."""
    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    extra = spark.createDataFrame(
        [
            (300001, ""),
            (300002, "tiny"),
            (300003, "café ☃ unicode shingles exercise the per-char path"),
            (300004, "Tabs\tand\nNEWLINES   collapse  "),
        ],
        ["doc_id", "text"],
    )
    df = d.unionByName(extra)
    for k in (8, 12):
        exp = {
            r["doc_id"]: sorted(set(r["h"]))
            for r in df.select(
                "doc_id",
                F.transform(
                    dedup.char_shingles(F.col("text"), k), lambda s: F.xxhash64(s)
                ).alias("h"),
            ).collect()
        }
        got: dict = {}
        for r in dedup.shingle_hash_rows(df, k=k).collect():
            got.setdefault(r["id"], []).append(r["sh"])
        got = {i: sorted(v) for i, v in got.items()}
        assert got == exp


def test_xxh64_window_matrix_rejects_wide_windows():
    """_xxh64_window_matrix implements only XXH64's <32-byte branch;
    k >= 32 must fail loudly instead of silently diverging from the JVM
    (advisor finding, round 5)."""
    import numpy as np
    import pytest

    with pytest.raises(ValueError, match="<32-byte"):
        dedup._xxh64_window_matrix(np.zeros((3, 32), dtype=np.uint8))
    # 31 stays on the fast path and agrees with the pure mirror
    from sf_epa_data_ingestion_spark.functions.refhash import xxh64_bytes

    mat = np.frombuffer(b"a" * 31 + b"b" * 31, dtype=np.uint8).reshape(2, 31)
    got = dedup._xxh64_window_matrix(mat)
    assert got.tolist() == [xxh64_bytes(b"a" * 31), xxh64_bytes(b"b" * 31)]


def test_shingle_fronts_route_k32_to_slow_path(spark):
    """Shingle k >= 32 exceeds the vectorized hasher's short-input branch;
    both Arrow fronts must route those rows to the per-shingle refhash
    fallback and still match the expression form bit-for-bit."""
    k = 33
    df = spark.createDataFrame(
        [
            (1, "The quick brown fox jumps over the lazy dog again and again."),
            (2, "x" * 40),
            (3, "short"),
        ],
        ["doc_id", "text"],
    )
    exp = {
        r["doc_id"]: sorted(set(r["h"]))
        for r in df.select(
            "doc_id",
            F.transform(
                dedup.char_shingles(F.col("text"), k), lambda s: F.xxhash64(s)
            ).alias("h"),
        ).collect()
    }
    udf = {
        r["doc_id"]: sorted(r["h"])
        for r in df.select(
            "doc_id", dedup._shingle_hashes_pd(k)(F.col("text")).alias("h")
        ).collect()
    }
    assert udf == exp
    got: dict = {}
    for r in dedup.shingle_hash_rows(df, k=k).collect():
        got.setdefault(r["id"], []).append(r["sh"])
    assert {i: sorted(v) for i, v in got.items()} == exp


def test_pq_topk_matches_python_mirror(spark):
    """pq_topk is bit-identical to refhash.ref_pq_topk (the golden-fixture
    oracle's source): integer-exact train->encode->ADC->refine chain."""
    import pyarrow.parquet as pq_

    from sf_epa_data_ingestion_spark.functions.refhash import ref_pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        (r["query_id"], r["vec_id"], r["score_fp"], r["rank"])
        for r in similarity.pq_topk(emb, q, k=5, dim=64).collect()
    )
    rows = pq_.read_table(
        "/root/testdata/sf0.001/embeddings.parquet", columns=["vec_id", "embedding"]
    ).to_pylist()
    want = ref_pq_topk([(r["vec_id"], r["embedding"]) for r in rows], n_queries=10, k=5)
    assert got == want and len(got) == 50
    # determinism: a second full run is bit-identical
    got2 = sorted(
        (r["query_id"], r["vec_id"], r["score_fp"], r["rank"])
        for r in similarity.pq_topk(emb, q, k=5, dim=64).collect()
    )
    assert got2 == got


def test_pq_topk_excludes_invalid_vectors(spark):
    """NULL / ragged / zero-norm vectors are excluded from training,
    encoding and results on both sides of the mirror (the PQ spec)."""
    import numpy as np

    from sf_epa_data_ingestion_spark.functions.refhash import ref_pq_topk

    rng = np.random.default_rng(7)
    rows = [(i, rng.standard_normal(64).astype("float32").tolist()) for i in range(40)]
    rows += [(100, None), (101, [1.0] * 63), (102, [0.0] * 64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        (r["query_id"], r["vec_id"], r["score_fp"], r["rank"])
        for r in similarity.pq_topk(df, q, k=3, dim=64).collect()
    )
    want = ref_pq_topk(rows, n_queries=10, k=3)
    assert got == want
    assert not any(v in (100, 101, 102) for _, v, _, _ in got)


def test_pq_topk_tiny_and_empty_corpus(spark):
    """Corpora smaller than ksub (fewer seeds than centroids) and corpora
    with no valid vectors at all must behave identically to the mirror,
    not crash (r6 self-audit)."""
    import numpy as np

    from sf_epa_data_ingestion_spark.functions.refhash import ref_pq_topk

    rng = np.random.default_rng(9)
    rows = [(i, rng.standard_normal(64).astype("float32").tolist()) for i in range(7)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        (r["query_id"], r["vec_id"], r["score_fp"], r["rank"])
        for r in similarity.pq_topk(df, q, k=2, dim=64).collect()
    )
    want = ref_pq_topk(rows, n_queries=3, k=2)
    assert got == want and len(got) == 6

    empty = spark.createDataFrame(
        [(1, None), (2, [0.0] * 64)], "vec_id long, embedding array<float>"
    )
    eq = empty.select(F.col("vec_id").alias("query_id"), "embedding")
    assert similarity.pq_topk(empty, eq, k=2, dim=64).count() == 0
    assert ref_pq_topk([(1, None), (2, [0.0] * 64)], n_queries=3, k=2) == []


def test_shortlist_topn_bounded_path_matches_window(spark):
    """The adaptive ADC shortlist (r7): the large-Q bounded pandas pass
    must select exactly the rows the plain window selects — same total
    comparator (__adc desc, id asc), partition-local top-n is a superset
    of the global top-n."""
    import random

    rng = random.Random(7)
    rows = [
        (q, v, rng.randrange(-1000, 1000))
        for q in range(6)
        for v in rng.sample(range(10_000), 400)
    ]
    scored = spark.createDataFrame(rows, "query_id long, vec_id long, __adc long").repartition(8)
    a = {
        (r["query_id"], r["vec_id"])
        for r in similarity._shortlist_topn(scored, "query_id", "vec_id", 25, n_queries=1).collect()
    }
    b = {
        (r["query_id"], r["vec_id"])
        for r in similarity._shortlist_topn(scored, "query_id", "vec_id", 25, n_queries=10_000).collect()
    }
    assert a == b and len(a) == 6 * 25


# ---------------------------------------------------------------------------
# SemDeDup (semantic_dedup_pairs / semantic_dedup_keep)
# ---------------------------------------------------------------------------


def _sd_index(spark, rows):
    """(vec_id, __u, cid) frame from handcrafted unit vectors."""
    return spark.createDataFrame(
        rows, "vec_id long, __u array<double>, cid int"
    )


def _unit(v):
    import math as m

    n = m.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def test_semantic_dedup_pairs_handcrafted_clusters(spark):
    """Two clusters; one near-dup pair inside cluster 0; a cross-cluster
    near-identical pair must NOT surface (SemDeDup's documented scope:
    candidates are cluster-bounded). Keep rule: the member with the
    LOWER centroid cosine survives."""
    import numpy as np

    dim = 8
    e0 = [1.0] + [0.0] * (dim - 1)
    e1 = [0.0, 1.0] + [0.0] * (dim - 2)
    cents = [e0, e1]
    # cluster 0: a and b near-identical; a sits closer to the centroid.
    a = _unit([0.99, 0.1] + [0.0] * (dim - 2))
    b = _unit([0.97, 0.14, 0.02] + [0.0] * (dim - 3))
    far = _unit([0.5, -0.5, 0.5, -0.5] + [0.0] * (dim - 4))
    # cluster 1: near-identical to a but assigned elsewhere — unreachable
    c = list(a)
    idx = _sd_index(
        spark,
        [(1, a, 0), (2, b, 0), (3, far, 0), (4, c, 1)],
    )
    out = similarity.semantic_dedup_pairs(idx, cents, threshold=0.95).collect()
    assert len(out) == 1
    r = out[0]
    # b has the lower centroid cosine -> b kept, a dropped
    assert (r["keep_id"], r["drop_id"]) == (2, 1)
    want = round(float(np.dot(a, b)), 6)
    assert abs(r["cosine_sim"] - want) < 2e-6
    assert r["cid"] == 0


def test_semantic_dedup_keep_resolves_drop_set(spark):
    dim = 8
    e0 = [1.0] + [0.0] * (dim - 1)
    a = _unit([0.99, 0.1] + [0.0] * (dim - 2))
    b = _unit([0.97, 0.14, 0.02] + [0.0] * (dim - 3))
    idx = _sd_index(spark, [(1, a, 0), (2, b, 0), (3, None, 0)])
    kept = {
        r["vec_id"]
        for r in similarity.semantic_dedup_keep(idx, [e0], threshold=0.95).collect()
    }
    # a dropped (higher ccos), b kept, invalid-vector row 3 passes through
    assert kept == {2, 3}


def test_semantic_dedup_no_model_returns_empty(spark):
    idx = _sd_index(spark, [])
    assert similarity.semantic_dedup_pairs(idx, None).count() == 0
    assert similarity.semantic_dedup_pairs(idx, []).count() == 0


def test_semantic_dedup_graded_finds_every_planted_pair(spark):
    """The graded query (persisted 64-cell assignment over the planted
    union corpus): every planted (i, i+1e6) pair must surface as a
    keep/drop decision — a miss requires the perturbed copy to flip its
    k-means cell, which the fixture tool's margin guard rules out — and
    nothing else may clear the 0.95 threshold on the isotropic testdata
    (max real-pair cosine ~0.51). Deterministic end to end, so a pin."""
    import __spark_entry__ as entry
    from sf_epa_data_ingestion_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    out = entry.q_semantic_dedup(spark, sf).collect()
    pairs = {
        (min(r["keep_id"], r["drop_id"]), max(r["keep_id"], r["drop_id"]))
        for r in out
    }
    n = load_table(spark, sf, "embeddings").count()
    assert pairs == {(i, i + entry.NEARDUP_PLANT_OFFSET) for i in range(n)}
    assert all(r["cosine_sim"] >= 0.999999 for r in out)


def test_semantic_dedup_cluster_count_is_a_cost_knob(spark, tmp_path):
    """The 100 TB posture's knob, pinned (r8 VERDICT next-round #6):
    n_centroids ∝ n keeps per-cluster work flat. On the sf0.001 planted
    corpus an 8x finer clustering must (a) cut the pairwise candidate
    work — sum over clusters of size^2, what the applyInPandas stage
    actually does — several-fold, (b) shrink the max cluster (the
    per-task memory/straggler bound), and (c) still detect EVERY planted
    pair with the identical decision count: near-identical twins share a
    cell at either granularity here, so granularity buys cost, not
    recall. (At sf1/640 cells tools/semdedup_scale.py measures the
    margin where that stops being exactly true — 99.6% detection, the
    Abbas et al. granularity/recall trade — recorded in SCALE.md.)"""
    import __spark_entry__ as entry

    corpus = entry._semdedup_corpus(spark, "/root/testdata/sf0.001").persist()
    stats = {}
    try:
        for cells in (8, 64):
            d = str(tmp_path / f"cells{cells}")
            retrain_semdedup_generation(spark, d, "cells", cells, corpus=corpus)
            _gen, cents, state = current_semdedup_generation(spark, d)
            index = state_assignments(state)
            pairs = similarity.semantic_dedup_pairs(index, cents, threshold=0.95)
            planted = (
                pairs.withColumn("lo", F.least("keep_id", "drop_id"))
                .withColumn("hi", F.greatest("keep_id", "drop_id"))
                .filter(F.col("hi") - F.col("lo") == 1_000_000)
                .select("lo", "hi").distinct().count()
            )
            agg = index.groupBy("cid").count().agg(
                F.sum(F.col("count") * F.col("count")).alias("sum_sq"),
                F.max("count").alias("max_size"),
            ).first()
            stats[cells] = {
                "planted": planted,
                "total": pairs.count(),
                "sum_sq": int(agg["sum_sq"]),
                "max_size": int(agg["max_size"]),
            }
    finally:
        corpus.unpersist()
    assert stats[8]["planted"] == stats[64]["planted"] == 500
    assert stats[8]["total"] == stats[64]["total"] == 500
    assert stats[64]["sum_sq"] * 4 < stats[8]["sum_sq"], stats
    assert stats[64]["max_size"] < stats[8]["max_size"], stats


def test_connected_components_long_chain_converges(spark):
    """r11 VERDICT next-round #6: an adversarial CHAIN component longer
    than max_iter — plain min-label propagation moves the min one hop
    per round, so before the r12 pointer shortcutting the distributed
    path simply ran out of iterations and returned WRONG labels. With
    the shortcut the horizon doubles per round: a 64-node chain resolves
    within max_iter=10 (2^i - 1 >= 63 at i = 6)."""
    from sf_epa_data_ingestion_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    comp = {
        r["id"]: r["component"]
        for r in connected_components(
            pairs, max_iter=10, driver_edge_threshold=0
        ).collect()
    }
    assert comp == {i: 0 for i in range(65)}
