"""The release rule of ``partitioning.cache(owner=...)``: every operator
whose returned lazy plan reads a cache it made holds at most one call's
blocks in a long-lived session, a result from an earlier call stays
value-correct after later calls, and a second identical call reuses the
first call's blocks instead of rebuilding them."""

from __future__ import annotations

import functools
import gc

import pyspark.sql.functions as F
import pytest

from sf_epa_data_ingestion_spark.operators import cleaning, dedup, quality_model, sampling, similarity, vocab

BASE = "the quick brown fox jumps over the lazy dog near the river bank today"


# The inputs are memoized per call ``i``: a frame made from local rows
# reads a new RDD each time it is made, so only the same frame gives two
# calls the same plan, as two reads of one table do.


@functools.cache
def _docs(spark, i):
    """Four tiny documents that differ per call ``i``: a near-duplicate
    pair sharing a long span, an unrelated one and a null text."""
    return spark.createDataFrame(
        [
            (1, f"{BASE} call {i}"),
            (2, f"{BASE} call {i} once more"),
            (3, f"an unrelated note number {i} " * 3),
            (4, None),
        ],
        "doc_id long, text string",
    )


@functools.cache
def _vecs(spark, i):
    return spark.createDataFrame(
        [(v, [float((v * 7 + j + i) % 5) + 1.0 for j in range(8)]) for v in range(12)],
        "vec_id long, embedding array<double>",
    )


@functools.cache
def _queries(spark):
    return spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0, 5.0, 1.0, 2.0, 3.0])],
        "query_id long, embedding array<double>",
    )


@functools.cache
def _budget_input(spark, i):
    docs = spark.createDataFrame(
        [(d, "web" if d % 2 else "books", d + i) for d in range(1, 9)],
        "doc_id long, source string, w long",
    )
    budgets = spark.createDataFrame([("web", 8), ("books", 6)], "source string, budget long")
    return docs, budgets


@functools.cache
def _pairs(spark, i):
    return spark.createDataFrame([(1, 2), (2, 3), (10 + i, 11 + i)], "id_a long, id_b long")


#: one call of each owner operator on the tiny input of call ``i``
OWNERS = {
    "minhash_lsh_pairs": lambda s, i: dedup.minhash_lsh_pairs(_docs(s, i)),
    "simhash_pairs": lambda s, i: dedup.simhash_pairs(_docs(s, i)),
    "ngram_jaccard_pairs": lambda s, i: dedup.ngram_jaccard_pairs(_docs(s, i), k=5),
    "duplicate_spans": lambda s, i: dedup.duplicate_spans(_docs(s, i), span=20, min_shared=1),
    "strip_duplicate_spans": lambda s, i: dedup.strip_duplicate_spans(_docs(s, i), span=20),
    "connected_components": lambda s, i: dedup.connected_components(
        _pairs(s, i), driver_edge_threshold=0
    ),
    "ngram_novelty": lambda s, i: cleaning.ngram_novelty(_docs(s, i), n=2),
    "score_quality_lr": lambda s, i: quality_model.score_quality_lr(_docs(s, i)),
    "sample_to_budget": lambda s, i: sampling.sample_to_budget(*_budget_input(s, i), weight_col="w"),
    "bigram_lm_scores": lambda s, i: vocab.bigram_lm_scores(_docs(s, i)),
    "dsir_log_weights": lambda s, i: vocab.dsir_log_weights(_docs(s, i), F.col("doc_id") <= 2),
    "ivf_topk": lambda s, i: similarity.ivf_topk(
        _vecs(s, i), _queries(s), k=2, n_centroids=2, n_probe=1
    ),
    "ivfpq_topk": lambda s, i: similarity.ivfpq_topk(
        _vecs(s, i), _queries(s), k=2, n_centroids=2, n_probe=2, m=2, ksub=4
    ),
}


def _live_rdds(spark) -> set[int]:
    """Ids of the cached RDDs the session still holds. A Python and then
    a JVM GC first drop the weakly held entries of RDDs nothing
    references any more. Local checkpoints are left out: they truncate
    lineage and are not caches under the release rule."""
    for _ in range(2):  # what the first pass frees may release more
        gc.collect()
        spark._jvm.System.gc()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {i for i in rdds.keys() if not rdds[i].rdd().isCheckpointed()}


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("op", sorted(OWNERS))
def test_owner_holds_one_call_of_blocks(spark, op):
    call = OWNERS[op]
    first = call(spark, 0)
    first_rows = _rows(first)
    counts = [len(_live_rdds(spark))]
    for i in range(1, 4):  # each call on a different input
        _rows(call(spark, i))
        counts.append(len(_live_rdds(spark)))
    assert max(counts[1:]) <= counts[0], f"persisted RDDs grew call over call: {counts}"

    # a new RDD in every call's plan: connected_components' edge
    # checkpoint, score_quality_lr's weights frame made from local rows
    if op not in ("connected_components", "score_quality_lr"):
        before = _live_rdds(spark)
        _rows(call(spark, 3))  # identical to the last call
        assert _live_rdds(spark) == before, "an identical call rebuilt its cache"

    # the earlier call's result recomputes once its cache is released
    assert _rows(first) == first_rows


def test_driver_path_connected_components_leaves_no_rdd(spark):
    """The driver path of ``connected_components`` (an edge list under
    ``driver_edge_threshold``, the path dedup_clusters takes) caches its
    edges only inside the call: repeated calls leave the session's
    persisted RDDs, local checkpoints included, as they found them."""

    def persistent() -> set[int]:
        for _ in range(2):
            gc.collect()
            spark._jvm.System.gc()
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persistent()
    for i in range(10):
        comp = dict(_rows(dedup.connected_components(_pairs(spark, i))))
        assert comp == {1: 1, 2: 1, 3: 1, 10 + i: 10 + i, 11 + i: 10 + i}
    assert persistent() - before == set()
