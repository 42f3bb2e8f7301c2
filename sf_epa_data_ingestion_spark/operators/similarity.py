"""Similarity search over embedding columns (north-star scope).

The ANN ladder, each tier fixing the previous one's scale gap:
- ``brute_force_topk``: exact cosine top-k — the correctness baseline
  and verifier (O(|Q|*|C|), queries broadcast, corpus never shuffles).
- ``lsh_topk``: random-hyperplane buckets — each query scores only its
  own buckets; ``n_tables`` trades compute for recall.
- ``ivf_topk``: coarse k-means cells — prunes WHICH vectors a query
  touches (~n_probe/n_centroids of the corpus).
- ``pq_topk``: product quantization (ADC+R) — shrinks WHAT a scan reads
  (16x4-bit codes = 8 B/vector), integer-exact end to end.
- ``ivfpq_topk`` / ``train_ivfpq`` + ``encode_ivfpq`` + ``ivfpq_search``:
  the composed sublinear tier (FAISS ``IVF16,PQ16x4`` analog) with a
  train/add/search split — the generational vector index
  (streaming/vectorindex.py) applies the frozen model to arriving
  vectors, and queries serve from its prebuilt (id, cid, codes) table.
- ``embedding_near_dup_pairs``: corpus self-similarity above a cosine
  threshold (near-duplicate detection by embedding; banded production
  path, exact mode as test-only verifier).
- ``quantize_embeddings``: int8 scalar quantization (SQ8 analog).

Determinism is the design constraint throughout: seeded hyperplanes,
engine-stable seed choice, fixed-point Lloyd sums (order-independent
integer aggregation), and 2^-15-quantized integer ADC/refinement ranks —
which is what lets every tier carry a hash-exact golden-fixture DuckDB
oracle (functions/refhash mirrors). Scale notes live on each operator.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import broadcast, pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, LongType

from ..functions.binding import let
from ..functions.refhash import (
    PQ_COORD_SCALE,
    PQ_ITERS,
    PQ_KSUB,
    PQ_M,
    PQ_RERANK,
    PQ_SUM_SCALE,
)
from ..functions.vectors import to_double_array
from ..partitioning import cache, spread
from .search import _rank_within

# Fixed-point resolution for IVF's Lloyd sums: unit coordinates floored
# at 2^-30 before the per-cell integer aggregate (see ivf_topk docstring).
IVF_SCALE = 1 << 30


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Vector dimensionality from the first NON-NULL vector. Callers on
    the benched paths pass ``dim`` explicitly (one less job); this is the
    library-use fallback, and an empty / all-NULL corpus is a clear error
    here rather than a TypeError on ``first()[0]`` downstream."""
    row = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if row is None:
        raise ValueError(
            f"cannot infer vector dim: no non-NULL '{vec_col}' rows; pass dim="
        )
    return len(row[0])


def _with_vec_norm(df: DataFrame, vec_col: str, out_vec: str, out_norm: str) -> DataFrame:
    """Project the double-cast vector and its L2 norm as columns, computed
    once per ROW — pair joins downstream then do a single dot-product fold
    per pair instead of cosine()'s three (dot + both norms). The fold and
    sqrt are the same expression trees cosine() uses, so
    dot/(na*nb) stays bit-identical to cosine(a, b)."""
    return df.select(
        "*",
        to_double_array(F.col(vec_col)).alias(out_vec),
        let(to_double_array(F.col(vec_col)), lambda v: F.sqrt(_dot(v, v))).alias(out_norm),
    ).drop(vec_col)


def _dot(a: Column, b: Column) -> Column:
    """Sequential dot-product fold — the one float-sum order every cosine
    in this module (and its DuckDB oracles' list_dot_product) shares."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _pair_cosine(va: Column, vb: Column, na: Column, nb: Column) -> Column:
    """cosine from precomputed double arrays + norms (attribute reads)."""
    return _dot(va, vb) / F.nullif(na * nb, F.lit(0.0))


def _rank_topk(scored: DataFrame, query_id: str, corpus_id: str, score: str, k: int) -> DataFrame:
    """Per-query top-k by (score desc, corpus id asc) — the searchers'
    ``_rank_within`` — as (query_id, corpus_id, score, rank long)."""
    return _rank_within(scored, query_id, score, corpus_id, k).select(
        query_id, corpus_id, score, F.col("rank").cast("long").alias("rank")
    )


def _no_hits(spark, query_id: str, corpus_id: str, score: str = "cosine_sim double") -> DataFrame:
    """The empty top-k frame a tier returns when it has no model or no
    valid query."""
    return spark.createDataFrame([], f"{query_id} long, {corpus_id} long, {score}, rank long")


def _dense(vecs: pd.Series, dim: int) -> np.ndarray:
    """(N, dim) float64 batch matrix for the Arrow UDFs. NULL vectors and
    vectors whose length differs from ``dim`` stay zero rows — the
    expression specs' zip_with NULL-pads any length mismatch and nulls
    the whole dot, so a partial dot over the overlapping prefix would
    disagree with them."""
    M = np.zeros((len(vecs), dim))
    for i, v in enumerate(vecs):
        if v is not None and len(v) == dim:
            M[i] = np.asarray(v, dtype=np.float64)
    return M


def _stack_valid(series, dim: int):
    """Zeroed (n, dim) matrix + validity mask for SemDeDup's pair and
    keep-rule dots: None, wrong-length and NaN-carrying vectors (a
    zero-norm vector's NULL elements) are masked out rather than raised
    on, so a bad vector never fails a cluster or a streaming
    micro-batch."""
    n = len(series)
    M = np.zeros((n, dim), dtype=np.float64)
    valid = np.zeros(n, dtype=bool)
    for r, u in enumerate(series):
        if u is not None and len(u) == dim:
            row = np.asarray(u, dtype=np.float64)
            if not np.isnan(row).any():
                M[r] = row
                valid[r] = True
    return M, valid


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors per query.

    Plan shape: broadcast(queries) × corpus → map-side score → single
    shuffle for the per-query window. Ties broken by corpus id for
    determinism. Self-matches (same id) are excluded.
    """
    q = _with_vec_norm(queries.select(F.col(query_id), F.col(vec_col)), vec_col, "__qvec", "__qn")
    c = _with_vec_norm(
        spread(corpus.select(F.col(corpus_id), F.col(vec_col)), F.col(corpus_id)),
        vec_col,
        "__cvec",
        "__cn",
    )
    scored = (
        c.join(broadcast(q), F.col(query_id) != F.col(corpus_id))
        .select(
            query_id,
            corpus_id,
            F.round(
                _pair_cosine(F.col("__qvec"), F.col("__cvec"), F.col("__qn"), F.col("__cn")), 6
            ).alias("cosine_sim"),
        )
    )
    return _rank_topk(scored, query_id, corpus_id, "cosine_sim", k)


def _hyperplane(table: int, bit: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from a fixed seed
    (splitmix64-style integer mix per coordinate — reproducible anywhere)."""
    vals = []
    for d in range(dim):
        x = (table * 1_000_003 + bit * 10_007 + d * 101 + 0x9E3779B9) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 30
        x = (x * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 27
        x = (x * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 31
        vals.append((x / 2**64) * 2.0 - 1.0)
    return vals


def _signature_of(v: Column, table: int, bits: int, dim: int) -> Column:
    """Sign-bit signature: bit b set iff dot(v, plane_b) > 0. ``v`` must be
    a cheap reference (lambda variable / attribute) — it is read bits times."""
    sig = F.lit(0).cast("long")
    for b in range(bits):
        d = _dot(v, F.array(*[F.lit(x) for x in _hyperplane(table, b, dim)]))
        sig = sig + F.when(d > 0, F.lit(1 << b)).otherwise(F.lit(0)).cast("long")
    return sig


def _signatures(vec: Column, n_tables: int, bits: int, dim: int) -> Column:
    """All n_tables signatures as one array — the EXPRESSION-level
    reference implementation. The double-cast vector is ``let``-bound so
    the cast runs once per row, not n_tables*bits times (HOF lambdas
    re-evaluate referenced child expressions per use).

    The hot paths use ``_signatures_pd`` instead: this tree embeds
    n_tables*bits*dim literals (2048 at the default 4x8x64), and just
    BUILDING + ANALYZING it cost ~3.3s driver-side at sf0.1 — more than
    the executor time. Retained as the spec the pandas variant is pinned
    against (tests/test_dedup_similarity.py)."""
    return let(
        to_double_array(vec),
        lambda v: F.array(*[_signature_of(v, t, bits, dim) for t in range(n_tables)]),
    )


def _signatures_pd(n_tables: int, bits: int, dim: int):
    """Arrow-batched signature computation: ONE numpy matmul per batch
    against the SAME splitmix64 hyperplanes as ``_signature_of`` (bit b
    of table t set iff dot(v, plane_{t,b}) > 0, weight 1<<b), so the two
    implementations agree (pinned by test). Dense mat-vec is the one
    place a vectorized pandas UDF beats JVM expressions: the literal
    hyperplane tree is gone from the plan (driver analysis ~3.3s -> ms)
    and the per-row interpreted folds become a batched BLAS call.
    NULL vectors and vectors whose length differs from ``dim`` stay zero
    rows (every dot 0, no bit set, signature 0 in every table) — the
    expression emits the all-zero signature for them too (``_dense``)."""
    H = np.array(
        [_hyperplane(t, b, dim) for t in range(n_tables) for b in range(bits)]
    )  # (T*B, D)
    W = np.array([1 << b for b in range(bits)], dtype=np.int64)

    @pandas_udf(ArrayType(LongType()))
    def sig(vecs: pd.Series) -> pd.Series:
        dots = _dense(vecs, dim) @ H.T  # (N, T*B)
        bitm = (dots > 0).reshape(len(vecs), n_tables, bits)
        sigs = (bitm * W).sum(axis=2, dtype=np.int64)
        return pd.Series([row.tolist() for row in sigs])

    return sig


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    bits: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k: score only corpus vectors sharing an LSH
    bucket with the query in any of ``n_tables`` tables."""
    if dim is None:
        dim = _infer_dim(corpus, vec_col)

    def with_sigs(df: DataFrame, id_col: str, vtag: str, ntag: str) -> DataFrame:
        # double-cast vector + norm once per row (pair scoring is then a
        # single fold); spread before the (interpreted, expensive)
        # signature expression so it parallelizes beyond the scan's
        # partition count — explicit count so AQE byte-based coalescing
        # can't serialize the stage
        dn = _with_vec_norm(spread(df, F.col(id_col)), vec_col, vtag, ntag)
        sig_udf = _signatures_pd(n_tables, bits, dim)
        return dn.select(
            F.col(id_col), vtag, ntag,
            F.posexplode(sig_udf(F.col(vtag))).alias("table", "sig"),
        )

    c = with_sigs(corpus, corpus_id, "__cvec", "__cn")
    q = with_sigs(queries, query_id, "__qvec", "__qn")
    cand = (
        c.join(broadcast(q), ["table", "sig"])
        .filter(F.col(query_id) != F.col(corpus_id))
        .dropDuplicates([query_id, corpus_id])
    )
    scored = cand.select(
        query_id,
        corpus_id,
        F.round(
            _pair_cosine(F.col("__qvec"), F.col("__cvec"), F.col("__qn"), F.col("__cn")), 6
        ).alias("cosine_sim"),
    )
    return _rank_topk(scored, query_id, corpus_id, "cosine_sim", k)


def _unit_vec(vec: Column, norm: Column) -> Column:
    """L2-normalized copy of ``vec`` (NULL if the norm is zero). Unit
    vectors make every downstream cosine a single dot-product fold.
    The norm is ``let``-bound: a bare reference inside the transform
    lambda would re-evaluate it (a sqrt-of-fold) per array ELEMENT."""
    return let(
        F.nullif(norm, F.lit(0.0)), lambda n: F.transform(vec, lambda x: x / n)
    )


def _centroid_dots(u: Column, centroids: list[list[float]]) -> list[Column]:
    """dot(u, c_j) for every centroid, NULL-safe (-2.0 sentinel sorts below
    any real cosine)."""
    return [F.coalesce(_dot(u, F.array(*[F.lit(x) for x in c])), F.lit(-2.0)) for c in centroids]


def _nearest_centroid(u: Column, centroids: list[list[float]]) -> Column:
    """argmax_j dot(u, c_j); ties break to the smallest j (struct max on
    (dot, -j)). ``u`` is let-bound so the n_centroids dot folds read a
    slot, not re-evaluate the vector expression."""

    def body(uu: Column) -> Column:
        structs = [
            F.struct(d.alias("d"), F.lit(-j).alias("nj"))
            for j, d in enumerate(_centroid_dots(uu, centroids))
        ]
        return -F.array_max(F.array(*structs))["nj"]

    return let(u, body).cast("int")


def _centroid_topn_pd(centroids: list[list[float]], n: int):
    """Arrow-batched top-n centroid selection: ONE numpy matmul per batch
    against the centroid matrix, stable argsort so ties break to the
    smallest centroid index — the same contract as the expression-level
    ``_nearest_centroid`` (pinned by test). Same rationale as
    ``_signatures_pd``: the expression tree embeds n_centroids*dim
    literals (1024 at the 16x64 default) and is REBUILT with fresh
    literals every Lloyd iteration, so the driver re-analyzes and janino
    re-compiles a ~100 KB expression per pass — more time than the
    executors spend. NULL vectors and vectors whose length differs from
    ``dim`` stay zero rows: every dot ties at 0 and the stable sort
    yields [0..n-1], matching the expression path, where zip_with's NULL
    padding nulls the whole dot (sentinel -2.0 for every centroid) on ANY
    length mismatch — a partial dot over the overlapping prefix would
    assign ragged embeddings to different IVF cells than the spec."""
    C = np.asarray(centroids, dtype=np.float64)  # (K, D)
    dim = C.shape[1]

    @pandas_udf(ArrayType(IntegerType()))
    def probe(vecs: pd.Series) -> pd.Series:
        order = np.argsort(-(_dense(vecs, dim) @ C.T), axis=1, kind="stable")[:, :n]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return probe


def _probe_cells(qu, C: np.ndarray, n: int) -> np.ndarray:
    """Driver-side mirror of ``_centroid_topn_pd`` for one query vector:
    its n nearest cells by stable argsort. A NULL or ragged vector is a
    zero row; NULL elements (a zero-norm vector's __u is [NULL]*dim, not
    a NULL array) map to nan through np.asarray — exactly what the batch
    matmul sees, so the all-nan dots pick the same [0..n-1]."""
    v = np.zeros(C.shape[1])
    if qu is not None and len(qu) == C.shape[1]:
        v = np.asarray(qu, dtype=np.float64)
    return np.argsort(-(v @ C.T), kind="stable")[:n]


def _residual(v, C: np.ndarray) -> list[float]:
    """``v - C[cell]`` for v's nearest cell (``_probe_cells`` n=1)."""
    a = np.asarray(v, dtype=np.float64)
    return (a - C[int(np.argsort(-(a @ C.T), kind="stable")[0])]).tolist()


def _residual_pd(centroids: list[list[float]], dim: int):
    """Arrow-batched IVF residual: assign each vector its coarse cell
    (the same stable-argsort contract as ``_centroid_topn_pd`` n=1) and
    return ``v - centroid[cell]``. The FAISS-default encoding substrate:
    residuals concentrate around zero once the coarse structure is
    removed, so a fixed 2^-15 quantization grid spends its levels on the
    part of the vector PQ actually has to explain (recall per bit)."""
    C = np.asarray(centroids, dtype=np.float64)

    @pandas_udf(ArrayType(DoubleType()))
    def resid(vecs: pd.Series) -> pd.Series:
        return pd.Series(
            [None if v is None or len(v) != dim else _residual(v, C) for v in vecs]
        )

    return resid


def _unit_rows(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, __u, __d): each row's unit vector and raw length."""
    dn = _with_vec_norm(df.select(id_col, vec_col), vec_col, "__v", "__n")
    return dn.select(
        id_col,
        _unit_vec(F.col("__v"), F.col("__n")).alias("__u"),
        F.size("__v").alias("__d"),
    )


def _ivf_prep(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """IVF prep: (id, __u) for EVERY row — NULL, ragged and zero-norm
    vectors included, so each still lands in a cell. Projected BELOW the
    exchange barrier: the spread shuffle materializes __u, so downstream
    reads (centroid dots per row, repeated across Lloyd jobs) are
    attribute reads, never re-evaluations of the normalize expression."""
    return spread(_unit_rows(df, id_col, vec_col).drop("__d"), F.col(id_col))


def _ivfpq_prep(df: DataFrame, id_col: str, vec_col: str, dim: int) -> DataFrame:
    """IVF-PQ prep: (id, __u) with NULL / ragged / zero-norm rows DROPPED
    from training, encoding and results (zero norm surfaces as NULL
    elements from x/nullif(0), so element 0 is probed too), spread for
    parallel downstream UDFs."""
    u = _unit_rows(df, id_col, vec_col)
    return spread(
        u.filter(
            F.col("__u").isNotNull()
            & (F.col("__d") == dim)
            & F.col("__u")[0].isNotNull()
        ).drop("__d"),
        F.col(id_col),
    )


def _normalize(v: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v] if n > 0 else list(v)


def _hash_seeds(df: DataFrame, id_col: str, n: int) -> list:
    """The n rows with the smallest (xxhash64(string id), id): an
    engine-stable seed choice, independent of partitioning."""
    return (
        df.orderBy(F.xxhash64(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n)
        .collect()
    )


def _train_coarse(
    c: DataFrame, seed_vecs: list, dim: int, iters: int
) -> list[list[float]]:
    """The coarse quantizer both IVF tiers train: one normalized centroid
    per seed vector, then ``iters`` fixed-point Lloyd passes over the
    prepped (id, __u) frame ``c`` (each tier keeps its own prep and seed
    rule). A corpus with fewer seeds than n_centroids trains that many
    cells.

    Assignment runs through the Arrow-batched matmul UDF
    (_centroid_topn_pd): the literal-centroid expression alternative
    (_nearest_centroid, kept as the pinned spec) is rebuilt with fresh
    literals every Lloyd pass, paying driver analysis + janino
    compilation that dwarfs the executor work (measured 5.2s -> ~2s for
    the full ann_ivf query at sf0.1)."""
    cents = [_normalize([float(x) for x in v]) for v in seed_vecs]
    for _ in range(iters):
        nearest = _centroid_topn_pd(cents, 1)
        sums = (
            c.select(F.element_at(nearest(F.col("__u")), 1).alias("cid"), "__u")
            .select("cid", F.posexplode("__u").alias("pos", "x"))
            # fixed-point: floor(x * 2^30) as long — order-independent
            # integer sums make the trained centroids reproducible under
            # ANY partitioning/reduce order (see ivf_topk's docstring)
            .groupBy("cid", "pos")
            .agg(
                F.sum(F.floor(F.col("x") * F.lit(float(IVF_SCALE))).cast("long")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        means: dict[int, list[float]] = {}
        for row in sums:
            means.setdefault(row["cid"], [0.0] * dim)[row["pos"]] = (
                row["s"] / IVF_SCALE / row["n"]
            )
        # empty cells keep their previous centroid
        cents = [_normalize(means.get(j, cents[j])) for j in range(len(cents))]
    return cents


def train_ivf(
    corpus: DataFrame,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iters: int = 2,
    dim: int | None = None,
    _prepped: DataFrame | None = None,
) -> list[list[float]]:
    """Train the IVF coarse quantizer only, returned as the plain
    centroid list (None on an empty/all-invalid corpus) — the frozen
    model ``encode_ivf``/``ivf_search`` and a SemDeDup generation
    (streaming/semdedup.py, whose model it is) apply without
    retraining. Deterministic
    across any partitioning: hash-ordered seeds, stable-argsort
    assignment, int64 fixed-point cell sums (see ivf_topk's docstring
    for the full argument)."""
    if dim is None:
        dim = _infer_dim(corpus, vec_col)
    # seed scan skips invalid vectors (NULL / wrong length / NULL
    # elements): they can never train a centroid — normalize() has no
    # value for them — and a corpus of ONLY invalid vectors is the
    # no-model case.
    valid = (
        F.col(vec_col).isNotNull()
        & (F.size(F.col(vec_col)) == dim)
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    )
    seeds = _hash_seeds(corpus.select(corpus_id, vec_col).filter(valid), corpus_id, n_centroids)
    if not seeds:
        return None
    c = _ivf_prep(corpus, corpus_id, vec_col).persist() if _prepped is None else _prepped
    try:
        return _train_coarse(c, [row[1] for row in seeds], dim, iters)
    finally:
        if _prepped is None:
            c.unpersist()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate cosine top-k: spherical k-means
    partitions the corpus into ``n_centroids`` cells; each query scores only
    the ``n_probe`` cells nearest its own vector. The in-query chain
    ``train_ivf`` -> ``encode_ivf`` -> ``ivf_search``, so serving from a
    SemDeDup generation is the same code path (and, as in ivfpq_topk, the
    query set is probed driver-side: keep it interactive-small).

    Everything is deterministic — INCLUDING across partitionings: seeds
    are the ``n_centroids`` corpus rows with the smallest ``xxhash64(id)``
    (engine-stable), assignment ties break to the lowest centroid index,
    and the Lloyd per-cell sums accumulate FIXED-POINT longs (unit
    coordinates floored at 2^-30 resolution), not doubles. Integer
    addition is associative-commutative, so the trained centroids are
    bit-identical whether the corpus is summed by 32 local threads or
    1000 executors in any reduce order — float partial-sum ordering is
    the one nondeterminism a distributed mean otherwise has. That makes
    the whole IVF result a pure function of the input table, which is
    what lets q_ann_ivf carry a golden-fixture oracle
    (functions/refhash.ref_ivf_probes mirrors training bit-for-bit).
    Overflow headroom: |coordinate| <= 1, so a cell of n rows sums to
    |s| <= n * 2^30 — ANSI mode faults (loudly) past ~2^32 rows per
    cell, far beyond any single cell this engine would train on before
    sharding the k-means.

    Scale shape (the reason IVF exists next to LSH): training touches the
    corpus ``iters`` times map-side with a (n_centroids × dim)-row aggregate
    back to the driver — no shuffle of vectors; search is an equi-join on
    the centroid id, so per-query work drops from |corpus| to
    ~n_probe/n_centroids of it. At 100 TB the assignment (id, cid) is
    written once as a SemDeDup generation's state (range-partitioned on
    cid, streaming/semdedup.py) and reused across query batches, each
    probe a file-pruned read; recall/compute trades via ``n_probe``.

    Cache lifecycle: the returned frame is lazy and REFERENCES the
    cached prepped corpus (training and the index both read it), so the
    cache outlives the call; the next ivf_topk call releases it
    (``partitioning.cache``), as in ivfpq_topk.
    """
    if dim is None:
        dim = _infer_dim(corpus, vec_col)
    # persist: the prepped corpus (id, unit-vec) is consumed iters+1 times
    # (every Lloyd pass + the final assignment); without it each pass
    # re-runs scan -> normalize -> spread.
    c = cache(_ivf_prep(corpus, corpus_id, vec_col), owner="similarity.ivf_topk")
    cents = train_ivf(corpus, corpus_id, vec_col, n_centroids, iters, dim, _prepped=c)
    if cents is None:  # empty/all-NULL corpus
        return _no_hits(corpus.sparkSession, query_id, corpus_id)
    index = encode_ivf(corpus, cents, id_col=corpus_id, vec_col=vec_col, _prepped=c)
    return ivf_search(
        index, queries, cents, k=k, corpus_id=corpus_id, query_id=query_id,
        vec_col=vec_col, n_probe=n_probe,
    )


def encode_ivf(
    df: DataFrame,
    cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _prepped: DataFrame | None = None,
) -> DataFrame:
    """Apply a FROZEN IVF coarse quantizer: (id, __u, cid) rows — the
    "add" half of the IVF train/add split. This is what a batch job runs
    to (re)build the persisted assignment (a SemDeDup generation's
    state, streaming/semdedup.py).

    cid must be a GENERATOR output, not a projection over the UDF: when
    queries share lineage with the corpus (self-search), constraint
    inference synthesizes isnotnull/equality filters from the join key,
    and a filter containing a PythonUDF cannot be evaluated by the
    interpreted predicate evaluator. explode() makes cid a plain
    attribute, so inferred filters reference the attribute only."""
    c = _prepped if _prepped is not None else _ivf_prep(df, id_col, vec_col)
    nearest = _centroid_topn_pd(cents, 1)
    return c.select(id_col, "__u", F.explode(nearest(F.col("__u"))).alias("cid"))


def ivf_search(
    index: DataFrame,
    queries: DataFrame,
    cents: list[list[float]],
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    index_for_cids=None,
) -> DataFrame:
    """Query a PREBUILT IVF assignment table: ``index`` is the
    (corpus_id, __u, cid) frame ``encode_ivf`` builds — this path never
    retrains. Queries are interactive-small by contract (the same
    collect the IVF-PQ serving path documents): their probes are
    computed driver-side (``_probe_cells``), so the probe lands on the
    index scan BOTH as a broadcast equi-join AND as a literal
    ``cid IN (...)`` predicate. Scoring is the sequential ``_dot``
    cosine fold over unit vectors.

    ``index_for_cids``: the provider contract of ``ivfpq_search`` — an
    optional ``cids -> DataFrame`` invoked with the driver-side probed
    cell set INSTEAD of filtering ``index`` (which may then be None).
    A SemDeDup generation serves it (``semdedup.state_assignments``),
    turning the probe into txlog file skipping, so files holding no
    probed cell are never opened. Bit-identical by construction: the
    provider must return exactly the rows
    ``index.filter(cid.isin(probed))`` would."""
    spark = queries.sparkSession
    # no model (empty/all-NULL corpus at build time): no query is probed
    qrows = _ivf_prep(queries, query_id, vec_col).collect() if cents else []
    if not qrows:
        return _no_hits(spark, query_id, corpus_id)
    C = np.asarray(cents, dtype=np.float64)
    # __qu passes through VERBATIM (None/NULL-element/ragged included) so
    # the scoring fold sees exactly what the Spark-side prep produced —
    # NULL semantics stay identical
    probe_rows = [
        (row[query_id], int(cid), row["__u"] if row["__u"] is None else list(row["__u"]))
        for row in qrows
        for cid in _probe_cells(row["__u"], C, n_probe)
    ]
    q_probe = spark.createDataFrame(
        probe_rows, f"{query_id} long, cid int, __qu array<double>"
    )
    probed_cids = sorted({cid for _, cid, _ in probe_rows})
    if index_for_cids is not None:
        pruned = index_for_cids(probed_cids)
    else:
        pruned = index.filter(F.col("cid").isin(probed_cids))
    scored = (
        pruned.join(broadcast(q_probe), "cid")
        .filter(F.col(query_id) != F.col(corpus_id))
        .select(
            query_id,
            corpus_id,
            F.round(_dot(F.col("__qu"), F.col("__u")), 6).alias("cosine_sim"),
        )
    )
    return _rank_topk(scored, query_id, corpus_id, "cosine_sim", k)


def _round6_halfup(x: float) -> float:
    """Mirror of Spark's ``F.round(col, 6)`` on doubles (BigDecimal of the
    shortest decimal rendering, HALF_UP) — ``repr`` gives the same shortest
    round-trip string as Java's ``Double.toString`` for every finite value,
    so the two roundings agree everywhere Python's banker's ``round`` would
    not."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def semantic_dedup_pairs(
    index: DataFrame,
    cents: list[list[float]],
    threshold: float = 0.95,
    corpus_id: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication through a coarse k-means clustering — candidate pairs
    are generated ONLY within a cluster, so the pairwise work is
    cluster-bounded (sum of c_i^2, never n^2), and each duplicate pair is
    resolved by the paper's keep rule: KEEP the member with the LOWER
    cosine to its cluster centroid (the example least typical of the
    cluster — preserving diversity), tie-broken by id. This is the
    embedding-space sibling of ``embedding_near_dup_pairs``: LSH bands
    answer "which pairs are near-identical anywhere"; SemDeDup answers
    "which cluster members say the same thing" and prescribes which one
    survives, which is the form the big LLM-corpus curation pipelines
    (SemDeDup on LAION/C4) actually run.

    ``index`` is the (corpus_id, __u, cid) assignment frame that
    ``encode_ivf`` builds, or a SemDeDup generation's state read through
    ``semdedup.state_assignments`` — training is NOT repeated here; the
    frozen ``cents`` are only needed for the keep rule's centroid dots.
    Plan shape: one shuffle on cid (the groupBy), then per-cluster
    Arrow-batched numpy matmuls generate candidates (row-blocked so
    memory stays block x cluster, not cluster^2 at once). At 100 TB the
    knob is
    n_centroids ∝ n — cluster sizes stay bounded (the paper runs ~10^5
    clusters), clusters parallelize perfectly, and nothing corpus-scale
    ever crosses a partition boundary. Scoring determinism: candidate
    dots come from float64 BLAS; the emitted cosine is rounded by the
    JVM (house F.round) and the keep decision compares
    (round6(ccos), id) — round6 via the HALF_UP mirror — so the DuckDB
    oracle (which re-derives both dots with list_dot_product over the
    SAME unit vectors and fixture-frozen centroids) agrees except when a
    dot sits within ~1e-15 of a 1e-6 rounding boundary, the same
    accepted boundary class as every cosine oracle in this repo; the
    planted-pair corpus keeps real decision gaps at ~1e-5.

    Returns (cid, keep_id, drop_id, cosine_sim) — one row per
    within-cluster pair at or above ``threshold`` (after rounding).
    Resolve to a deduplicated corpus with ``semantic_dedup_keep``.
    """
    spark = index.sparkSession
    out_schema = f"cid int, keep_id long, drop_id long, cosine_sim double"
    if not cents:
        return spark.createDataFrame([], out_schema)
    C = np.asarray(cents, dtype=np.float64)
    dim = C.shape[1]
    # candidate margin: BLAS dots can differ from the oracle's sequential
    # fold by ~1e-15; generate candidates a hair below the threshold and
    # let the JVM-side rounded filter make the final call
    eps = 1e-9
    thr = float(threshold)

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"cid": [], "keep_id": [], "drop_id": [], "cosine_sim": []}
            )
        cid = int(pdf["cid"].iloc[0])
        cvec = C[cid]
        ids = pdf[corpus_id].to_numpy()
        M, valid = _stack_valid(pdf["__u"], dim)
        ccos = M @ cvec
        out_cid, out_keep, out_drop, out_cos = [], [], [], []
        # row-blocked pairwise: memory is block x n, never n x n
        block = 1024
        for s in range(0, n, block):
            e = min(s + block, n)
            D = M[s:e] @ M.T
            bi, bj = np.nonzero(D >= thr - eps)
            for i, j in zip(bi + s, bj):
                if j <= i or not (valid[i] and valid[j]):
                    continue
                ka = (_round6_halfup(float(ccos[i])), int(ids[i]))
                kb = (_round6_halfup(float(ccos[j])), int(ids[j]))
                keep, drop = (i, j) if ka <= kb else (j, i)
                out_cid.append(cid)
                out_keep.append(int(ids[keep]))
                out_drop.append(int(ids[drop]))
                out_cos.append(float(D[i - s, j]))
        return pd.DataFrame(
            {
                "cid": pd.Series(out_cid, dtype="int32"),
                "keep_id": pd.Series(out_keep, dtype="int64"),
                "drop_id": pd.Series(out_drop, dtype="int64"),
                "cosine_sim": pd.Series(out_cos, dtype="float64"),
            }
        )

    pairs = index.select(corpus_id, "__u", F.col("cid").cast("int").alias("cid")).groupBy(
        "cid"
    ).applyInPandas(per_cluster, out_schema)
    return pairs.select(
        "cid", "keep_id", "drop_id", F.round("cosine_sim", 6).alias("cosine_sim")
    ).filter(F.col("cosine_sim") >= threshold)


def semantic_dedup_keep(
    index: DataFrame,
    cents: list[list[float]],
    threshold: float = 0.95,
    corpus_id: str = "vec_id",
) -> DataFrame:
    """The resolved SemDeDup corpus: every id minus the distinct drop set
    (a doc is dropped if ANY within-cluster pair votes it out — transitive
    groups therefore keep exactly their minimum-(ccos, id) member when the
    group is a clique, the paper's behavior). One left_anti join; the drop
    side is |pairs|-bounded."""
    pairs = semantic_dedup_pairs(index, cents, threshold, corpus_id=corpus_id)
    drops = pairs.select(F.col("drop_id").alias(corpus_id)).distinct()
    return index.select(corpus_id).join(drops, corpus_id, "left_anti")


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    n_tables: int = 8,
    exact: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """Pairs of near-identical embeddings (cosine >= threshold).

    The default (banded) path goes through LSH buckets so the pairwise
    work is bucket-bounded — the only shape that survives a corpus-scale
    self-join. ``exact=True`` is the O(n^2) verification mode (recall-gate
    tests and small corpora only). Band geometry trades recall for
    candidate volume: more ``bits`` prunes harder (use at corpus scale
    with high thresholds), more ``n_tables`` recovers recall (needed when
    the threshold is low — per-bit collision probability is
    1 - acos(t)/pi, so at t=0.4 it is ~0.63 and narrow-deep bands miss
    most true pairs). The graded query pins 16x4; results are
    deterministic either way (seeded splitmix64 hyperplanes), which is
    what lets the banded path carry a golden-fixture DuckDB oracle
    (tools/make_golden_neardup.py + refhash.ref_lsh_sigs).
    """
    c = corpus.select(F.col(id_col), F.col(vec_col))
    # double-cast vectors + norms computed once per ROW (not per pair);
    # pair scoring below is then a single dot-product fold.
    cn = _with_vec_norm(c, vec_col, "__v", "__n")

    def side(t: str) -> DataFrame:
        return cn.select(
            F.col(id_col).alias(f"id_{t}"),
            F.col("__v").alias(f"__v{t}"),
            F.col("__n").alias(f"__n{t}"),
        )

    if exact:
        # spread the O(n^2) nested-loop probe across cores (a small-file
        # scan would run it in one task; explicit count so AQE can't
        # coalesce the byte-small but CPU-heavy exchange)
        pairs = spread(side("a"), "id_a").join(side("b"), F.col("id_a") < F.col("id_b"))
    else:
        if dim is None:
            dim = _infer_dim(c, vec_col)
        sig_udf = _signatures_pd(n_tables, bits, dim)
        # candidate generation carries ONLY (table, sig, id): the bucket
        # self-join and the pair dedup shuffle 16-byte rows, not vectors
        # (r7 — with vectors inline, a dense-bucket regime shuffled
        # ~1 KB/candidate and filled the disk at sf1). Vectors re-join
        # once per DEDUPED pair for scoring.
        banded = spread(cn, F.col(id_col)).select(
            F.col(id_col),
            F.posexplode(sig_udf(F.col("__v"))).alias("table", "sig"),
        )
        a, b = banded.alias("a"), banded.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.table") == F.col("b.table"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        pairs = cand.join(side("a"), "id_a").join(side("b"), "id_b")
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(
                _pair_cosine(F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")), 6
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector int8 scalar quantization — the standard memory-scaling
    lever for ANN at corpus scale (FAISS ``SQ8``; 4× smaller than float32,
    which at 100 TB of embeddings is the difference between an index that
    fits executor memory and one that doesn't).

    Per vector: ``scale = (max - min) / 255``, ``q_i = floor((x_i - min) /
    scale + 0.5) - 128`` ∈ [-128, 127]. ``floor(x + 0.5)`` rather than
    ``round`` because round-half-even vs half-up differs between engines
    (Spark vs DuckDB oracle) while floor is unambiguous. Constant vectors
    (max == min) get scale 0 and quantize to all -128, reconstructing
    exactly to the constant.

    Returns one row per vector with the quantization parameters, an exact
    integer checksum of the codes (``q_sum`` — any cross-engine drift in
    the arithmetic shows up as an integer mismatch, not a float blur), and
    the reconstruction error (``mse``). The codes themselves stay inside
    the expression (arrays are produced and consumed in one projection) —
    a real pipeline would write them; the stats row is the auditable
    artifact.

    All higher-order array expressions on doubles — per-row, no shuffle,
    no Python; the pass streams at scan speed.
    """
    v = to_double_array(F.col(vec_col))
    return df.select(
        F.col(id_col),
        v.alias("__v"),
        F.array_min(v).alias("vmin"),
        F.array_max(v).alias("vmax"),
    ).select(
        F.col(id_col),
        F.size("__v").alias("dim"),
        "vmin",
        "vmax",
        ((F.col("vmax") - F.col("vmin")) / F.lit(255.0)).alias("scale"),
        let(
            (F.col("vmax") - F.col("vmin")) / F.lit(255.0),
            lambda scale: let(
                # codes: array<long> in [-128, 127]
                F.when(scale == 0, F.transform("__v", lambda x: F.lit(-128).cast("long"))).otherwise(
                    F.transform(
                        "__v",
                        lambda x: F.floor((x - F.col("vmin")) / scale + F.lit(0.5))
                        - F.lit(128),
                    )
                ),
                lambda q: F.struct(
                    F.aggregate(q, F.lit(0).cast("long"), lambda a, c: a + c).alias(
                        "q_sum"
                    ),
                    (
                        F.aggregate(
                            F.zip_with(
                                "__v",
                                q,
                                lambda x, c: let(
                                    (c + F.lit(128)).cast("double") * scale
                                    + F.col("vmin")
                                    - x,
                                    lambda e: e * e,
                                ),
                            ),
                            F.lit(0.0),
                            lambda a, e: a + e,
                        )
                        / F.size("__v")
                    ).alias("mse"),
                ),
            ),
        ).alias("__s"),
    ).select(
        id_col,
        "dim",
        "vmin",
        "vmax",
        "scale",
        F.col("__s.q_sum").alias("q_sum"),
        F.col("__s.mse").alias("mse"),
    )


def _pq_codes_pd(cents_q: list[list[list[int]]], dim: int):
    """Arrow-batched PQ assignment: per subspace, argmin over the EXACT
    int64 rank ``sum(cq^2) - 2*xq.cq`` of 2^-15-quantized coordinates
    (np.argmin takes the first minimum — ties to the smallest centroid
    index, the refhash.ref_pq_topk spec). Integer matmuls stay integer in
    numpy, so there is no float rounding anywhere in the decision —
    unlike the IVF probe UDF, no argsort-margin guard is needed."""
    m = len(cents_q)
    dsub = dim // m
    C = [np.asarray(cs, dtype=np.int64) for cs in cents_q]        # (ksub, dsub)
    C2 = [(c * c).sum(axis=1) for c in C]                          # (ksub,)

    @pandas_udf(ArrayType(IntegerType()))
    def codes(vecs: pd.Series) -> pd.Series:
        Xq = np.floor(_dense(vecs, dim) * float(PQ_COORD_SCALE)).astype(np.int64)  # (N, dim)
        cols = []
        for s in range(m):
            S = Xq[:, s * dsub : (s + 1) * dsub]                   # (N, dsub)
            R = C2[s][None, :] - 2 * (S @ C[s].T)                  # (N, ksub) int64
            cols.append(np.argmin(R, axis=1).astype("int32"))
        out = np.stack(cols, axis=1)                               # (N, m)
        return pd.Series([row.tolist() for row in out])

    return codes


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = PQ_ITERS,
    dim: int | None = None,
    rerank: int = PQ_RERANK,
) -> DataFrame:
    """Product-quantization ANN (Jegou et al., PAMI'11) with asymmetric
    distance computation plus refinement (ADC+R): the corpus is
    compressed to ``m`` small centroid codes per vector (m*log2(ksub)
    bits — 8 bytes at the 16x16 default, vs 256 bytes of float32); each
    query scores ALL codes through a per-query lookup table, keeps a
    ``rerank * k`` shortlist, and refines it against the quantized full
    vectors. Returns (query_id, vec_id, score_fp, rank): ``score_fp`` is
    the refined dot of the two 2^-15-quantized unit vectors (an exact
    int64 in 2^-30 units ~ cosine).

    Flat PQ is the one-cell case of IVF-PQ, so this is
    ``ivfpq_topk(n_centroids=1, n_probe=1)``: the seed scan takes
    max(1, ksub) = ksub rows, every vector lands in cell 0 whatever the
    coarse centroid is (so the coarse Lloyd is skipped, ``ivf_iters=0``),
    and the raw-mode ADC over the single probed cell is the full-corpus
    LUT sweep. NULL / ragged / zero-norm vectors are excluded from
    training, encoding and results.

    Everything INCLUDING the ranking is integer-exact: unit-vector
    coordinates and centroids quantize to 2^-15 before any decision, the
    k-means assignment rank and the ADC scores are int64 arithmetic, and
    the Lloyd sums are 2^-30 fixed-point longs. Identical input doubles
    therefore give bit-identical codes and ranks under ANY partitioning —
    which is what lets q_ann_pq carry a golden-fixture oracle
    (functions/refhash.ref_pq_topk replays the whole
    train->encode->score chain in pure Python).

    Scale shape (the reason PQ exists next to IVF): IVF prunes WHICH
    vectors a query touches; PQ shrinks WHAT a scan reads — the encoded
    corpus is ~64x smaller than the raw vectors, so a full-corpus ADC
    sweep is a scan over bytes-per-vector, not floats-per-dimension, and
    the per-(query, vector) work is ``m`` table lookups. Training is
    ``iters`` map-side passes with a (m x ksub x dsub)-row fixed-point
    aggregate to the driver; encoding is one Arrow pass; scoring
    broadcasts the per-query LUTs and never shuffles the corpus.
    """
    return ivfpq_topk(
        corpus, queries, k=k, corpus_id=corpus_id, query_id=query_id,
        vec_col=vec_col, n_centroids=1, n_probe=1, ivf_iters=0, m=m,
        ksub=ksub, pq_iters=iters, dim=dim, rerank=rerank,
    )


# Below this many queries the plain per-query window IS the fast
# shortlist: the scored rows are narrow, the sort is one exchange, and
# everything stays in whole-stage codegen. The bounded pandas pass wins
# only when |Q| x N stops fitting one comfortable sort — measured at
# bench scale (|Q|=10) the Arrow hop costs ~1s MORE than the window, so
# the operator picks per call based on the (driver-known) query count.
SHORTLIST_WINDOW_MAX_Q = 64


def _shortlist_topn(
    scored: DataFrame, query_id: str, corpus_id: str, n: int, n_queries: int
) -> DataFrame:
    """Exact per-query top-n by (__adc desc, id asc). For
    interactive-small query sets (<= SHORTLIST_WINDOW_MAX_Q) this is the
    plain row_number window. Beyond that it avoids the full |Q| x N
    global sort: a per-partition bounded pass (pandas lexsort + head per
    batch, merged per partition) keeps at most n candidates per query,
    then one window over the <= n_partitions * |Q| * n survivors picks
    the global top-n. Identical output either way — the comparator is
    total (ids unique), and any global top-n row is necessarily in its
    partition's top-n. (r6 VERDICT stretch item: the old shape always
    sorted all |Q| x N ADC rows.)"""

    def top(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.sort_values(
            ["__adc", corpus_id], ascending=[False, True], kind="mergesort"
        ).groupby(query_id, sort=False).head(n)

    def part_topn(batches):
        acc = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            acc = top(pdf) if acc is None else pd.concat([acc, top(pdf)], ignore_index=True)
            # re-bound the accumulator so partition state stays O(|Q| * n)
            if len(acc) > 4 * n * max(acc[query_id].nunique(), 1):
                acc = top(acc)
        if acc is not None:
            yield top(acc)

    survivors = scored
    if n_queries > SHORTLIST_WINDOW_MAX_Q:
        cols = [query_id, corpus_id, "__adc"]
        survivors = scored.select(*cols).mapInPandas(part_topn, scored.select(*cols).schema)
    return _rank_within(survivors, query_id, "__adc", corpus_id, n, "__sr").select(
        query_id, corpus_id
    )


def _train_pq(
    c: DataFrame, seed_vecs: list, dim: int, m: int, iters: int
) -> list[list[list[int]]]:
    """The PQ codebooks: per subspace, one centroid per seed vector
    slice, then ``iters`` integer-rank Lloyd passes over ``c``'s __u
    (2^-15-quantized argmin over exact int64 ranks, 2^-15 fixed-point
    sums). Returns the quantized codebooks ``cq[s][j]``."""
    dsub = dim // m
    cents = [[v[s * dsub : (s + 1) * dsub] for v in seed_vecs] for s in range(m)]

    def quantized() -> list[list[list[int]]]:
        return [
            [[math.floor(x * float(PQ_COORD_SCALE)) for x in cj] for cj in cs]
            for cs in cents
        ]

    for _ in range(iters):
        codes_udf = _pq_codes_pd(quantized(), dim)
        sums = (
            c.select(F.posexplode(codes_udf(F.col("__u"))).alias("s", "cid"), "__u")
            .select(
                "s",
                "cid",
                F.posexplode(
                    F.slice(F.col("__u"), F.col("s") * F.lit(dsub) + F.lit(1), F.lit(dsub))
                ).alias("pos", "x"),
            )
            # fixed-point longs: order-independent integer sums, same
            # reproducibility argument as ivf_topk's Lloyd stats
            .groupBy("s", "cid", "pos")
            .agg(
                F.sum(F.floor(F.col("x") * F.lit(float(PQ_SUM_SCALE))).cast("long")).alias("t"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        acc: dict[tuple[int, int], list[float]] = {}
        cnt: dict[tuple[int, int], int] = {}
        for row in sums:
            acc.setdefault((row["s"], row["cid"]), [0.0] * dsub)[row["pos"]] = (
                row["t"] / float(PQ_SUM_SCALE)
            )
            cnt[(row["s"], row["cid"])] = row["n"]
        for s in range(m):
            for j in range(len(seed_vecs)):
                n = cnt.get((s, j), 0)
                if n:  # empty cells keep their previous centroid
                    cents[s][j] = [v / n for v in acc[(s, j)]]
    return quantized()


def train_ivfpq(
    corpus: DataFrame,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    ivf_iters: int = 2,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    pq_iters: int = PQ_ITERS,
    dim: int | None = None,
    _prepped: DataFrame | None = None,
    residual: bool = False,
):
    """Train the IVF-PQ model only: returns (coarse, cq) — the coarse
    centroids (floats) and the 2^-15-quantized PQ codebooks — or
    (None, None) on an all-invalid corpus. This is the offline half of
    the FAISS train/add split: ``encode_ivfpq`` (and the generational
    vector-index maintainer) apply a FROZEN model to new vectors without
    retraining. Both trainers are shared: the coarse quantizer is
    ``_train_coarse`` (IVF's fixed-point Lloyd), the codebooks
    ``_train_pq`` (integer-rank Lloyd).

    ``residual=True`` (r8, the FAISS IVFPQ default) trains the codebooks
    on the IVF RESIDUALS ``u - coarse[cell(u)]`` instead of the raw unit
    vectors: residuals concentrate near zero once the coarse structure is
    removed, so the fixed quantization grid buys more recall per bit at
    high n_centroids. The whole chain (encode/search) must use the same
    flag. Raw-vector mode stays the GRADED path — it keeps the chain a
    pure function the golden fixtures replay (similarity.ivfpq_topk
    docstring); residual mode is gated by the planted-neighbor recall
    test (tests/test_recall_gates.py) and documented in SCALE.md."""
    if dim is None:
        dim = _infer_dim(corpus, vec_col)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m} subspaces")
    own = _prepped is None
    c = _ivfpq_prep(corpus, corpus_id, vec_col, dim).persist() if own else _prepped
    try:
        # one seed scan feeds BOTH trainers (same engine-stable order; the
        # coarse quantizer takes the first n_centroids, PQ the first ksub)
        seeds = [row["__u"] for row in _hash_seeds(c, corpus_id, max(n_centroids, ksub))]
        if not seeds:
            return None, None
        coarse = _train_coarse(c, seeds[:n_centroids], dim, ivf_iters)
        if residual:
            # codebooks learn the residual distribution: same Lloyd, same
            # seed ROWS, but the training column (and the seed vectors) are
            # u - coarse[cell(u)] under the now-frozen coarse quantizer
            C = np.asarray(coarse, dtype=np.float64)
            c_pq = c.select(corpus_id, _residual_pd(coarse, dim)(F.col("__u")).alias("__u"))
            pq_seeds = [_residual(v, C) for v in seeds[:ksub]]
        else:
            c_pq = c
            pq_seeds = [[float(x) for x in v] for v in seeds[:ksub]]
        return coarse, _train_pq(c_pq, pq_seeds, dim, m, pq_iters)
    finally:
        if own:
            c.unpersist()


def encode_ivfpq(
    df: DataFrame,
    coarse: list[list[float]],
    cq: list[list[list[int]]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
    _prepped: DataFrame | None = None,
) -> DataFrame:
    """Apply a FROZEN IVF-PQ model: (id, cid, codes) rows for every valid
    vector — the "add" half of the train/add split. One Arrow pass per
    vector (cell assignment matmul + per-subspace integer-rank argmin),
    no shuffle beyond the spread; this is what the vector-index maintainer
    runs per micro-batch, and what a generation build runs to encode the
    persisted, cid-clustered index table. With ``residual=True`` the
    codes quantize ``u - coarse[cid]`` (the cell stays the raw-vector
    assignment — same argsort either way); pass the flag the model was
    trained with. cid and codes are generator outputs (see encode_ivf)."""
    u = _prepped if _prepped is not None else _ivfpq_prep(df, id_col, vec_col, dim)
    nearest = _centroid_topn_pd(coarse, 1)
    codes_udf = _pq_codes_pd(cq, dim)
    assigned = u.select(id_col, "__u", F.explode(nearest(F.col("__u"))).alias("cid"))
    enc_col = (
        codes_udf(_residual_pd(coarse, dim)(F.col("__u")))
        if residual
        else codes_udf(F.col("__u"))
    )
    return assigned.select(
        id_col, "cid", F.explode(F.array(enc_col)).alias("codes")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    ivf_iters: int = 2,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    pq_iters: int = PQ_ITERS,
    dim: int | None = None,
    rerank: int = PQ_RERANK,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ: the standard sublinear shape for corpus-scale vector
    search (Jegou et al., PAMI'11, the FAISS ``IVFx,PQy`` index) —
    composes the repo's two ANN tiers so each fixes the other's scale
    gap: ``ivf_topk`` prunes WHICH vectors a query touches but scans full
    float vectors inside probed cells; ``pq_topk`` shrinks WHAT a scan
    reads (8 B codes) but sweeps every code per query. Here the ADC sweep
    runs only over the ``n_probe`` probed cells' codes: per-query work is
    ~(n_probe/n_centroids) * |corpus| * m table lookups, over 8-byte
    codes. At 100 TB: codes+cid persist as a table bucketed by cid (the
    probe is then a partition-pruned scan), centroids/codebooks are
    metadata-scale broadcasts, and n_probe trades recall for compute.
    The in-query chain is ``train_ivfpq`` -> ``encode_ivfpq`` ->
    ``ivfpq_search``, the same code that serves a persisted index.

    Encoding (``residual=``): the default encodes the RAW unit vectors.
    Raw-vector encoding composes the two existing bit-exact specs
    unchanged, so training, assignment, ADC and refinement stay pure
    functions of the input table — which is what lets q_ann_ivfpq carry
    a golden-fixture oracle (functions/refhash.ref_ivfpq_topk replays
    the whole chain; the fixture generator asserts the coarse
    quantizer's argsort margins like the IVF fixture does).
    ``residual=True`` encodes the cell residuals instead (FAISS's
    default; more recall per bit at high n_centroids). Its codebooks
    stay global, so the LUT stays per query and the ADC adds one
    per-(query, probed cell) centroid term (see ivfpq_search). The
    recall@k floors vs brute force for both modes are pinned in
    tests/test_recall_gates.py.

    Both trainers keep their own specs: the coarse quantizer is
    ivf_topk's fixed-point Lloyd (2^-30 integer sums, ties to the lowest
    cell, empty cells keep their centroid); the codebooks are the
    integer-rank Lloyd (2^-15-quantized argmin over exact int64 ranks).
    Validity rules are PQ's (NULL / ragged / zero-norm vectors excluded
    everywhere).
    """
    if dim is None:
        dim = _infer_dim(corpus, vec_col)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m} subspaces")

    # Cache lifecycle: the returned frame is lazy and REFERENCES this cache
    # (train, encode and the refine re-join all read it), so this function
    # cannot unpersist it before the caller consumes the result; the next
    # ivfpq_topk call releases it (partitioning.cache).
    c = cache(_ivfpq_prep(corpus, corpus_id, vec_col, dim), owner="similarity.ivfpq_topk")
    coarse, cq = train_ivfpq(
        corpus, corpus_id, vec_col, n_centroids, ivf_iters, m, ksub, pq_iters,
        dim, _prepped=c, residual=residual,
    )
    if coarse is None:  # empty corpus
        return _no_hits(corpus.sparkSession, query_id, corpus_id, "score_fp long")
    index = encode_ivfpq(
        corpus, coarse, cq, dim, id_col=corpus_id, vec_col=vec_col,
        residual=residual, _prepped=c,
    )
    return ivfpq_search(
        index, corpus, queries, coarse, cq,
        k=k, corpus_id=corpus_id, query_id=query_id, vec_col=vec_col,
        n_probe=n_probe, dim=dim, rerank=rerank, _prepped=c, residual=residual,
    )


def ivfpq_search(
    index: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    coarse: list[list[float]],
    cq: list[list[list[int]]],
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    dim: int | None = None,
    rerank: int = PQ_RERANK,
    _prepped: DataFrame | None = None,
    residual: bool = False,
    index_for_cids=None,
) -> DataFrame:
    """Query a PREBUILT IVF-PQ index table: ``index`` is the
    (corpus_id, cid, codes) frame a batch ``encode_ivfpq`` builds or the
    generational vector index (streaming/vectorindex.py) maintains —
    this path never touches the model trainer or re-encodes anything,
    which is how a continuously-ingesting 100 TB retrieval tier actually
    serves queries (the index table is clustered by cid; the probe
    equi-join becomes a file-pruned scan). ``corpus`` supplies raw
    vectors for the refinement step only — rerank*k rows per query read
    it.
    Bit-identical to ivfpq_topk over the same model + vectors (pinned
    by test; ivfpq_topk itself delegates here).

    ``residual=True``: codes quantize cell residuals, so the ADC score
    adds the per-(query, probed-cell) term dot(qx, floor(coarse[cid] *
    2^15)) to the LUT sum — score ≈ fixed-point dot(q, centroid +
    decoded-residual). The codebooks are GLOBAL (FAISS-shared-codebook
    shape), so the LUT stays per-query; only one extra int64 per probe
    row rides the join. Refinement is the exact raw-vector dot either
    way.

    ``index_for_cids``: optional ``cids -> DataFrame`` provider invoked
    with the driver-side probed cell set INSTEAD of filtering ``index``
    (which may then be None) — the hook a snapshot-pinned txlog host
    uses to turn the literal ``cid IN`` probe into file skipping
    (``VectorIndexSnapshot.index_for_cids``), where a plain filter over
    an eagerly-read frame would only drop rows after the scan.
    Bit-identical by construction: the provider must return exactly the
    rows ``index.filter(cid.isin(probed))`` would."""
    if dim is None:
        dim = _infer_dim(corpus, vec_col)
    spark = corpus.sparkSession
    if not coarse or not cq:  # no model (empty/all-NULL corpus at build)
        return _no_hits(spark, query_id, corpus_id, "score_fp long")
    m = len(cq)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by {m} codebook subspaces")
    dsub = dim // m
    c = _prepped if _prepped is not None else _ivfpq_prep(corpus, corpus_id, vec_col, dim)

    # ---- queries: probes + LUT + quantized vector, one row per probe ----
    q_rows = _ivfpq_prep(queries, query_id, vec_col, dim).collect()
    C = np.asarray(coarse, dtype=np.float64)
    probe_rows: list[tuple[int, int]] = []
    luts_by_q: dict[int, np.ndarray] = {}
    qx_by_q: dict[int, np.ndarray] = {}
    for row in q_rows:
        qx = [math.floor(float(x) * float(PQ_COORD_SCALE)) for x in row["__u"]]
        luts = [
            [sum(a * b for a, b in zip(qx[s * dsub : (s + 1) * dsub], cj)) for cj in cq[s]]
            for s in range(m)
        ]
        qid_v = row[query_id]
        luts_by_q[qid_v] = np.asarray(luts, dtype=np.int64)  # (m, ksub)
        qx_by_q[qid_v] = np.asarray(qx, dtype=np.int64)  # (dim,)
        for cid in _probe_cells(row["__u"], C, n_probe):
            if residual:
                cfx = [math.floor(x * float(PQ_COORD_SCALE)) for x in coarse[int(cid)]]
                cell_fp = sum(a * b for a, b in zip(qx, cfx))
            else:
                cell_fp = 0  # raw mode: ADC is the LUT sum alone
            probe_rows.append((qid_v, int(cid), cell_fp))
    if not probe_rows:
        return _no_hits(spark, query_id, corpus_id, "score_fp long")
    q_probes = spark.createDataFrame(
        probe_rows, f"{query_id} long, cid int, __cell long"
    )
    # LUTs and quantized query vectors are metadata-scale (|Q| * m * ksub
    # int64s), so they ride broadcast VARIABLES into the Arrow stages
    # instead of per-row array columns — scored rows stay (qid, cid, codes)
    # narrow through the shuffle, and nothing below is an interpreted
    # higher-order-function expression (r8: the element_at/aggregate/
    # zip_with chains here were the suite's hottest never-codegen'd
    # expressions AND a long-session degradation risk — PLANS.md "the
    # session is part of the plan"; bit-identical int64 math in numpy).
    luts_b = spark.sparkContext.broadcast(luts_by_q)
    qx_b = spark.sparkContext.broadcast(qx_by_q)

    # ---- ADC over probed cells only: equi-join on cid, not a sweep ----
    # The probed cells are known DRIVER-side, so push them as a literal
    # IN predicate too: parquet row-group min/max (or a cid-partitioned
    # directory's PartitionFilters) can then skip unprobed cells, where
    # the broadcast join alone only filters rows after the scan.
    # Bit-identical: the join key set is exactly the probed set. The
    # snapshot-pinned generational host passes ``index_for_cids``
    # instead, turning the same probe into txlog file skipping at its
    # pinned version, so unprobed cells' files are never opened.
    probed_cids = sorted({cid for _, cid, _ in probe_rows})
    if index_for_cids is not None:
        pruned = index_for_cids(probed_cids)
    else:
        pruned = index.filter(F.col("cid").isin(probed_cids))
    encoded = pruned.select(corpus_id, "cid", F.col("codes").alias("__cs"))
    joined = (
        encoded
        .join(broadcast(q_probes), "cid")
        .filter(F.col(query_id) != F.col(corpus_id))
        .select(query_id, corpus_id, "__cs", "__cell")
    )
    n_sub = m
    adc_schema = f"{query_id} long, {corpus_id} long, __adc long"

    def adc_rows(batches):
        sub_ix = np.arange(n_sub)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qids = pdf[query_id].to_numpy()
            codes = np.stack(pdf["__cs"].to_numpy()).astype(np.int64, copy=False)
            out = np.empty(len(pdf), dtype=np.int64)
            for qv in np.unique(qids):
                msk = qids == qv
                lut = luts_b.value[int(qv)]
                # row r of the masked block scores sum_s lut[s, codes[r, s]]
                out[msk] = lut[sub_ix[None, :], codes[msk]].sum(axis=1)
            out += pdf["__cell"].to_numpy()  # residual mode's centroid term (0 raw)
            yield pd.DataFrame(
                {query_id: qids, corpus_id: pdf[corpus_id].to_numpy(), "__adc": out}
            )

    scored = joined.mapInPandas(adc_rows, adc_schema)
    shortlist = _shortlist_topn(scored, query_id, corpus_id, rerank * k, len(q_rows))
    ref_in = shortlist.join(c, corpus_id).select(query_id, corpus_id, "__u")
    scale = float(PQ_COORD_SCALE)
    ref_schema = f"{query_id} long, {corpus_id} long, score_fp long"

    def refine_rows(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qids = pdf[query_id].to_numpy()
            U = np.stack(pdf["__u"].to_numpy())
            # floor(u_i * 2^15) -> int64: exact (|u_i| <= 1), == the
            # expression spec F.floor(x * SCALE).cast("long")
            xq = np.floor(U * scale).astype(np.int64)
            out = np.empty(len(pdf), dtype=np.int64)
            for qv in np.unique(qids):
                msk = qids == qv
                out[msk] = xq[msk] @ qx_b.value[int(qv)]
            yield pd.DataFrame(
                {query_id: qids, corpus_id: pdf[corpus_id].to_numpy(), "score_fp": out}
            )

    refined = ref_in.mapInPandas(refine_rows, ref_schema)
    return _rank_topk(refined, query_id, corpus_id, "score_fp", k)
