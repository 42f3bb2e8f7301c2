"""Trained quality classifier: a logistic-regression-style filter over
hashed token features, trained in-engine with bit-reproducible fixed-point
gradient descent.

The model-based quality filter is the stage heuristic filters can't cover
in an LLM data pipeline (GPT-3's LR-vs-WebText filter and its descendants):
`cleaning.c4_quality_filter` encodes fixed rules, `vocab.bigram_lm_scores`
scores fluency, `vocab.dsir_log_weights` reweights toward a target — this
operator LEARNS a per-document keep score from (weak) labels. The weak
labels here are a deterministic stopword-presence rule so the whole
artifact is oracle-checkable; swapping in human/LLM labels changes one
DataFrame, not the machinery.

Determinism is the design constraint (same posture as the IVF k-means in
``similarity.ivf_topk``): every gradient is a SUM OF INT64 fixed-point
terms — order-independent, so shuffle/aggregation order cannot move a
bit — and the link function is the hard sigmoid computed with
non-negative integer division (JVM ``div`` truncates, Python ``//``
floors; shifting the dividend to non-negative makes them agree). Weight
updates run on the DRIVER via ``refhash.qlr_update`` — the SAME function
the oracle mirror calls — over gradient aggregates that are at most
``dim`` rows (metadata-scale, like the BPE merge table and the IVF
centroid stats).

Scale shape (100 TB): per GD iteration = one broadcast join of the
``dim``-row weight table onto the (id, bucket) presence rows + one
groupBy(id) int-sum + one groupBy(bucket) int-sum collected to the driver
(``dim`` rows). The presence-feature table is built once, persisted, and
is the only corpus-sized state; iteration count is a small constant. No
corpus-sized driver materialization anywhere.

Reference basis: a from-scratch Spark design; the reference pipeline
(epa_ingestion.py) has no learned filtering — this extends the engine's
training-data toolkit alongside dedup/sampling/DSIR.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from sf_epa_data_ingestion_spark.functions.refhash import (
    QLR_DIM,
    QLR_ITERS,
    QLR_ONE,
    QLR_STOP_MIN,
    QLR_STOPWORDS,
    qlr_center_offset,
    qlr_update,
)
from sf_epa_data_ingestion_spark.operators.dedup import normalized_text
from sf_epa_data_ingestion_spark.partitioning import cache, spread

__all__ = [
    "hashed_presence_features",
    "weak_stopword_labels",
    "score_quality_lr",
    "train_quality_lr",
    "score_docs_lr",
]


def _tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, tok) rows: whitespace tokens of the normalized text. Row form
    (explode), not a HOF nest — interpreted HOFs degrade in long-lived
    sessions (PLANS.md 'the session is part of the plan')."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )


def hashed_presence_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", dim: int = QLR_DIM
) -> DataFrame:
    """(id, bucket) PRESENCE rows: bucket = pmod(xxhash64(token), dim),
    distinct per doc. Presence (not counts) keeps every downstream sum a
    plain int and mirrors ``refhash.qlr_bucket`` exactly."""
    return (
        _tokens(df, text_col, id_col)
        .select("id", F.pmod(F.xxhash64("tok"), F.lit(dim)).alias("bucket"))
        .dropDuplicates(["id", "bucket"])
    )


def weak_stopword_labels(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, label) weak supervision: 1 iff the doc contains at least
    ``QLR_STOP_MIN`` DISTINCT stopwords from the fixed 16-word list.
    Deterministic and trivially mirrored — the point is checkable
    machinery, not label quality."""
    toks = _tokens(df, text_col, id_col)
    hits = (
        toks.filter(F.col("tok").isin(*QLR_STOPWORDS))
        .dropDuplicates(["id", "tok"])
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_stop"))
    )
    spine = df.filter(F.col(text_col).isNotNull()).select(F.col(id_col).alias("id"))
    return spine.join(hits, "id", "left").select(
        "id",
        F.when(F.coalesce("n_stop", F.lit(0)) >= QLR_STOP_MIN, F.lit(1))
        .otherwise(F.lit(0))
        .alias("label"),
    )


def _hard_sigmoid_fp(logit_col: str) -> F.Column:
    """Mirror of ``refhash.qlr_hard_sigmoid_fp`` as a Spark expression.
    The +2*ONE shift makes the dividend non-negative, where SQL ``div``
    (truncation) equals Python ``//`` (floor)."""
    two = 2 * QLR_ONE
    return F.expr(
        f"(least(greatest({logit_col}, {-two}L), {two}L) + {two}L) div 4"
    )


def _fit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    dim: int,
    iters: int,
):
    """Shared trainer behind score_quality_lr / train_quality_lr: builds
    the fused presence+label tables, runs the fixed-point GD loop, and
    returns (weights, bias, labels, feats, err_frame, n_docs). Callers
    own the two persisted frames (unpersist when done)."""
    spark = df.sparkSession
    # ONE scan + ONE shuffle builds both the presence features and the
    # weak labels (the standalone hashed_presence_features /
    # weak_stopword_labels helpers each re-tokenize; at corpus scale the
    # fused groupBy halves the front cost). Semantics are identical:
    # collect_set == dropDuplicates per doc, count(DISTINCT stopword)
    # ignores the NULLs the when() leaves on non-stopwords.
    # size(collect_set), not countDistinct: the distinct aggregate would
    # re-plan this single groupBy as a two-phase expand with an extra
    # Exchange keyed (id, tok); collect_set dedups in the aggregation
    # buffer (same null-dropping, same distinct count) and keeps the
    # front ONE exchange (r15; same rewrite as score_and_label_docs_lr)
    per_doc = (
        _tokens(df, text_col, id_col)
        .groupBy("id")
        .agg(
            F.collect_set(F.pmod(F.xxhash64("tok"), F.lit(dim))).alias("buckets"),
            F.size(
                F.collect_set(
                    F.when(F.col("tok").isin(*QLR_STOPWORDS), F.col("tok"))
                )
            ).alias("n_stop"),
        )
    )
    spine = df.filter(F.col(text_col).isNotNull()).select(F.col(id_col).alias("id"))
    labels = (
        spine.join(per_doc.select("id", "n_stop"), "id", "left")
        .select(
            "id",
            F.when(F.coalesce("n_stop", F.lit(0)) >= QLR_STOP_MIN, F.lit(1))
            .otherwise(F.lit(0))
            .alias("label"),
        )
        .persist()
    )
    # Presence rows PLUS one sentinel bucket=-1 row per doc. The sentinel
    # never matches a weight row (coalesce 0 in the logit sum) but folds
    # the bias gradient into the SAME per-bucket aggregation — one job,
    # one collect per GD iteration instead of three.
    feats = per_doc.select("id", F.explode("buckets").alias("bucket")).unionByName(
        labels.select("id", F.lit(-1).cast("long").alias("bucket"))
    )
    feats = spread(feats, "id").persist()
    n_docs = labels.count()  # also materializes the persists' lineage root

    def err_frame(weights: dict[int, int], bias: int) -> DataFrame:
        """(id, err) from the current model: broadcast-join the weight
        table onto the presence rows, int-sum per doc, hard sigmoid."""
        wdf = spark.createDataFrame(
            list(weights.items()) or [(0, 0)], "bucket long, w long"
        )
        doc_sum = (
            feats.join(F.broadcast(wdf), "bucket", "left")
            .groupBy("id")
            .agg(F.sum(F.coalesce("w", F.lit(0))).alias("s"))
        )
        return (
            labels.join(doc_sum, "id", "left")
            .withColumn("logit", F.coalesce("s", F.lit(0)) + F.lit(bias))
            .withColumn(
                "err", _hard_sigmoid_fp("logit") - F.col("label") * F.lit(QLR_ONE)
            )
            .select("id", "label", "logit", "err")
        )

    # The r7 trainer runs on EFFECTIVELY centered features (x_ij - p_j),
    # realized as a per-iteration scalar offset in the logit plus a
    # projected gradient in qlr_update, so the presence rows never
    # densify (see refhash.qlr_update for the convergence story). The
    # bucket document frequencies the centering needs ride the FIRST
    # iteration's gradient aggregate as a count column — every feats row
    # joins exactly one err row, so count(*) per bucket IS df (no extra
    # job; the first iteration's center is 0 anyway since weights start
    # empty).
    dfreq: dict[int, int] = {}
    weights: dict[int, int] = {}
    bias = 0
    for it in range(iters if n_docs else 0):
        # gradient aggregates: at most `dim`+1 rows cross to the driver,
        # every one a sum of int64 terms (order-independent)
        center = qlr_center_offset(weights, dfreq, n_docs) if it else 0
        rows = (
            feats.join(err_frame(weights, bias - center).select("id", "err"), "id")
            .groupBy("bucket")
            .agg(F.sum("err").alias("g"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        if it == 0:
            dfreq = {r["bucket"]: r["n"] for r in rows if r["bucket"] >= 0}
        grads = {r["bucket"]: r["g"] for r in rows if r["bucket"] >= 0}
        grad_b = next((r["g"] for r in rows if r["bucket"] == -1), 0)
        weights, bias = qlr_update(weights, bias, grads, grad_b, dfreq, n_docs)

    # fold the final centering offset into the bias so every consumer
    # (final scoring, train_quality_lr -> score_docs_lr) sees a plain
    # (weights, bias) linear model
    if n_docs:
        bias = bias - qlr_center_offset(weights, dfreq, n_docs)
    return weights, bias, labels, feats, err_frame, n_docs


def score_quality_lr(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = QLR_DIM,
    iters: int = QLR_ITERS,
) -> DataFrame:
    """Train the fixed-point LR on the corpus' weak labels and score every
    non-NULL-text document. Returns (id, label, score_fp) — all integers,
    bit-identical to ``refhash.ref_qlr_scores`` (pinned by test and by the
    golden-fixture oracle)."""
    weights, bias, labels, feats, err_frame, n_docs = _fit(
        df, text_col, id_col, dim, iters
    )
    try:
        if n_docs == 0:  # nothing to train on — empty result, not a div-by-zero
            out = labels.select("id", "label", F.lit(0).cast("long").alias("score_fp"))
        else:  # final scoring pass with the trained weights
            out = err_frame(weights, bias).select(
                "id", "label", _hard_sigmoid_fp("logit").alias("score_fp")
            )
        # the returned plan reads its own cache, materialized here so the
        # two training caches can be RELEASED before returning
        out = cache(out, owner="quality_model.score_quality_lr")
        out.count()
        return out
    finally:
        labels.unpersist()
        feats.unpersist()


def train_quality_lr(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = QLR_DIM,
    iters: int = QLR_ITERS,
) -> tuple[dict[int, int], int]:
    """Train only: returns the (weights, bias) model — ``dim`` ints plus a
    bias — for use as a PRE-TRAINED gate (the streaming ingestion path
    scores arriving batches against this table without ever training in
    the stream; r6 VERDICT next-round #5). Same GD chain as
    score_quality_lr, so scores produced from this model via
    ``score_docs_lr`` are bit-identical to the in-one-call operator
    (pinned by test)."""
    weights, bias, labels, feats, _, _ = _fit(df, text_col, id_col, dim, iters)
    labels.unpersist()
    feats.unpersist()
    return weights, bias


def _doc_sum_one_exchange(
    toks: DataFrame, wdf: DataFrame, dim: int, extra_aggs: list | None = None
) -> DataFrame:
    """(id, s[, extras...]) weight sums over DISTINCT presence buckets in
    ONE exchange: ``collect_set`` per doc (map-side partial merge)
    replaces the ``dropDuplicates(id, bucket)`` pre-shuffle, and the
    explode + broadcast weight join PRESERVE the aggregate's
    hashpartitioning(id), so the re-group back to per-doc sums needs no
    second exchange (guide §2.4: operations keyed the same way share one
    exchange). Same int sums as the two-shuffle form: presence rows are
    distinct buckets either way, and int addition is order-free."""
    per_doc = toks.groupBy("id").agg(
        F.collect_set(F.pmod(F.xxhash64("tok"), F.lit(dim))).alias("buckets"),
        *(extra_aggs or []),
    )
    carried = [c for c in per_doc.columns if c not in ("id", "buckets")]
    # LEFT weight join + coalesce-0 (the _fit err_frame shape): an inner
    # join would drop a doc entirely when NONE of its buckets carry a
    # weight, losing any carried per-doc aggregate (n_stop) with it
    return (
        per_doc.select("id", *carried, F.explode("buckets").alias("bucket"))
        .join(F.broadcast(wdf), "bucket", "left")
        .groupBy("id")
        .agg(
            F.sum(F.coalesce("w", F.lit(0))).alias("s"),
            *[F.first(c).alias(c) for c in carried],
        )
    )


def score_docs_lr(
    df: DataFrame,
    weights: dict[int, int],
    bias: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = QLR_DIM,
) -> DataFrame:
    """Score documents against a PRE-TRAINED model: one tokenize pass,
    presence buckets, broadcast join of the ``dim``-row weight table,
    int-sum, hard sigmoid. Returns (id, score_fp). No training, no
    labels, no persisted state — the per-micro-batch shape the streaming
    ingestion gate needs. Identical arithmetic to score_quality_lr's
    final pass (presence rows are distinct buckets either way; the
    missing sentinel row only ever contributed coalesce-0). One
    exchange since r15 (``_doc_sum_one_exchange``; was
    dropDuplicates + re-group = two)."""
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        list(weights.items()) or [(0, 0)], "bucket long, w long"
    )
    doc_sum = _doc_sum_one_exchange(_tokens(df, text_col, id_col), wdf, dim)
    spine = df.filter(F.col(text_col).isNotNull()).select(F.col(id_col).alias("id"))
    return (
        spine.join(doc_sum, "id", "left")
        .withColumn("logit", F.coalesce("s", F.lit(0)) + F.lit(bias))
        .select("id", _hard_sigmoid_fp("logit").alias("score_fp"))
    )


def score_and_label_docs_lr(
    df: DataFrame,
    weights: dict[int, int],
    bias: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = QLR_DIM,
) -> DataFrame:
    """``score_docs_lr`` and ``weak_stopword_labels`` fused over ONE
    tokenize pass and ONE exchange — the serving-side twin of ``_fit``'s
    fused front (which already established collect_set == dropDuplicates
    per doc and countDistinct-of-when == the stopword filter+dedup).
    Returns (id, label, score_fp), value-identical to joining the two
    standalone helpers on id: both spines are the non-NULL-text docs,
    and a tokenless doc lands label 0 / bias-only logit either way.

    Precondition (r15 ADVICE): ``id_col`` must be unique per row — the
    corpus contract everywhere in this engine (doc_id is the primary
    key). Under a DUPLICATED id this fused form emits one row per INPUT
    row, where the old ``weak_stopword_labels.join(score_docs_lr, 'id')``
    form emitted n*n rows per id (each helper keeps a per-input-row
    spine, so the equi-join multiplies) — the multiplicity is pinned by
    tests/test_quality_model.py so the divergence is explicit, and the
    per-row values are identical either way (both aggregates fold the
    union of the duplicate rows' tokens)."""
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        list(weights.items()) or [(0, 0)], "bucket long, w long"
    )
    # collect_set + size, NOT countDistinct: a distinct aggregate mixed
    # into the groupBy plans as a two-phase expand (an extra Exchange
    # keyed (id, tok)); collect_set dedups in the aggregation buffer
    # (same null-dropping, same distinct count) and keeps the whole
    # per-doc front a single-phase, one-exchange aggregate
    doc_sum = _doc_sum_one_exchange(
        _tokens(df, text_col, id_col),
        wdf,
        dim,
        extra_aggs=[
            F.size(
                F.collect_set(
                    F.when(F.col("tok").isin(*QLR_STOPWORDS), F.col("tok"))
                )
            ).alias("n_stop")
        ],
    )
    spine = df.filter(F.col(text_col).isNotNull()).select(F.col(id_col).alias("id"))
    return (
        spine.join(doc_sum, "id", "left")
        .withColumn("logit", F.coalesce("s", F.lit(0)) + F.lit(bias))
        .select(
            "id",
            F.when(F.coalesce("n_stop", F.lit(0)) >= QLR_STOP_MIN, F.lit(1))
            .otherwise(F.lit(0))
            .alias("label"),
            _hard_sigmoid_fp("logit").alias("score_fp"),
        )
    )
