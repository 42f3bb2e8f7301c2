"""Tokenizer-induction statistics for training-data pipelines.

A 100 TB corpus feeds tokenizer training before it feeds model training:
the standard loop (BPE — Sennrich et al., ACL 2016) is (1) count words,
(2) count adjacent symbol pairs weighted by word frequency, (3) merge the
most frequent pair, repeat. Steps 1-2 are pure relational aggregation and
are where all the data-volume lives — each merge iteration afterwards
operates on the (tiny) vocabulary table, not the corpus. This module
implements the corpus-heavy steps as Catalyst expressions:

- ``word_counts``      corpus -> (word, count) — one map-side-combinable
                       groupBy; the universal first step.
- ``bpe_pair_counts``  (word, count) -> (adjacent char pair, total freq) —
                       the statistic a BPE trainer consumes for its first
                       merge. Computed from the DISTINCT-WORD table, so the
                       per-word char-pair explosion touches |vocab| rows,
                       not |corpus| rows (the classic BPE-training trick:
                       1B tokens collapse to ~1M distinct words before any
                       per-character work happens).
- ``bigram_lm_scores`` corpus -> per-document LM perplexity (train an
                       add-α bigram model on the corpus, score every doc
                       by average NLL — the CCNet quality signal).

Scale notes (100 TB): ``word_counts`` shuffles (word, partial-count) pairs
after a map-side combine — the only corpus-sized exchange. Everything
after it is vocabulary-sized. No Python, no UDFs: splitting, sequence
expansion and substring pairing are all codegen'd JVM expressions. The
word regex ``[^a-z0-9]+`` avoids lookarounds so the identical pattern runs
under Java regex and RE2 (DuckDB oracle) with identical token sets.
"""

from __future__ import annotations

import re

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from ..partitioning import cache, spread


#: Word delimiter: anything outside [a-z0-9] after lowercasing. Shared by
#: the Spark operators and the DuckDB oracles (RE2-compatible: no
#: lookaround, no backreference).
WORD_DELIM = "[^a-z0-9]+"


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus word-frequency table: (word, count), the input to any
    tokenizer/vocab induction. ``split`` emits empty strings at text
    boundaries — filtered before the explode so they never shuffle."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col(text_col)), WORD_DELIM),
                    lambda w: w != F.lit(""),
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 100,
) -> DataFrame:
    """Adjacent-character-pair frequencies weighted by word frequency —
    the statistic behind a BPE trainer's first merge decision. Returns the
    ``top_n`` pairs as (pair, freq), ordered by (freq desc, pair asc) so
    the cut is deterministic.

    Plan shape: corpus -> word_counts (one corpus shuffle) -> per distinct
    word, expand ``len(word)-1`` overlapping 2-char substrings via
    ``sequence`` + ``transform`` (vocabulary-sized, codegen'd) -> groupBy
    pair (vocab-sized shuffle on a key universe of at most 36^2+ pairs,
    map-side combine collapses it to nearly nothing) -> global top-N via
    TakeOrdered (no full sort).

    Guard: ``sequence(1, n-1)`` with n=1 would generate a DESCENDING
    [1, 0] (Spark's sequence reverses when stop < start) — 1-char words
    are masked to an empty pair array instead.
    """
    wc = word_counts(df, text_col)
    pairs = wc.select(
        F.explode(
            F.when(F.length("word") < 2, F.array().cast("array<string>")).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.col("word").substr(i, F.lit(2)),
                )
            )
        ).alias("pair"),
        F.col("count"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("count").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("pair"))
        .limit(top_n)
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.1,
) -> DataFrame:
    """Corpus-LM perplexity scoring (the CCNet quality signal): train an
    add-α-smoothed bigram language model ON the corpus, then score every
    document by its average negative log-likelihood and perplexity.
    Low-perplexity documents look like the corpus (fluent, typical); very
    high perplexity flags gibberish, very low flags boilerplate — CCNet
    buckets the corpus into head/middle/tail exactly this way.

    Model: P(w2|w1) = (C(w1,w2) + α) / (C(w1) + α·V) over the corpus'
    word bigrams (V = unigram vocabulary size). Documents with < 2 words
    have no bigrams and are excluded (no defined score).

    Returns (id, n_bigrams, avg_nll, perplexity = exp(avg_nll)).

    Scale shape (100 TB): training is two map-side-combinable groupBys
    (unigram + bigram counts) — the same shuffles word_counts pays, and
    the count tables are vocabulary-sized, far below corpus size. Scoring
    joins each document's bigrams against the bigram table (equi-join on
    the bigram key; the model side is the SMALL side and broadcasts when
    it fits) and aggregates one row per document. Every step is codegen'd
    expressions — no Python. The trained tables can be persisted once and
    reused to score any number of corpora (score-only reruns skip the
    training shuffles).
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), WORD_DELIM), lambda w: w != F.lit("")
    )
    # fan out BEFORE tokenization/bigram expansion (SCALE.md spread
    # placement: a sub-MB single-file scan would otherwise run the
    # expression serially in the scan task)
    docs = spread(
        df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("id"), F.col(text_col)
        ),
        "id",
    ).select("id", toks.alias("__t"))
    # persist the token arrays: the vocab-size branch (V counts every
    # distinct word, including final words that never open a bigram)
    # otherwise re-runs the scan + split over the whole corpus — the
    # second-most-expensive expression in the plan — just to explode one
    # extra token per document (r15; measured 1.42 -> 1.20 s min-of-6
    # same-session at sf0.1, values identical). The vocab collect below
    # is the first action, so it materializes this cache and the bigram
    # persist build then reads token arrays instead of raw text.
    # keyed (r16): docs carries spread(id); bigrams below is a narrow
    # transform of it, so with BOTH caches' partitioning visible the
    # final per-doc scoring aggregate reuses hashpartitioning(id) and the
    # corpus-bigram-sized ENSURE_REQUIREMENTS exchange in front of it
    # disappears (the model joins broadcast either way)
    docs = cache(docs, keyed=True, owner="vocab.bigram_lm_scores.docs")
    bigrams = docs.filter(F.size("__t") >= 2).select(
        "id",
        F.explode(
            F.zip_with(
                F.slice("__t", 1, F.size("__t") - 1),
                F.slice("__t", 2, F.size("__t") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    # persist: training (2 aggregates) + scoring all consume the bigram
    # rows. The returned plan still reads both caches: the next call
    # releases them.
    bigrams = cache(bigrams, keyed=True, owner="vocab.bigram_lm_scores.bigrams")

    uni = bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    # V counts every distinct word (including final words that never open
    # a bigram): derive from the token arrays, not the bigram table
    vocab_size = (
        docs.select(F.explode("__t").alias("w")).agg(F.countDistinct("w")).collect()[0][0]
    )
    bi = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    model = bi.join(uni, "w1").select(
        "w1",
        "w2",
        (
            (F.col("c12") + F.lit(alpha))
            / (F.col("c1") + F.lit(alpha * float(vocab_size)))
        ).alias("p"),
    )
    return (
        bigrams.join(model, ["w1", "w2"])
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-F.avg(F.log("p"))).alias("avg_nll"),
        )
        .select("id", "n_bigrams", "avg_nll", F.exp("avg_nll").alias("perplexity"))
    )


def dsir_log_weights(
    df: DataFrame,
    target_pred,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.1,
) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for Language
    Models via Importance Resampling", NeurIPS 2023): score every
    NON-target document by how target-like its n-gram features are,
    ``log w(doc) = Σ_f [ln P_target(f) − ln P_source(f)]`` over the
    document's word-bigram features, with add-α multinomial smoothing
    over the union feature space. Feed the weights to
    ``sampling.priority_sample`` to complete the resampling step — that
    pairing IS the DSIR pipeline.

    ``target_pred`` is a Column predicate selecting the target-domain
    rows inside ``df`` (e.g. a trusted high-quality subset); every other
    document is source and gets a weight. P_side(f) = (C_side(f) + α) /
    (N_side + α·B), B = distinct bigrams across both sides, N_side =
    total bigram tokens on that side.

    Returns (id, n_bigrams, log_weight) — higher = more target-like.

    Scale shape: one bigram explode over the corpus (fanned out before
    the expression), two map-side-combinable count aggregates (one per
    side via conditional sums — a single groupBy, not two passes), three
    scalar aggregates, then a feature-table equi-join back to the source
    documents' bigrams and a per-doc sum. The feature table is
    vocabulary-sized and broadcasts when it fits.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), WORD_DELIM), lambda w: w != F.lit("")
    )
    docs = spread(
        df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("id"),
            F.col(text_col),
            target_pred.cast("boolean").alias("__is_target"),
        ),
        "id",
    ).select("id", "__is_target", toks.alias("__t"))
    bigrams = (
        docs.filter(F.size("__t") >= 2)
        .select(
            "id",
            "__is_target",
            F.explode(
                F.zip_with(
                    F.slice("__t", 1, F.size("__t") - 1),
                    F.slice("__t", 2, F.size("__t") - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("f"),
        )
    )
    # keyed: same id-partitioning argument as bigram_lm_scores - the
    # per-doc scoring groupBy reuses the spread(id) carried through the
    # narrow bigram transform (feats broadcasts); read by counts, totals
    # and the scoring join
    bigrams = cache(bigrams, keyed=True, owner="vocab.dsir_log_weights.bigrams")

    counts = bigrams.groupBy("f").agg(
        F.sum(F.when(F.col("__is_target"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("__is_target"), 0).otherwise(1)).alias("cs"),
    )
    # totals aggregate + scoring join; the returned scoring plan reads
    # both caches: the next call releases them
    counts = cache(counts, owner="vocab.dsir_log_weights.counts")
    tot = counts.agg(
        F.sum("ct").alias("nt"), F.sum("cs").alias("ns"), F.count(F.lit(1)).alias("b")
    ).collect()[0]
    nt, ns, b = float(tot["nt"]), float(tot["ns"]), float(tot["b"])
    feats = counts.select(
        "f",
        (
            F.log((F.col("ct") + F.lit(alpha)) / F.lit(nt + alpha * b))
            - F.log((F.col("cs") + F.lit(alpha)) / F.lit(ns + alpha * b))
        ).alias("llr"),
    )
    return (
        bigrams.filter(~F.col("__is_target"))
        .join(feats, "f")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("llr").alias("log_weight"),
        )
    )


def bpe_learn_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 100,
    vocab_cap: int = 200_000,
) -> list[tuple[str, str]]:
    """Train a BPE merge list (Sennrich et al. ACL 2016) on the corpus.

    Division of labor (and why this shape is the 100 TB one): the ONLY
    corpus-sized work is ``word_counts`` — one distributed shuffle with
    map-side combine. The merge loop itself operates on the (word, count)
    table, which is vocabulary-sized, and runs as a plain in-memory loop
    on the driver over the ``vocab_cap`` most frequent words (ties broken
    by word for determinism). That is the standard practice: every real
    BPE trainer (subword-nmt, HuggingFace tokenizers) trains from a word-
    frequency table, and a frequency cap bounds driver memory regardless
    of corpus size while changing merges only through the counts of words
    below the cap — noise at web scale.

    Returns the ordered merge list [(left, right), ...].
    """
    rows = (
        word_counts(df, text_col)
        .orderBy(F.col("count").desc(), F.col("word"))
        .limit(vocab_cap)
        .collect()
    )
    # symbol-sequence representation of each word, weighted by count
    vocab: dict[tuple[str, ...], int] = {}
    for r in rows:
        vocab[tuple(r["word"])] = vocab.get(tuple(r["word"]), 0) + r["count"]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        # most frequent pair; ties break lexicographically (deterministic)
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        nxt: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            nxt[key] = nxt.get(key, 0) + c
        vocab = nxt
    return merges


def bpe_encode_udf(merges: list[tuple[str, str]]):
    """Arrow-batched BPE encoder applying a learned merge list: text ->
    array<string> of subword tokens (word-internal merges only, words
    separated by the shared WORD_DELIM tokenizer). Apply is the
    embarrassingly parallel half of BPE — per row, no shuffle; the merge
    ranks ship to executors once inside the UDF closure (broadcast-sized:
    a merge table is tens of KB).

    Encoding uses the standard lowest-rank-first strategy (equivalent to
    replaying the merges in training order), with an LRU-less per-batch
    word cache — corpora repeat words heavily, so each distinct word in a
    batch is encoded once."""
    rank = {tuple(m): i for i, m in enumerate(merges)}
    delim = re.compile(WORD_DELIM)

    def encode_word(word: str) -> list[str]:
        syms = list(word)
        while len(syms) > 1:
            best_i, best_r = -1, None
            for i in range(len(syms) - 1):
                r = rank.get((syms[i], syms[i + 1]))
                if r is not None and (best_r is None or r < best_r):
                    best_i, best_r = i, r
            if best_r is None:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        return syms

    @pandas_udf(ArrayType(StringType()))
    def encode(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks: list[str] = []
            for w in delim.split(t.lower()):
                if not w:
                    continue
                enc = cache.get(w)
                if enc is None:
                    enc = encode_word(w)
                    cache[w] = enc
                toks.extend(enc)
            out.append(toks)
        return pd.Series(out)

    return encode
