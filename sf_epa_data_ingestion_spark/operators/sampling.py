"""Deterministic sampling & dataset splitting for training-data pipelines.

Random sampling (``df.sample``) is seed-stable only per partitioning —
repartition and the sample changes. Training pipelines need *content-
deterministic* selections: the same row lands in the same split on any
cluster layout, any engine, any day. Everything here derives the decision
from a cryptographic hash of the row's key, so results are reproducible
and oracle-checkable (DuckDB computes identical md5 digests).

Scale: all pure column expressions on the scan — no shuffle, no state,
trivially parallel; the hash predicate pushes to a filter right above the
scan (rows drop before any downstream work).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..partitioning import cache


def _hash_unit(key: Column) -> Column:
    """Uniform [0, 1) from the first 13 hex digits of md5(key) — 52 bits,
    EXACT in a double (no rounding divergence between engines; DuckDB
    oracle: CAST('0x' || substr(md5(k), 1, 13) AS UBIGINT) / 2^52)."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 13), 16, 10).cast("double")
        / F.lit(float(1 << 52))
    )


def sample_by_hash(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by key hash — deterministic
    across runs/partitionings/engines, unlike ``df.sample``."""
    return df.filter(_hash_unit(F.col(key_col)) < F.lit(fraction))


def train_val_test_split(
    df: DataFrame,
    key_col: str,
    val_fraction: float = 0.1,
    test_fraction: float = 0.1,
) -> DataFrame:
    """Tag each row 'train' / 'val' / 'test' by key hash. A key keeps its
    split forever (append-only corpora never leak val/test into train)."""
    u = _hash_unit(F.col(key_col))
    return df.withColumn(
        "split",
        F.when(u < F.lit(test_fraction), F.lit("test"))
        .when(u < F.lit(test_fraction + val_fraction), F.lit("val"))
        .otherwise(F.lit("train")),
    )


def stratified_sample_by_hash(
    df: DataFrame, key_col: str, stratum_col: str, fractions: dict[str, float]
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. per-language quotas).
    Strata absent from ``fractions`` are dropped — matching
    ``sampleBy`` semantics but reproducible."""
    u = _hash_unit(F.col(key_col))
    keep = F.lit(False)
    for stratum, frac in sorted(fractions.items()):
        keep = keep | ((F.col(stratum_col) == F.lit(stratum)) & (u < F.lit(frac)))
    return df.filter(keep)


def pack_sequences(
    df: DataFrame,
    key_col: str,
    size_col: str,
    budget: int,
    n_shards: int = 32,
) -> DataFrame:
    """Token-budgeted sequence packing: assign each row (document) to a
    pack so that consecutive documents fill a training-context budget.
    Returns the input keyed rows annotated with (shard, pack_id,
    offset_in_pack).

    Strategy: deterministic shard + in-shard order from the key's md5
    (stable on any partitioning/engine, same digest the other sampling
    ops use), then greedy in-order packing via cumulative sum: a row
    with running total c and size s belongs to pack
    floor((c - s) / budget). Oversized documents (> budget) simply
    occupy packs alone. This is the standard "first-fit in fixed order"
    approximation — within ~1 doc of optimal fill when doc sizes are
    small relative to the budget.

    Scale notes (100 TB): a single global ORDER BY window would serialize
    on one task; sharding makes the window PARTITION BY shard — n_shards
    independent sorts, each a fraction of the corpus. pack_id embeds the
    shard so ids are globally unique. Raise n_shards with cluster size;
    packing quality is unaffected (each shard packs independently).
    """
    shard = F.floor(_hash_unit(F.col(key_col)) * F.lit(n_shards)).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("__order"), F.col(key_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = df.select(
        F.col(key_col),
        F.col(size_col).cast("long").alias("__size"),
        shard.alias("shard"),
        F.md5(F.col(key_col).cast("string")).alias("__order"),
    )
    cum = sized.withColumn("__cum", F.sum("__size").over(w))
    start = F.col("__cum") - F.col("__size")  # tokens before this doc
    pack_in_shard = F.floor(start / F.lit(float(budget)))
    return cum.select(
        key_col,
        "shard",
        (F.col("shard").cast("long") * F.lit(1_000_000_000) + pack_in_shard).alias("pack_id"),
        (start - pack_in_shard * F.lit(budget)).cast("long").alias("offset_in_pack"),
    )


def resample_by_temperature(
    df: DataFrame,
    key_col: str,
    group_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """Temperature-based group rebalancing (the mC4/multilingual-mix
    recipe): sample group g at a rate proportional to n_g^(alpha-1), so
    low-resource groups (languages) keep a larger share of their rows
    and head groups are downsampled. Rates are normalized so the
    smallest group keeps 100% of its rows; ``alpha=1`` keeps everything
    (rates collapse to 1). Row selection reuses the corpus-wide
    content-hash rule, so the chosen subset is stable across runs,
    partitionings, and engines.

    Scale notes (100 TB): group counts come from a full aggregation on a
    low-cardinality key (languages) — partial aggregation makes the
    shuffle a few rows per executor — and the per-group rate table is
    broadcast back, so the corpus itself is never shuffled: the whole
    operator is scan -> broadcast-join -> filter.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    min_n = counts.agg(F.min("__n").alias("__min_n"))
    exponent = alpha - 1.0
    rates = counts.crossJoin(F.broadcast(min_n)).select(
        group_col,
        (
            F.pow(F.col("__n").cast("double"), F.lit(exponent))
            / F.pow(F.col("__min_n").cast("double"), F.lit(exponent))
        ).alias("__rate"),
    )
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(_hash_unit(F.col(key_col)) < F.col("__rate"))
        .drop("__rate")
    )


def priority_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    by: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling without replacement (exponential
    clocks): each row gets arrival time t = -ln(u)/w with u the row's
    content-hash uniform and w its weight; the k smallest t win. Higher
    weight → earlier clock → higher inclusion odds, exactly the
    w-proportional without-replacement distribution — but driven by the
    key hash, so the same k rows win on any partitioning, any engine,
    any day. Rows with non-positive weight are excluded; ties (never in
    practice) break on the key. With ``by``, k rows per group.

    Scale notes (100 TB): the global form is orderBy+limit, which Spark
    executes as per-partition TakeOrdered + driver merge of k-row heaps
    — no global sort, no shuffle of the corpus. The grouped form is one
    hash shuffle on ``by`` with the rank filter pushed as a window
    group-limit.
    """
    t = -F.log(_hash_unit(F.col(key_col))) / F.col(weight_col).cast("double")
    ranked = df.filter(F.col(weight_col) > 0).withColumn("__t", t)
    if by is None:
        return ranked.orderBy(F.asc("__t"), F.asc(key_col)).limit(k).drop("__t")
    w = Window.partitionBy(by).orderBy(F.asc("__t"), F.asc(key_col))
    return (
        ranked.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__t", "__rn")
    )


def sample_to_budget(
    df: DataFrame,
    budgets: DataFrame,
    weight_col: str,
    key_col: str = "doc_id",
    source_col: str = "source",
    n_buckets: int = 4096,
) -> DataFrame:
    """Apply per-source token budgets (the output half of mixture
    budgeting — ``tokens_by_source`` measures shares, this enforces
    them): within each source, walk the documents in content-hash order
    and keep them while the budget is not yet filled. A document that
    crosses the boundary is kept (fill-until-full), so every source with
    a positive budget and any documents contributes at least one.

    Deterministic by construction: the walk order is (hash_unit(key),
    key) — the same selection on any partitioning, any engine, any day,
    and stable under corpus appends *behind* the boundary.

    ``budgets`` is a (source, budget) DataFrame — broadcast-joined; the
    engine-side result matches the naive per-source running-sum window
    exactly (pinned by test), but the plan is the SCALE-SAFE two-pass
    form: the naive window partitions by source, which at 100 TB drops
    an entire source — possibly most of the corpus — into ONE sort
    task. Instead:

    1. bucket each doc by the top bits of its hash unit (``n_buckets``
       per source);
    2. aggregate weight per (source, bucket) — map-side partial, tiny
       result — and take a running sum over the bucket axis (window over
       <= n_buckets rows per source: metadata-scale);
    3. docs strictly below their source's boundary bucket pass with NO
       per-row window; docs strictly above drop (a scan-level filter);
       only the boundary bucket — expected corpus/n_buckets of one
       source — pays a per-doc running-sum window, seeded with the
       preceding buckets' cumulative weight.

    Returns (key, source, weight) for the kept documents.
    """
    u = _hash_unit(F.col(key_col))
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(source_col).alias("source"),
        F.col(weight_col).cast("long").alias("w"),
        u.alias("u"),
    ).withColumn("bucket", F.floor(F.col("u") * n_buckets).cast("int"))
    base = base.join(F.broadcast(budgets.select("source", "budget")), "source")
    # persist: three consumers below (the per-bucket aggregate and the
    # inside/boundary branches) are dedup-aliased self-join branches —
    # without the cache each re-scans the corpus and re-computes the hash
    # unit (measured 16 FileScans in the un-cached plan; at 100 TB that is
    # 3+ full corpus reads). Narrow rows (key, source, w, u, bucket,
    # budget), MEMORY_AND_DISK by default so big corpora spill instead of
    # OOMing. The returned plan reads it: the next call releases it.
    base = cache(base, owner="sampling.sample_to_budget")

    per_bucket = base.groupBy("source", "bucket").agg(F.sum("w").alias("bw"))
    wb = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = per_bucket.select(
        "source",
        "bucket",
        F.coalesce(F.sum("bw").over(wb), F.lit(0).cast("long")).alias("cum_before"),
        (F.coalesce(F.sum("bw").over(wb), F.lit(0).cast("long")) + F.col("bw")).alias(
            "cum_through"
        ),
    )
    tagged = base.join(F.broadcast(cum), ["source", "bucket"])

    # whole buckets strictly inside / outside the budget: scan-level filter
    inside = tagged.filter(F.col("cum_through") <= F.col("budget")).select(
        "key", "source", "w"
    )
    # boundary bucket: cum_before < budget <= cum_through — per-doc walk,
    # seeded with the preceding buckets' cumulative weight
    wd = (
        Window.partitionBy("source", "bucket")
        .orderBy("u", "key")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boundary = (
        tagged.filter(
            (F.col("cum_before") < F.col("budget"))
            & (F.col("cum_through") > F.col("budget"))
        )
        .withColumn(
            "doc_cum_before",
            F.col("cum_before") + F.coalesce(F.sum("w").over(wd), F.lit(0).cast("long")),
        )
        .filter(F.col("doc_cum_before") < F.col("budget"))
        .select("key", "source", "w")
    )
    return inside.unionByName(boundary)


def mixture_targets(weights: dict[str, float], total: int) -> dict[str, int]:
    """Per-domain row targets for ``mixture_sample``: floor(total * w/Σw)
    in float64 — exposed separately so the DuckDB oracle can interpolate
    the SAME integers the operator derives (one float expression, one
    truncation, no cross-engine boundary risk)."""
    norm = float(sum(weights.values()))
    return {d: int(total * w / norm) for d, w in weights.items()}


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    total: int,
    key_col: str = "doc_id",
    domain_col: str = "source",
) -> DataFrame:
    """Materialize a training MIXTURE at explicit domain weights — the
    DoReMi / Llama-recipe data-mixing step: each domain d contributes
    floor(total * w_d/Σw) rows, with domains SMALLER than their target
    up-sampled by whole-epoch repetition (every row re-appears once per
    full epoch) plus a deterministic partial epoch, and larger domains
    down-sampled the same way (0 full epochs + a partial). This is the
    one sampling op the rest of the family cannot express: everything
    else only FILTERS; a mixture at fixed weights must also REPLICATE
    (the small-domain-multiple-epochs case every published pretraining
    recipe has).

    Determinism: the partial epoch takes the domain's first
    (target mod n_d) rows in content-hash order — exactly the
    ``sample_to_budget`` walk with unit weights, reused verbatim so the
    selection is the proven scale-safe two-pass bucket plan (no
    per-domain global window). A row's epoch set is a pure function of
    (weights, total, corpus), reproducible on any partitioning/engine.

    Scale notes (100 TB): domain counts are one low-cardinality
    aggregate (broadcast back); full-epoch replication is a scan-side
    ``array_repeat`` + ``posexplode`` — rows multiply AFTER the filter,
    never shuffle; the partial epoch pays only the budget op's boundary-
    bucket window. Output (key, domain, epoch) — epoch numbers full
    passes 0..e-1, the partial epoch is e.

    Domains absent from ``weights`` are excluded (stratified semantics);
    targets may undershoot ``total`` by at most one row per domain
    (floor), the standard convention.
    """
    spark = df.sparkSession
    tgt = sorted(mixture_targets(weights, total).items())
    targets = spark.createDataFrame(tgt, f"{domain_col} string, __target long")
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n"))
    plan = (
        counts.join(F.broadcast(targets), domain_col)
        .select(
            domain_col,
            F.floor(F.col("__target") / F.col("__n")).cast("long").alias("__full"),
            (F.col("__target") % F.col("__n")).alias("__rem"),
        )
    )
    base = df.select(key_col, domain_col).join(F.broadcast(plan), domain_col)
    fulls = (
        base.filter(F.col("__full") > 0)
        .select(
            key_col,
            domain_col,
            F.posexplode(
                F.array_repeat(F.lit(1), F.col("__full").cast("int"))
            ).alias("epoch", "__one"),
        )
        .select(key_col, domain_col, F.col("epoch").cast("long").alias("epoch"))
    )
    partial = sample_to_budget(
        df.select(key_col, domain_col, F.lit(1).cast("long").alias("__w1")),
        plan.select(F.col(domain_col).alias("source"), F.col("__rem").alias("budget")),
        "__w1",
        key_col=key_col,
        source_col=domain_col,
    )
    partials = (
        partial.select(F.col("key").alias(key_col), F.col("source").alias(domain_col))
        .join(F.broadcast(plan), domain_col)
        .select(key_col, domain_col, F.col("__full").alias("epoch"))
    )
    return fulls.unionByName(partials)


def shard_for_training(
    df: DataFrame,
    key_col: str = "doc_id",
    n_shards: int = 32,
    salt: str = "epoch0",
) -> DataFrame:
    """Deterministic global shuffle into training shards — the write-side
    operator a pretraining data pipeline ends with: ``shard =
    floor(u1 * n_shards)`` and a within-shard ``order_key = u2``, both
    from the engine-portable md5 hash unit over a SALTED key. The writer
    then does ``partitionBy(shard)`` + ``sortWithinPartitions(order_key)``
    — a reproducible global permutation with ONE hash-partitioned
    exchange and per-shard sorts, never a global sort (the hash IS the
    permutation). Re-salting (``epoch1``, ...) yields a fresh
    independent permutation per epoch at zero extra state; a key's
    (shard, order) is a pure function of (salt, key), so any engine /
    cluster size / retry reproduces byte-identical shards.

    u1 and u2 use domain-separated saltings (``salt:key`` vs
    ``salt#key``) so shard assignment and intra-shard order are
    independent. Both are exact in a double (52-bit md5 prefix over a
    2^52 divisor), which is what lets the DuckDB oracle replay them
    digit-for-digit."""
    u1 = _hash_unit(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string")))
    u2 = _hash_unit(F.concat(F.lit(salt + "#"), F.col(key_col).cast("string")))
    return df.select(
        "*",
        F.floor(u1 * n_shards).cast("int").alias("shard"),
        u2.alias("order_key"),
    )
