"""Partitioning helpers shared by the operator suite.

Why explicit partition counts: ``df.repartition(col)`` (no number) is a
REPARTITION_BY_COL shuffle, which AQE's runtime coalescing is allowed to
collapse based on *shuffle byte size*. Expression cost is invisible to that
estimate — a few MB of doc ids upstream of an expensive per-row expression
(MinHash signatures, O(n^2) vector probes) gets coalesced to ONE partition
and the whole stage runs on one core. ``df.repartition(n, col)`` is
REPARTITION_BY_NUM, which AQE must preserve, so the explicit form is the
only reliable way to fan CPU-bound (rather than byte-bound) work out.
"""

from __future__ import annotations

import threading
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def parallelism(df: DataFrame, factor: int = 1) -> int:
    """Target partition count: cluster core count (defaultParallelism) times
    an optional oversubscription factor (use >1 when per-row cost is skewed
    so stragglers can be balanced)."""
    return df.sparkSession.sparkContext.defaultParallelism * factor


def spread(df: DataFrame, *cols: Column | str, factor: int = 1) -> DataFrame:
    """Hash-repartition ``df`` across the full cluster with an explicit
    partition count so AQE cannot coalesce the exchange away. Use upstream
    of expensive per-row expressions and ahead of self-joins whose output
    explodes beyond what plan-time size estimates can see."""
    return df.repartition(parallelism(df, factor), *cols)


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's plan-time size estimate for ``df`` (for a parquet scan:
    the sum of input file sizes). Cheap — no job runs. None when the
    estimate is unavailable."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


#: Plan-estimate size (for a parquet scan: compressed file bytes) above
#: which CPU-skew oversubscription (spread factor > 1) pays for itself.
#: Below it the extra partitions are pure task/scheduler overhead: with
#: the partitioning now visible through persist_keyed caches, downstream
#: stages run at the cache's partition count with no AQE coalescing, so a
#: factor tuned for big inputs costs small ones real time. Measured on
#: the PPJoin pairs stage: factor 4 on the 0.6 MB (compressed) sf0.1
#: corpus was ~1 s SLOWER than factor 1; on the 7.5 MB sf1 corpus it was
#: ~1.4 s FASTER (hot-key skew needs the headroom once per-partition work
#: is substantial). 4 MiB is the same fixture-vs-real boundary the replay
#: conf uses (REPLAY_FIXTURE_FEED_BYTES); any production corpus clears it.
SPREAD_FACTOR_MIN_BYTES = 4 << 20


def adaptive_factor(df: DataFrame, factor: int) -> int:
    """``factor`` when ``df``'s plan-time size estimate says the input is
    big enough for oversubscription to beat its task overhead, else 1
    (guide §2: derive partitioning from input size, don't pin a constant
    tuned for one scale). Unknown size keeps ``factor`` — at 100 TB the
    cost of under-parallelizing dwarfs task overhead."""
    if factor <= 1:
        return factor
    size = plan_size_bytes(df)
    if size is not None and size < SPREAD_FACTOR_MIN_BYTES:
        return 1
    return factor


#: Serializes ``persist_keyed``'s scoped AQE switch across threads.
_AQE_SWITCH = threading.Lock()


def persist_keyed(df: DataFrame) -> DataFrame:
    """``persist()`` whose cached hash partitioning stays VISIBLE to
    consumers (r16, guide §2.4: two operations keyed the same way should
    share one exchange).

    With AQE on, ``persist()`` wraps the cached plan in an
    AdaptiveSparkPlan whose output partitioning is unknown until runtime,
    so a downstream join/groupBy on the SAME key the frame was
    ``spread()`` by re-shuffles it anyway (measured on the PPJoin
    candidate join: both sides of the sh-keyed self-join re-exchanged
    hashpartitioning(sh, 128) -> hashpartitioning(sh, 32),
    ENSURE_REQUIREMENTS, even though both read the one cache). Scoping
    ``spark.sql.adaptive.enabled=false`` around the ``persist()`` call —
    InMemoryRelation compiles its cached plan with the session state at
    cache REGISTRATION, not first materialization — keeps the cached
    plan non-adaptive, so InMemoryTableScan exposes the explicit
    repartition's hashpartitioning and every same-key consumer reuses it
    exchange-free.

    Cost: the cached subtree itself loses AQE (no runtime coalescing /
    skew handling INSIDE the cache build — its shuffle widths come from
    ``spark.sql.shuffle.partitions`` and any explicit ``spread``).
    Use ONLY on frames built with an explicit ``spread(df, key)`` whose
    downstream consumers re-key on that same key; AQE stays on for the
    rest of the query.

    Thread safety: the read → switch off → ``persist()`` → restore
    sequence runs under ``_AQE_SWITCH``, so two overlapping calls cannot
    restore each other's ``false`` and leave AQE off for the session.
    The conf is session-global, though: another thread that PLANS a
    query during that short window still sees AQE off.
    """
    conf = df.sparkSession.conf
    with _AQE_SWITCH:
        old = conf.get("spark.sql.adaptive.enabled")
        conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return df.persist()
        finally:
            conf.set("spark.sql.adaptive.enabled", old)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-breaking equi-join: pathological hot keys on the ``big`` side
    are spread across ``n_salts`` reduce partitions.

    Recipe (SCALE.md §Joins): the big side gets a deterministic row salt
    (monotonic id mod n — spreads a hot key's rows evenly without an extra
    hash of payload columns); the small side is exploded n ways so every
    (key, salt) bucket finds its match. Join keys become on + [salt], so a
    key holding 30% of all rows lands on n_salts reducers instead of one.
    Semantics identical to ``big.join(small, on, how)`` for inner/left
    joins (each big row still matches each small row exactly once).

    Use when AQE's skew-join splitting can't help: AQE splits oversized
    *partitions* of sort-merge joins, but a single key that exceeds one
    task's memory inside a shuffled hash join, or skew behind a
    non-splittable stage, needs the key itself broken up.
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left joins, got {how!r}")
    salted_big = big.withColumn(
        "__salt", (F.monotonically_increasing_id() % n_salts).cast("int")
    )
    salted_small = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return salted_big.join(salted_small, [*on, "__salt"], how).drop("__salt")
