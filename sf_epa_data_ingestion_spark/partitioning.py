"""Partitioning helpers shared by the operator suite.

Why explicit partition counts: ``df.repartition(col)`` (no number) is a
REPARTITION_BY_COL shuffle, which AQE's runtime coalescing is allowed to
collapse based on *shuffle byte size*. Expression cost is invisible to that
estimate — a few MB of doc ids upstream of an expensive per-row expression
(MinHash signatures, O(n^2) vector probes) gets coalesced to ONE partition
and the whole stage runs on one core. ``df.repartition(n, col)`` is
REPARTITION_BY_NUM, which AQE must preserve, so the explicit form is the
only reliable way to fan CPU-bound (rather than byte-bound) work out.

``cache`` persists a frame that outlives its call under one release
rule (SCALE.md "Cache ownership").
"""

from __future__ import annotations

import threading
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .session import scoped_conf


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
#: the partitioning now visible through keyed caches, downstream
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


#: The frame each owner's latest call cached (see ``cache``).
_OWNED: dict[str, DataFrame] = {}
_OWNED_LOCK = threading.Lock()


def cache(df: DataFrame, *, keyed: bool = False, owner: str | None = None) -> DataFrame:
    """``df.persist()`` for a frame the operator's RETURNED lazy plan still
    reads, so the operator cannot release it (a frame released before
    its function returns keeps Spark's own ``persist``/``unpersist``).

    ``owner`` names the frame's slot: ``"<operator>"``, or
    ``"<operator>.<frame>"`` when an operator caches several. A call
    registers its frame, then releases the slot's previous frame unless
    both are the same plan (``sameSemantics``): a session holds at most
    one call's blocks per slot, and an identical call reuses them (its
    ``persist()`` is a no-op; releasing first would rebuild). An earlier
    call's result stays value-correct: it recomputes from its source.

    ``keyed=True`` keeps the cached hash partitioning VISIBLE (guide
    §2.4). Under AQE the cached plan is an AdaptiveSparkPlan of unknown
    output partitioning, so a same-key join/groupBy re-exchanges a frame
    ``spread()`` for it (the PPJoin sh-keyed self-join re-exchanged both
    sides). InMemoryRelation compiles its plan at registration, so AQE
    is scoped off around ``persist()`` only; the cached subtree loses
    AQE coalescing. Use it only on a ``spread(df, key)`` frame whose
    consumers re-key on that key.
    """
    if not df.is_cached:  # a frame the caller persisted is only registered
        with scoped_conf(df.sparkSession, {"spark.sql.adaptive.enabled": "false"} if keyed else {}):
            df.persist()
    if owner is not None:
        with _OWNED_LOCK:
            prev, _OWNED[owner] = _OWNED.get(owner), df
        # a frame of an earlier session is skipped: its blocks went with it
        if prev is not None and prev.sparkSession is df.sparkSession and not prev.sameSemantics(df):
            prev.unpersist()
    return df


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
