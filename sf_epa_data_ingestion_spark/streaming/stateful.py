"""Stateful streaming operator: per-user running aggregates on Spark's
built-in streaming aggregation.

The reference has no stateful streaming (SURVEY §2.10) — this is the
north-star extension: a running per-user aggregate whose state survives
across micro-batches via the state store, the building block for
streaming sessionization / rate limiting / incremental dedup at 100 TB
(state is partitioned by key across executors; nothing driver-side).

Count, sum and max are algebraic, so the engine's own streaming
aggregate keeps the running partial per user in the state store: state
is O(distinct users), and no row crosses into Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

#: Result schema of ``running_user_stats``.
OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_ts", TimestampType()),
    ]
)


def running_user_stats(events: DataFrame) -> DataFrame:
    """Streaming per-user running totals with persistent state.

    ``events`` is a streaming DataFrame with (user_id, ts, value). For
    each user the state holds (n_events, total_value, last_ts) forever
    (no watermark, no timeout); run it in UPDATE mode to emit the
    user's running totals once per micro-batch in which the user
    appears. Output columns are ``OUTPUT_SCHEMA``.

    Nulls follow SQL aggregate semantics, the same as a batch
    ``COUNT(*)`` / ``SUM(value)`` / ``MAX(ts)``: ``n_events`` counts
    every row, a null ``value`` is skipped by the sum, a null ``ts`` is
    skipped by the max, and a user whose values (or timestamps) are all
    null gets a NULL ``total_value`` (or ``last_ts``).

    Checkpoints written by the earlier ``applyInPandasWithState``
    version of this operator cannot be resumed: its state was a
    flatMapGroupsWithState envelope, this one is a streaming-aggregate
    state. Start such a query from a fresh checkpoint.
    """
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
        F.max("ts").alias("last_ts"),
    )
