"""Custom stateful streaming operator (applyInPandasWithState).

The reference has no stateful streaming (SURVEY §2.10) — this is the
north-star extension: a running per-user aggregate whose state survives
across micro-batches via the state store, the building block for
streaming sessionization / rate limiting / incremental dedup at 100 TB
(state is partitioned by key across executors; nothing driver-side).

Semantics: for each user, maintain (n_events, total_value, last_ts)
forever (no timeout) and emit the updated running totals once per
micro-batch in which the user appears.

Python-boundary shape (r16, guide §4.1): applyInPandasWithState pays a
PER-GROUP Arrow→pandas→Arrow round trip (each group is sliced, converted
and re-serialized individually, plus a json+pickle state envelope), so
per-group conversion cost multiplies by the distinct-user count. A
timestamp column is the expensive part of that conversion (~1.35 ms per
33-row group vs ~0.37 ms all-numeric: tz localization per slice), so the
event time crosses the boundary as ``unix_micros`` (exact: Spark
timestamps ARE microsecond longs) and is converted back to a timestamp
in one codegen'd projection after the stateful operator. Same reasoning
inside the fold: numpy reductions over the group's columns and a
template-copy emit replace the pandas Series/dict construction (~530 µs
→ ~170 µs per group). Measured (same-session alternating A/B, min-of-3,
value-identical outputs): replay 7.81 → 6.39 s at sf1 (15 k users),
4.03 → 3.43 s at sf0.1.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

#: Public result schema of ``running_user_stats`` (what downstream sees).
OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_ts", TimestampType()),
    ]
)

#: What actually crosses the Python boundary: ``last_ts`` as epoch
#: microseconds (LongType) — converted back with ``timestamp_micros``
#: in the post-operator projection.
_BOUNDARY_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_ts_us", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_ts_us", LongType()),
    ]
)

#: One-row emit template: ``template.copy()`` + four ``iat`` stores is
#: ~3x cheaper than building a pd.DataFrame from a dict of lists per
#: group (139 µs vs 439 µs measured), and dtypes are pinned to the
#: boundary schema so Arrow needs no cast.
_EMIT_TEMPLATE = pd.DataFrame(
    {
        "user_id": np.zeros(1, dtype=np.int64),
        "n_events": np.zeros(1, dtype=np.int64),
        "total_value": np.zeros(1, dtype=np.float64),
        "last_ts_us": np.zeros(1, dtype=np.int64),
    }
)


def _update_user_stats(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Fold this micro-batch's rows for one user into the running state.

    Values are summed in one numpy pass per batch (Arrow-vectorized);
    state holds three scalars per user — the state store footprint is
    O(distinct users), not O(events). ``last_ts_us`` of ``-(1 << 62)``
    means "no event seen yet": it sorts below every real event time,
    pre-1970 ones included (microseconds since the epoch stay far above
    -2^62 for any representable timestamp).
    """
    (user_id,) = key
    n, total, last_us = (
        state.get if state.exists else (0, 0.0, -(1 << 62))
    )
    for pdf in pdfs:
        n += int(len(pdf))
        total += float(pdf["value"].to_numpy().sum())
        batch_max = int(pdf["ts_us"].to_numpy().max())
        if batch_max > last_us:
            last_us = batch_max
    state.update((n, total, last_us))
    out = _EMIT_TEMPLATE.copy()
    out.iat[0, 0] = user_id
    out.iat[0, 1] = n
    out.iat[0, 2] = total
    out.iat[0, 3] = last_us
    yield out


def _fold_user_stats_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Stateless batch twin of ``_update_user_stats``'s per-group fold:
    same numpy reductions, same template emit, no state envelope. Used
    by the bench's ``running_user_stats_replay`` stage probe to time the
    data-proportional part (shuffle by user + per-group Python boundary)
    separately from the replay's state-store/micro-batch fixed cost."""
    out = _EMIT_TEMPLATE.copy()
    out.iat[0, 0] = int(pdf["user_id"].iat[0])
    out.iat[0, 1] = len(pdf)
    out.iat[0, 2] = float(pdf["value"].to_numpy().sum())
    out.iat[0, 3] = int(pdf["ts_us"].to_numpy().max())
    return out


def user_stats_batch_fold(events: DataFrame) -> DataFrame:
    """One batch pass of the per-user fold over ``events`` (user_id, ts,
    value) — the sub-plan each replay micro-batch runs, minus state.
    ``ts`` may be TIMESTAMP or TIMESTAMP_NTZ (the raw events table is
    NTZ; the replay feed round-trips it to TIMESTAMP through the feed
    schema — both map to the same UTC microsecond count here).

    ``spread`` before the groupBy (partitioning.py): the per-group
    Python-boundary cost is ~2-3 ms/group of CPU that AQE cannot see —
    left to byte-based coalescing, a KB-sized shuffle collapses to ONE
    partition and every group's fold runs serially (measured 4.4 s vs
    1.0 s for the same pass at sf0.1)."""
    from sf_epa_data_ingestion_spark.partitioning import spread

    prepped = spread(
        events.select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "value",
        ),
        "user_id",
    )
    return prepped.groupBy("user_id").applyInPandas(
        _fold_user_stats_pdf, _BOUNDARY_OUTPUT_SCHEMA
    ).select(
        "user_id",
        "n_events",
        "total_value",
        F.timestamp_micros("last_ts_us").alias("last_ts"),
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Streaming per-user running totals with persistent state.

    ``events`` must be a streaming DataFrame with (user_id, ts, value);
    ``ts`` is the event time and must be non-null (it is the thing being
    aggregated — a null event time has no defined "latest"). State is
    partitioned by user_id across the cluster; each micro-batch shuffles
    only its own rows to their state partitions. Output schema is
    ``OUTPUT_SCHEMA`` — the epoch-micros boundary representation is
    internal.
    """
    prepped = events.select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    return (
        prepped.groupBy("user_id")
        .applyInPandasWithState(
            _update_user_stats,
            outputStructType=_BOUNDARY_OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .select(
            "user_id",
            "n_events",
            "total_value",
            F.timestamp_micros("last_ts_us").alias("last_ts"),
        )
    )
