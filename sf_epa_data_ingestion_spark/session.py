"""SparkSession factory.

The reference outsourced planning/execution to a remote warehouse
(epa_ingestion.py:872-878 builds a Snowflake connection); here Spark itself
is the engine, so session construction is where the scale posture is set:
AQE on (runtime coalescing + skew-join handling), Arrow on (vectorized
Python interchange), UTC session time, shuffle partitions sized to the
local core count but overridable for cluster runs.

Library code changes session conf only through ``scoped_conf``, so no
library call leaves conf behind in the caller's session.
"""

from __future__ import annotations

import contextlib
import os
import threading
from collections.abc import Iterator

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "sf-epa-data-ingestion-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Scale notes (100 TB posture):
    - AQE enabled: runtime shuffle-partition coalescing, skew-join
      splitting, and dynamic join-strategy switching replace hand-tuning.
    - ``spark.sql.files.maxPartitionBytes`` left at 128 MB: scan tasks
      stay memory-bounded regardless of total input size.
    - Broadcast threshold left at default 10 MB; dimension tables in this
      workload (region/nation/supplier analogs) are far below it, so
      star joins resolve to broadcast-hash without shuffles.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


#: (session, key) -> [(None, value before the scopes; None: unset),
#: then (token, value) of each open scope in the order entered]
_SCOPES: dict[tuple[int, str], list[tuple[object, str | None]]] = {}
_SCOPES_LOCK = threading.Lock()


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, values: dict[str, str]) -> Iterator[None]:
    """Set session conf ``values`` for the body of the ``with`` block. On
    exit, also on error, each key takes the value of the latest open
    scope on it, or once none is open its value from before (or unset),
    so scopes nest and may interleave across threads. The lock guards the
    bookkeeping, never the body: a body waiting on another thread's scope
    (``awaitTermination`` on ``foreachBatch``) cannot deadlock."""
    conf, token, sid = spark.conf, object(), spark._jsparkSession.hashCode()
    entered = []  # the keys set so far: a set() may fail part-way
    try:
        with _SCOPES_LOCK:
            for k, v in values.items():
                before = conf.get(k, None)
                conf.set(k, v)
                _SCOPES.setdefault((sid, k), [(None, before)]).append((token, v))
                entered.append(k)
        yield
    finally:
        with _SCOPES_LOCK:
            for k in entered:
                stack = [s for s in _SCOPES.pop((sid, k)) if s[0] is not token]
                if len(stack) > 1:
                    _SCOPES[(sid, k)] = stack
                if stack[-1][1] is None:
                    conf.unset(k)
                else:
                    conf.set(k, stack[-1][1])
