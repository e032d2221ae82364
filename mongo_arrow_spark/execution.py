"""Execution policy: the runtime choices an operator makes about HOW its
plan runs — fan-out (``spread``), prefix-sum partition count
(``partition_count``), forced-broadcast budget (``broadcast_budget``)
and materialization (``materialize`` / ``scope``) — kept in one place.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# the least a forced broadcast may take even when the session lowers or
# disables autoBroadcastJoinThreshold: such a broadcast is the
# operator's own plan choice, not an auto-join decision
BROADCAST_FLOOR_BYTES = 10 * 1024 * 1024

_scopes = threading.local()


def spread(df: DataFrame, rows_per_task: int = 1024) -> DataFrame:
    """Round-robin repartition toward the session's default parallelism,
    ONLY when the input has fewer partitions: the corpus-sized map stage
    downstream (regex extraction, candidate scoring, …) otherwise
    inherits the input's partitioning, and a single-file local read runs
    it on one task. At cluster scale the input already has more splits
    than cores and no shuffle is added.

    Work-aware target (r15): each added partition pays per-task
    constants, so the target is ceil(est_rows / rows_per_task) clamped
    to [1, defaultParallelism], est_rows being the optimizer's
    sizeInBytes over the schema's default row width (right on a log
    scale is enough; OPTIMIZATION_r15.md records the response curve).
    Unreadable stats fall back to full parallelism."""
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    nparts = df.rdd.getNumPartitions()
    if nparts >= par:
        return df
    target = par
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        size = int(plan.stats().sizeInBytes())
        width = sum(
            int(f.dataType().defaultSize()) for f in plan.schema().fields()
        )
        est_rows = size // max(width, 1)
        target = min(par, max(1, -(-est_rows // max(int(rows_per_task), 1))))
    except Exception:
        # stats unreadable (exotic plan/py4j surface) — keep the r14
        # posture rather than silently serializing a corpus-sized stage
        target = par
    if target <= nparts:
        return df
    return df.repartition(target)


def partition_count(spark, num_partitions: int | None = None) -> int:
    """Range-partition count: the session shuffle-partition conf, which
    is all ``selection.running_total`` (every exact prefix op) reads;
    ``layout.write_zordered`` passes its explicit file count instead."""
    return int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))


def broadcast_budget(spark) -> int:
    """Bytes an operator-forced broadcast may take: the session's
    autoBroadcastJoinThreshold as Spark itself parsed it (``"10m"`` is
    10485760, disabled is -1), never below ``BROADCAST_FLOOR_BYTES`` —
    so a cluster that raised the threshold admits proportionally larger
    broadcast sides."""
    conf = spark._jsparkSession.sessionState().conf()
    return max(int(conf.autoBroadcastJoinThreshold()), BROADCAST_FLOOR_BYTES)


def materialize(df: DataFrame) -> DataFrame:
    """Persist ``df`` at MEMORY_AND_DISK (lazily: the first action that
    reads it fills the cache) and register it with the innermost open
    ``scope()`` of this thread, which releases it on exit. Outside any
    scope the frame stays cached until the caller unpersists it. A plan
    some other caller already cached is reused and not registered: the
    scope must not release a cache entry it did not create."""
    fresh = df.storageLevel == StorageLevel.NONE
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    held = getattr(_scopes, "stack", None)
    if held and fresh:
        held[-1].append(df)
    return df


@contextmanager
def scope():
    """Release, on exit, every frame ``materialize`` persisted inside
    the block (on this thread). Collect or write what the block builds
    BEFORE it exits: a lazy result read afterwards is still correct, but
    recomputes what the released frames held."""
    stack = _scopes.__dict__.setdefault("stack", [])
    held: list = []
    stack.append(held)
    try:
        yield
    finally:
        stack.pop()
        for df in held:
            df.unpersist()
