"""Execution policy: the runtime choices an operator makes about HOW its
plan runs — fan-out (``spread``), prefix-sum partition count
(``partition_count``), forced-broadcast budget (``broadcast_budget``),
materialization (``materialize`` / ``scope``), how a driver-held
table enters a plan (``local_frame``) and what a Python worker's import
cache refresh costs (``guard_zip_imports``) — kept in one place.
"""

from __future__ import annotations

import os
import sys
import threading
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

# the least a forced broadcast may take even when the session lowers or
# disables autoBroadcastJoinThreshold: such a broadcast is the
# operator's own plan choice, not an auto-join decision
BROADCAST_FLOOR_BYTES = 10 * 1024 * 1024

# the reference's bulk-write batch cap, 48 MB - 16 KB (api.py:91-95): the
# documents sink's part-file roll and the slice a driver-held table is
# cut into when it enters Spark (``local_frame``)
WRITE_MAX_BYTES = 48 * 1024 * 1024 - 16 * 1024

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


def local_frame(spark, data, schema=None) -> DataFrame:
    """A driver-held table as a DataFrame: a pyarrow Table, a pandas
    DataFrame, or a list of row tuples with ``schema`` (a StructType or
    DDL string), the rows built into Arrow against that schema first.

    Spark takes an Arrow or pandas input as a ``LocalRelation``: no
    Python task ever reads it (a list goes to ``createDataFrame`` as a
    pickled Python RDD, unpickled by one forked Python worker per
    partition), and its size statistics are exact, so a join against it
    can broadcast. It spans at most one partition per
    ``WRITE_MAX_BYTES`` of input (Arrow ``nbytes``, pandas deep memory
    usage) and never more than ``createDataFrame`` gives: every task
    downstream — a Python sink's above all — pays a fixed cost however
    little it handles."""
    import pandas as pd
    import pyarrow as pa

    if isinstance(data, pd.DataFrame):
        nbytes, nrows = int(data.memory_usage(deep=True).sum()), len(data)
    else:
        if not isinstance(data, pa.Table):
            from pyspark.sql.pandas.types import to_arrow_schema

            if isinstance(schema, str):
                schema = StructType.fromDDL(schema)
            arrow_schema = to_arrow_schema(schema)
            cols = list(zip(*data)) or [[] for _ in arrow_schema]
            data = pa.Table.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )
        nbytes, nrows = data.nbytes, data.num_rows
    df = spark.createDataFrame(data, schema)
    n = -(-nbytes // WRITE_MAX_BYTES)
    # a LocalRelation scans as min(rows, defaultParallelism) partitions
    if n < min(nrows, spark.sparkContext.defaultParallelism):
        df = df.coalesce(n)
    return df


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


def guard_zip_imports() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_ino, st_size, st_mtime_ns)`` differs from the stamp taken
    at the importer's last read. Installed once per process by the
    package import; a no-op on CPython >= 3.12, whose invalidation is
    lazy (gh-103200).

    Spark runs ``importlib.invalidate_caches()`` at the start of every
    Python task and planner call (``worker_util.setup_spark_files``);
    on 3.11 that re-parses the whole directory of ``pyspark.zip`` and
    the py4j zip each time (~0.1 s). An archive rewritten on disk is
    still re-read. Importers that exist at install time are stamped
    then: in a worker the package is imported while deserializing a
    task, just after that task's ``setup_spark_files`` re-read them."""
    import zipimport

    cls = zipimport.zipimporter
    if sys.version_info >= (3, 12) or hasattr(cls, "_reread"):
        return

    def stamp(path):
        try:
            st = os.stat(path)
        except OSError:
            return None
        return st.st_ino, st.st_size, st.st_mtime_ns

    def __init__(self, path):
        # stamped before the read; a directory from the cache, or one
        # behind a path into the archive, was read at an unknown time
        pre = None if path in zipimport._zip_directory_cache else stamp(path)
        init(self, path)
        self._stamp = pre if self.archive == path else None

    def invalidate_caches(self):
        now = stamp(self.archive)
        if now is None or now != getattr(self, "_stamp", None):
            cls._reread(self)
            self._stamp = now

    init, cls.__init__ = cls.__init__, __init__
    cls._reread, cls.invalidate_caches = cls.invalidate_caches, invalidate_caches
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, cls):
            imp._stamp = stamp(imp.archive)
