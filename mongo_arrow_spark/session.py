"""SparkSession bootstrap tuned for this engine.

Local testing runs on ``local[N]`` (one JVM); the configuration is chosen so
the same code scales to a multi-executor cluster: AQE on (runtime re-plan,
skew-join splitting, partition coalescing), Arrow transfer on (every
pandas/UDF boundary is Arrow-batched), shuffle partitions sized to the
parallelism rather than the 200 default.

Sizing rule (``master_cores``): the session's cores come from its
master — ``local[N]``, ``local[*]``, ``local`` — and otherwise from
``SPARK_GRAFT_CPUS`` or the CPUs this process may use. The shuffle
partition count defaults to those cores, so a shuffle stage runs one
wave of tasks. The driver heap defaults to half the host's physical
memory, at most 16 GB.

The codegen cache holds 1000 generated classes, not Spark's 100: one
warm ``curate()`` pass compiles ~119, and an LRU cache smaller than the
classes a pass cycles through never hits, so every pass recompiled them
all (Janino, then the JIT again).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_LOCAL_MASTER = re.compile(r"local(?:\[(\d+|\*)(?:,\s*\d+)?\])?")


def master_cores(master: str | None = None) -> int:
    """Cores a session on ``master`` runs tasks on: ``local[N]`` (also
    ``local[N,F]``) is N, ``local[*]`` the CPUs this process may use,
    ``local`` 1; any other master, or none, ``SPARK_GRAFT_CPUS``, else
    the CPUs this process may use."""
    m = _LOCAL_MASTER.fullmatch(master or "")
    if m is None:
        return int(
            os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        )
    n = m.group(1)
    if n is None:
        return 1
    return len(os.sched_getaffinity(0)) if n == "*" else int(n)


def get_spark(
    app_name: str = "mongo_arrow_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or f"local[{master_cores()}]"
    # driver heap: half the physical memory, at most 16 GB — G1 grows the
    # heap toward its cap, and a 16 GB cap on a 15 GB host met the OOM killer
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_mb = min(16 * 1024, phys // 2 // 2**20)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or master_cores(master)),
        )
        # one warm curate() pass compiles ~119 classes; Spark's default keeps 100
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.selfDestruct.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # driver corpus stores events.ts as TIMESTAMP(NANOS); Spark has no
        # nanos type — read as long and convert in load_tables
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # local corpus files are ~1-10 MB; split small so local[N] scans in
        # parallel (production keeps the 128 MB default — row groups of
        # real 100 TB tables are sized for it)
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"),
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{heap_mb}m",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _ns_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark reads them as
    long (nanosAsLong conf); we restore TimestampType at µs resolution
    (footer-only check, driver-side, O(1))."""
    import pyarrow.parquet as pq

    try:
        schema = pq.ParquetFile(path).schema_arrow
    except Exception:
        return []
    return [f.name for f in schema if str(f.type) == "timestamp[ns]"]


def read_documents_parquet(spark: SparkSession, path: str):
    """Read a parquet file, restoring ns-timestamp columns to TimestampType."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    for col in _ns_timestamp_cols(path):
        # integer `div`, NOT `/`: float division of ~1e18 ns loses the
        # last microsecond (53-bit mantissa) — truncate exactly like
        # DuckDB's ns→µs conversion
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict:
    """Load the driver corpus as a name->DataFrame dict and register temp views."""
    out = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = read_documents_parquet(spark, path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
