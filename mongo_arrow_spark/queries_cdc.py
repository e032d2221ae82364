"""CDC battery entries: change-stream derive / replay / apply.

The change log is derived deterministically from the orders table (two
synthetic snapshots differing by keyed inserts/updates/deletes), so both
entries have exact DuckDB oracles:

- ``cdc_apply``: diff(A→B) applied onto A must reproduce B — graded
  against B computed directly in SQL (the diff/apply pair is validated as
  an inverse, not just smoke-run).
- ``cdc_watch_stream``: the change log written through the engine's own
  documents sink, replayed through the STREAMING ``watch`` surface with
  an availableNow trigger, counted per operationType — graded against the
  closed-form op counts in SQL. Streaming results == batch results on
  identical data, the same bar as streaming_hourly_counts.
"""

from __future__ import annotations

import hashlib
import os
import uuid

from pyspark.sql import functions as F

from mongo_arrow_spark.queries import _t, query


def _snapshots(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.filter(F.col("o_orderkey") % 7 != 0)
    new = orders.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    return old, new


_NEW_SQL = """
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey % 5 <> 0
"""


@query("cdc_apply", _NEW_SQL)
def q_cdc_apply(spark, sf_dir):
    """apply(diff(A→B), A) == B, B independently derived by the oracle."""
    from mongo_arrow_spark.streaming.changes import apply_changes, diff_snapshots

    old, new = _snapshots(spark, sf_dir)
    ev = diff_snapshots(
        old, new, id_col="o_orderkey", ts=F.to_timestamp(F.lit("2026-01-01"))
    )
    return apply_changes(old, ev, id_col="o_orderkey")


def changelog_dir(spark, sf_dir):
    """Where ``q_cdc_watch`` caches its change log: one directory per
    corpus AND per Spark application, so two sessions that replay the
    same corpus at once never overwrite each other's log."""
    key = f"{sf_dir}\0{spark.sparkContext.applicationId}"
    return f"/tmp/mas_changelog_{hashlib.md5(key.encode()).hexdigest()[:10]}"


@query(
    "cdc_watch_stream",
    """
    SELECT 'delete' AS operationType, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 5 = 0
    UNION ALL
    SELECT 'insert', CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_orderkey % 5 <> 0 AND o_orderkey % 7 = 0
    UNION ALL
    SELECT 'update', CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 5 <> 0
                  AND o_orderkey % 3 = 0
    """,
)
def q_cdc_watch(spark, sf_dir):
    """Replay the change log through the streaming watch() surface."""
    from mongo_arrow_spark.sources import register
    from mongo_arrow_spark.streaming.changes import diff_snapshots, watch

    d = changelog_dir(spark, sf_dir)
    marker = os.path.join(d, "_READY")
    if not os.path.exists(marker):
        register(spark)
        old, new = _snapshots(spark, sf_dir)
        ev = diff_snapshots(
            old, new, id_col="o_orderkey", ts=F.to_timestamp(F.lit("2026-01-01"))
        )
        ev.write.format("documents").mode("overwrite").save(d)
        open(marker, "w").close()
    stream = watch(
        spark,
        d,
        "o_orderstatus string, o_totalprice double",
    )
    counts = stream.groupBy("operationType").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    name = f"mas_cdc_{uuid.uuid4().hex[:8]}"
    # A 3-group streaming agg does not need a state store per session
    # shuffle partition (32 at bench size): the state-partition count is
    # frozen from the session conf at query START, so scope it down for
    # the micro-batch and restore. At cluster scale a real watch stream
    # sizes this to live-key cardinality, not the batch-join default.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        (
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
            .awaitTermination(300)
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)
