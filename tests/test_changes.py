"""Change streams: watch / diff_snapshots / apply_changes.

Correctness bar: (1) the streaming watch over a replayed change log
returns exactly the logged events (and respects resume tokens + $match);
(2) apply(diff(A→B), A) == B on real corpus data — the diff/apply pair is
a proven inverse, which is the property a CDC pipeline actually relies on.
"""

import os
import uuid

import pytest
from pyspark.sql import functions as F

from mongo_arrow_spark.api import Collection
from mongo_arrow_spark.sources import register
from mongo_arrow_spark.streaming import (
    apply_changes,
    diff_snapshots,
    watch,
)


@pytest.fixture(scope="module")
def change_log(spark, tables, tmp_path_factory):
    """A real change log: diff two snapshots of the orders table (B drops
    some rows, mutates some, adds none) and write events as jsonl."""
    d = str(tmp_path_factory.mktemp("changelog"))
    orders = tables["orders"].select("o_orderkey", "o_orderstatus", "o_totalprice")
    old = orders.filter(F.col("o_orderkey") % 7 != 0)  # some deletes in new
    new = (
        orders.filter(F.col("o_orderkey") % 5 != 0)  # some inserts vs old
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")),
        )
    )
    ev = diff_snapshots(
        old, new, id_col="o_orderkey", ts=F.to_timestamp(F.lit("2026-01-01"))
    )
    register(spark)
    ev.write.format("documents").mode("overwrite").save(d)
    return {"dir": d, "old": old, "new": new, "events": ev}


def _drain(stream, spark):
    name = f"chg_{uuid.uuid4().hex[:8]}"
    (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination(300)
    )
    return spark.table(name)


FULL_DDL = "o_orderkey bigint, o_orderstatus string, o_totalprice double"


def test_watch_replays_log_exactly(spark, change_log):
    got = _drain(
        watch(spark, change_log["dir"], FULL_DDL), spark
    )
    exp = change_log["events"]
    assert got.count() == exp.count()
    assert (
        got.select("_id", "operationType", "documentKey")
        .exceptAll(exp.select("_id", "operationType", "documentKey"))
        .count()
        == 0
    )


def test_watch_is_streaming_and_match_filters(spark, change_log):
    s = watch(
        spark,
        change_log["dir"],
        FULL_DDL,
        pipeline=[{"$match": {"operationType": "delete"}}],
    )
    assert s.isStreaming
    got = _drain(s, spark)
    exp = change_log["events"].filter(F.col("operationType") == "delete")
    assert got.count() == exp.count() > 0


def test_watch_match_on_full_document(spark, change_log):
    got = _drain(
        watch(
            spark,
            change_log["dir"],
            FULL_DDL,
            pipeline=[
                {"$match": {"fullDocument.o_totalprice": {"$gt": 200000}}}
            ],
        ),
        spark,
    )
    exp = change_log["events"].filter(F.col("fullDocument.o_totalprice") > 200000)
    assert got.count() == exp.count() > 0


def test_watch_resume_after(spark, change_log):
    n_total = change_log["events"].count()
    mid = change_log["events"].approxQuantile("_id", [0.5], 0)[0]
    got = _drain(
        watch(spark, change_log["dir"], FULL_DDL, resume_after=int(mid)), spark
    )
    exp = change_log["events"].filter(F.col("_id") > int(mid))
    assert got.count() == exp.count() < n_total
    assert got.agg(F.min("_id")).first()[0] > mid


def test_watch_operation_types_and_validation(spark, change_log):
    got = _drain(
        watch(
            spark,
            change_log["dir"],
            FULL_DDL,
            operation_types=["insert", "update"],
        ),
        spark,
    )
    assert got.filter(F.col("operationType") == "delete").count() == 0
    with pytest.raises(ValueError, match="unknown operationType"):
        watch(spark, change_log["dir"], FULL_DDL, operation_types=["upsert"])


def test_watch_project_keeps_resume_token(spark, change_log):
    got = _drain(
        watch(
            spark,
            change_log["dir"],
            FULL_DDL,
            pipeline=[{"$project": {"operationType": 1, "documentKey": 1}}],
        ),
        spark,
    )
    assert got.columns == ["_id", "operationType", "documentKey"]


def test_diff_classifies_ops(change_log):
    ops = dict(
        change_log["events"].groupBy("operationType").count().collect()
    )
    ops = {r: c for r, c in ops.items()}
    assert set(ops) == {"insert", "update", "delete"}
    # inserts: keys %7==0 and %5!=0; deletes: %5==0 and %7!=0 (of old)
    exp_ins = change_log["new"].join(
        change_log["old"], "o_orderkey", "left_anti"
    ).count()
    exp_del = change_log["old"].join(
        change_log["new"], "o_orderkey", "left_anti"
    ).count()
    assert ops["insert"] == exp_ins > 0
    assert ops["delete"] == exp_del > 0
    assert ops["update"] > 0


def test_apply_diff_is_inverse(spark, change_log):
    """apply(diff(A→B), A) == B — the CDC round-trip identity."""
    rebuilt = apply_changes(
        change_log["old"], change_log["events"], id_col="o_orderkey"
    )
    assert rebuilt.exceptAll(change_log["new"]).count() == 0
    assert change_log["new"].exceptAll(rebuilt).count() == 0


def test_apply_latest_wins(spark, change_log):
    """A later event on the same key supersedes an earlier one."""
    max_id = change_log["events"].agg(F.max("_id")).first()[0]
    some_key = change_log["new"].select("o_orderkey").first()[0]
    late_delete = spark.createDataFrame(
        [(max_id + 1, "delete", None, some_key, None)],
        "_id bigint, operationType string, clusterTime timestamp, "
        "documentKey bigint, "
        "fullDocument struct<o_orderstatus string, o_totalprice double>",
    )
    ev = change_log["events"].unionByName(late_delete)
    rebuilt = apply_changes(change_log["old"], ev, id_col="o_orderkey")
    assert rebuilt.filter(F.col("o_orderkey") == some_key).count() == 0
    assert rebuilt.count() == change_log["new"].count() - 1


def test_collection_watch_defaults_schema(spark, tables, change_log):
    coll = Collection(
        tables["orders"].select("o_orderkey", "o_orderstatus", "o_totalprice"),
        "orders",
    )
    s = coll.watch(change_log["dir"])
    assert s.isStreaming
    got = _drain(s, spark)
    assert got.count() == change_log["events"].count()
    assert "fullDocument" in got.columns

def test_aggregate_change_stream_stage(spark, tables, change_log):
    """watch(p) == aggregate([{$changeStream}, *p]) — the MongoDB identity."""
    coll = Collection(
        tables["orders"].select("o_orderkey", "o_orderstatus", "o_totalprice"),
        "orders",
        change_log=change_log["dir"],
    )
    s = coll.aggregate(
        [
            {"$changeStream": {}},
            {"$match": {"operationType": "update"}},
            {"$project": {"operationType": 1, "documentKey": 1}},
        ]
    )
    assert s.isStreaming
    got = _drain(s, spark)
    exp = change_log["events"].filter(F.col("operationType") == "update")
    assert got.count() == exp.count() > 0
    with pytest.raises(ValueError, match="change_log"):
        Collection(tables["orders"], "orders").aggregate([{"$changeStream": {}}])


def test_coll_stats_stage(spark, tables):
    coll = Collection(tables["orders"], "orders")
    row = coll.aggregate(
        [{"$collStats": {"count": {}, "storageStats": {}}}]
    ).first()
    assert row["count"] == tables["orders"].count()
    assert row["storageSize"] > 0 and row["numFiles"] >= 1
    assert row["numFields"] == len(tables["orders"].columns)


def test_maintain_snapshot_converges_to_new(spark, tables, change_log, tmp_path):
    """Seed the snapshot with A, stream diff(A->B) through
    maintain_snapshot, and the parquet snapshot must equal B."""
    from mongo_arrow_spark.streaming import maintain_snapshot

    snap_dir = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    change_log["old"].withColumnRenamed("o_orderkey", "_id").write.parquet(
        snap_dir
    )
    stream = watch(spark, change_log["dir"], FULL_DDL.replace("o_orderkey bigint, ", ""))
    q = maintain_snapshot(stream, snap_dir, checkpoint_dir=ckpt)
    q.awaitTermination(300)
    got = spark.read.parquet(snap_dir)
    exp = change_log["new"].withColumnRenamed("o_orderkey", "_id")
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_cdc_watch_changelog_dir_per_application():
    """The battery's ``cdc_watch_stream`` caches its change log per corpus
    and per Spark application: two sessions replaying the same corpus at
    once get different directories (one shared path let them overwrite
    each other's log), and one application keeps one directory."""
    from types import SimpleNamespace

    from mongo_arrow_spark.queries_cdc import changelog_dir

    def session(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    sf = "/data/sf0.1"
    a, b = changelog_dir(session("local-1"), sf), changelog_dir(session("local-2"), sf)
    assert a != b
    assert changelog_dir(session("local-1"), sf) == a
    assert changelog_dir(session("local-1"), "/data/sf1") != a
