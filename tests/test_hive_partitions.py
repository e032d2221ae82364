"""Hive-style directory partitioning for the documents source/sink:
partitioned writes (col=value layout, payload excludes partition columns),
partition-column recovery on read (typed from the path, Spark-style
inference), and listing-level pruning under pushdown=true.
"""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from mongo_arrow_spark.sources import register
from mongo_arrow_spark.sources.documents import (
    DocumentsPushdownReader,
    _hive_encode,
    _hive_parts,
    infer_schema,
)
from mongo_arrow_spark.sources.files import FilesSplit


@pytest.fixture(scope="module")
def part_dir(spark, tmp_path_factory):
    """A partitioned dataset written through the sink."""
    register(spark)
    df = spark.createDataFrame(
        [(i, f"doc {i}", ["en", "de", "fr"][i % 3], i % 2) for i in range(60)],
        "doc_id long, text string, lang string, bucket long",
    )
    out = str(tmp_path_factory.mktemp("hive") / "docs")
    (df.write.format("documents")
       .option("partitionBy", "lang,bucket").mode("append").save(out))
    return out, df


def test_write_layout_and_payload(spark, part_dir):
    out, df = part_dir
    dirs = sorted(
        os.path.relpath(os.path.dirname(p), out)
        for p in glob.glob(os.path.join(out, "**", "*.jsonl"), recursive=True)
    )
    assert set(dirs) == {
        f"lang={lang}/bucket={b}" for lang in ("en", "de", "fr") for b in (0, 1)
    }
    # payload excludes the partition columns (hive convention)
    sample = glob.glob(os.path.join(out, "lang=en", "bucket=0", "*.jsonl"))[0]
    with open(sample) as fh:
        doc = json.loads(fh.readline())
    assert set(doc) == {"doc_id", "text"}


def test_read_back_schemaless_recovers_typed_columns(spark, part_dir):
    out, df = part_dir
    back = spark.read.format("documents").load(out)
    # partition columns recovered; bucket inferred numeric, lang string
    dt = dict(back.dtypes)
    assert dt["lang"] == "string" and dt["bucket"] == "bigint"
    a = sorted(map(tuple, df.select("doc_id", "text", "lang", "bucket").collect()))
    b = sorted(map(tuple, back.select("doc_id", "text", "lang", "bucket").collect()))
    assert a == b


def test_read_back_declared_schema(spark, part_dir):
    out, df = part_dir
    back = (
        spark.read.format("documents")
        .option("declaredSchema",
                "doc_id bigint, text string, lang string, bucket bigint")
        .load(out)
    )
    assert back.filter("bucket = 1").count() == 30
    assert back.filter("lang = 'de'").count() == 20


def test_null_and_special_partition_values(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, None), (2, "a/b=c"), (3, "plain")], "id long, k string"
    )
    out = str(tmp_path / "nulls")
    df.write.format("documents").option("partitionBy", "k").mode("append").save(out)
    dirs = {os.path.basename(os.path.dirname(p))
            for p in glob.glob(os.path.join(out, "**", "*.jsonl"), recursive=True)}
    assert "k=__HIVE_DEFAULT_PARTITION__" in dirs
    assert "k=a%2Fb%3Dc" in dirs  # URL-quoted separators
    back = spark.read.format("documents").option(
        "declaredSchema", "id long, k string"
    ).load(out)
    got = {r["id"]: r["k"] for r in back.collect()}
    assert got == {1: None, 2: "a/b=c", 3: "plain"}


def test_partition_pruning_skips_files(spark, part_dir):
    out, _ = part_dir
    from pyspark.sql.datasource import EqualTo
    from pyspark.sql import types as T

    schema = T.StructType.fromDDL(
        "doc_id bigint, text string, lang string, bucket bigint"
    )
    reader = DocumentsPushdownReader(
        schema, {"path": out, "pushdown": "true"}
    )
    total = len(reader.partitions())
    leftover = list(reader.pushFilters([EqualTo(("lang",), "en")]))
    assert leftover == []  # claimed
    pruned = reader.partitions()
    assert 0 < len(pruned) < total
    for s in pruned:
        paths = s.paths if isinstance(s, FilesSplit) else (s.path,)
        for p in paths:
            assert _hive_parts(p)["lang"] == "en"


def test_filter_correctness_with_and_without_pushdown(spark, part_dir):
    out, df = part_dir
    want = sorted(
        r["doc_id"] for r in df.filter("lang = 'fr' AND bucket = 0").collect()
    )
    for opts in ({}, {"pushdown": "true"}):
        rd = spark.read.format("documents").option(
            "declaredSchema",
            "doc_id bigint, text string, lang string, bucket bigint",
        )
        for k, v in opts.items():
            rd = rd.option(k, v)
        got = sorted(
            r["doc_id"]
            for r in rd.load(out)
            .filter((F.col("lang") == "fr") & (F.col("bucket") == 0))
            .collect()
        )
        assert got == want, opts


def test_partitioned_compressed_round_trip(spark, tmp_path):
    """Compressed parts inside partition dirs: bin-packed FilesSplit
    groups may span dirs, so partition values resolve per FILE."""
    df = spark.createDataFrame(
        [(i, f"t{i}", "ab"[i % 2]) for i in range(40)],
        "id long, text string, grp string",
    )
    out = str(tmp_path / "gz")
    (df.write.format("documents")
       .option("partitionBy", "grp")
       .option("compression", "gzip").mode("append").save(out))
    assert glob.glob(os.path.join(out, "grp=a", "*.jsonl.gz"))
    back = spark.read.format("documents").option(
        "declaredSchema", "id long, text string, grp string"
    ).load(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_infer_schema_partition_types(tmp_path):
    d = tmp_path / "p" / "x=3" / "y=2.5" / "z=w"
    d.mkdir(parents=True)
    (d / "f.jsonl").write_text('{"a": 1}\n')
    schema = infer_schema(str(tmp_path / "p"))
    got = {f.name: f.dataType.simpleString() for f in schema.fields}
    # payload ints infer narrow (int32-first, reference widening rule);
    # partition ints go straight to long like Spark's partition inference
    assert got == {"a": "int", "x": "bigint", "y": "double", "z": "string"}


def test_hive_encode_decode_round_trip():
    for v in ["plain", "with space", "a/b=c", "", "日本語"]:
        enc = _hive_encode(v)
        assert "/" not in enc and "=" not in enc
        assert _hive_parts(f"/base/k={enc}/part.jsonl")["k"] == v
    assert _hive_parts("/base/k=__HIVE_DEFAULT_PARTITION__/f.jsonl")["k"] is None


def test_partition_by_validation(spark, tmp_path):
    df = spark.createDataFrame([(1, "x")], "id long, s string")
    with pytest.raises(Exception, match="not in schema"):
        (df.write.format("documents")
           .option("partitionBy", "nope").mode("append").save(str(tmp_path / "v1")))
    with pytest.raises(Exception, match="every column"):
        (df.write.format("documents")
           .option("partitionBy", "id,s").mode("append").save(str(tmp_path / "v2")))


def test_in_filter_pushdown_regression(spark, part_dir):
    """r6 regression: _filter_fn read In.values but the datasource API
    field is In.value — the first pushed In filter raised
    AttributeError. Pin both the claimed-filter evaluation and the
    listing-level pruning for In."""
    from pyspark.sql import types as T
    from pyspark.sql.datasource import In

    out, df = part_dir
    schema = T.StructType.fromDDL(
        "doc_id bigint, text string, lang string, bucket bigint"
    )
    reader = DocumentsPushdownReader(schema, {"path": out, "pushdown": "true"})
    assert list(reader.pushFilters([In(("lang",), ("en", "fr"))])) == []
    pruned = reader.partitions()
    for s in pruned:
        paths = s.paths if isinstance(s, FilesSplit) else (s.path,)
        for p in paths:
            assert _hive_parts(p)["lang"] in ("en", "fr")
    want = sorted(
        r["doc_id"] for r in df.filter("lang IN ('en','fr')").collect()
    )
    got = sorted(
        r["doc_id"]
        for r in spark.read.format("documents")
        .option("declaredSchema",
                "doc_id bigint, text string, lang string, bucket bigint")
        .option("pushdown", "true")
        .load(out)
        .filter(F.col("lang").isin("en", "fr"))
        .collect()
    )
    assert got == want


def test_streaming_from_partitioned_dirs(spark, tmp_path):
    """The change-stream source lists partition dirs recursively, keys
    offsets on relative paths (same-named part files in different dirs
    must not collide), and recovers partition columns per file."""
    import uuid as _uuid

    d = tmp_path / "stream"
    (d / "grp=a").mkdir(parents=True)
    (d / "grp=b").mkdir(parents=True)
    # deliberately identical basenames in both dirs
    (d / "grp=a" / "part-0.jsonl").write_text('{"id": 1}\n')
    (d / "grp=b" / "part-0.jsonl").write_text('{"id": 2}\n')
    register(spark)
    stream = (
        spark.readStream.format("documents")
        .option("declaredSchema", "id long, grp string")
        .load(str(d))
    )
    name = f"hive_{_uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql(f"SELECT id, grp FROM {name}").collect()))
    assert got == [(1, "a"), (2, "b")]


def test_date_and_bool_partition_columns(spark, tmp_path):
    """Typed partition values beyond strings/ints: date and boolean
    round-trip through the path encoding."""
    import datetime as dtm

    register(spark)
    df = spark.createDataFrame(
        [(1, dtm.date(2024, 1, 1), True), (2, dtm.date(2024, 1, 2), False)],
        "id long, day date, flag boolean",
    )
    out = str(tmp_path / "dates")
    (df.write.format("documents")
       .option("partitionBy", "day,flag").mode("append").save(out))
    back = spark.read.format("documents").option(
        "declaredSchema", "id long, day date, flag boolean"
    ).load(out)
    got = sorted(map(tuple, back.collect()))
    assert got == sorted(map(tuple, df.collect()))
    # pruning on a date partition column is not claimed (DateType is not
    # raw-JSON filterable) but post-scan evaluation stays correct
    assert back.filter("day = DATE'2024-01-01'").count() == 1


def test_partition_value_property_round_trip(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.text(min_size=0, max_size=30))
    def check(v):
        enc = _hive_encode(v)
        assert "/" not in enc and os.sep not in enc and "=" not in enc
        assert _hive_parts(f"/b/k={enc}/f.jsonl").get("k") == v

    check()


def test_base_path_option_overrides_discovery_root(spark, tmp_path):
    """r7: Spark-parity ``basePath`` — reading a single partition
    directory directly still recovers the partition column when basePath
    points at the layout root."""
    import json

    from mongo_arrow_spark.sources import register

    root = tmp_path / "corpus"
    for y in (2023, 2024):
        d = root / f"year={y}"
        d.mkdir(parents=True)
        with open(d / "p.jsonl", "w") as fh:
            fh.write(json.dumps({"i": y}) + "\n")
    register(spark)
    # without basePath: reading the leaf dir directly loses the column
    plain = spark.read.format("documents").load(str(root / "year=2024"))
    assert "year" not in plain.columns
    # with basePath: the column comes back, typed
    df = (
        spark.read.format("documents")
        .option("basePath", str(root))
        .load(str(root / "year=2024"))
    )
    rows = df.collect()
    assert [(r["year"], r["i"]) for r in rows] == [(2024, 2024)]
