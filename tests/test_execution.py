"""The execution-policy module: scoped materialization, the broadcast
budget, the zip-import guard, and the rule that operator modules (and
source modules) share helpers only through public names."""

import ast
import importlib
import os
import re
import sys
import zipfile
import zipimport

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import REPO, cache_entries
from mongo_arrow_spark import execution

OPERATORS = os.path.join(REPO, "mongo_arrow_spark", "operators")
SOURCES = os.path.join(REPO, "mongo_arrow_spark", "sources")


def test_no_cross_module_private_imports():
    """No operator module imports an ``_``-prefixed name from another
    operator module, and no source module from another source module: a
    helper two modules share is public, or lives in
    ``mongo_arrow_spark.execution`` (operators) or
    ``mongo_arrow_spark.sources.files`` (file sources)."""
    bad = []
    for pkg_dir in (OPERATORS, SOURCES):
        pkg = "mongo_arrow_spark." + os.path.basename(pkg_dir)
        mods = {f[:-3] for f in os.listdir(pkg_dir) if f.endswith(".py")}
        for mod in sorted(mods):
            with open(os.path.join(pkg_dir, f"{mod}.py")) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if not isinstance(node, ast.ImportFrom) or not node.module:
                    continue
                parent, _, src = node.module.rpartition(".")
                if parent == pkg and src != mod:
                    bad += [
                        f"{mod}.py:{node.lineno} {src}.{a.name}"
                        for a in node.names
                        if a.name.startswith("_")
                    ]
    assert not bad, bad


def test_driver_tables_enter_through_local_frame():
    """No operator module, and not ``api.py``, calls ``createDataFrame``
    itself: a driver-held table enters a plan through
    ``execution.local_frame``, an Arrow local relation, never a pickled
    Python RDD that forks a Python worker per partition to read it."""
    paths = [os.path.join(OPERATORS, f) for f in sorted(os.listdir(OPERATORS))]
    paths.append(os.path.join(REPO, "mongo_arrow_spark", "api.py"))
    bad = []
    for path in paths:
        if not path.endswith(".py"):
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read())
        bad += [
            f"{os.path.basename(path)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute) and node.attr == "createDataFrame"
        ]
    assert not bad, bad


def test_prefix_machinery_only_in_selection():
    """Exact running totals and ranks go through
    ``selection.running_total``: no other operator module partitions a
    window by the range-partition id ``__pid`` or reads the exclusive
    offset column ``__off``."""
    bad = []
    for f in sorted(os.listdir(OPERATORS)):
        if not f.endswith(".py") or f == "selection.py":
            continue
        with open(os.path.join(OPERATORS, f)) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "partitionBy"
                and any(
                    isinstance(a, ast.Constant) and a.value == "__pid"
                    for a in node.args
                )
            ):
                bad.append(f"{f}:{node.lineno} window over __pid")
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and re.search(r"\b__off\b", node.value)
            ):
                bad.append(f"{f}:{node.lineno} reads __off")
    assert not bad, bad


def test_scope_releases_what_it_materialized(spark):
    baseline = cache_entries(spark)
    outer = execution.materialize(spark.range(5))  # outside any scope
    with execution.scope():
        a = execution.materialize(spark.range(10))
        # a plan cached outside the scope is reused, not released
        execution.materialize(spark.range(5))
        with execution.scope():
            execution.materialize(spark.range(20))
            assert cache_entries(spark) == baseline + 3
        assert cache_entries(spark) == baseline + 2  # inner one released
        assert a.count() == 10
    assert cache_entries(spark) == baseline + 1  # outer persist untouched
    outer.unpersist()
    assert cache_entries(spark) == baseline


def test_broadcast_budget_reads_spark_parsed_threshold(spark):
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "64m")
        assert execution.broadcast_budget(spark) == 64 * 1024 * 1024
        spark.conf.set(key, "-1")  # disabled: the floor still applies
        assert execution.broadcast_budget(spark) == execution.BROADCAST_FLOOR_BYTES
        spark.conf.set(key, "1k")
        assert execution.broadcast_budget(spark) == execution.BROADCAST_FLOOR_BYTES
    finally:
        spark.conf.set(key, prev)


def test_local_frame_round_trips(spark):
    """Rows with a DDL or StructType schema, pandas and Arrow inputs all
    come back value for value — NULLs and empty inputs included — as a
    LocalRelation, never a Python RDD."""
    import pandas as pd
    import pyarrow as pa

    ddl = "i long, s string, a array<bigint>, d double"
    rows = [
        (1, "x", [1, 2], 0.5),
        (None, None, None, None),
        (-(2**62), "ü✓", [], float("inf")),
    ]
    schema = T.StructType.fromDDL(ddl)
    table = pa.Table.from_pylist([dict(zip("isad", r)) for r in rows])
    pdf = pd.DataFrame({"i": [1, 2], "s": ["a", None], "d": [0.5, None]})
    for data, sch, want in (
        (rows, ddl, rows),
        (rows, schema, rows),
        ([], ddl, []),
        (table, None, rows),
        (pdf, None, [(1, "a", 0.5), (2, None, None)]),
    ):
        df = execution.local_frame(spark, data, sch)
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan
        if sch is not None:
            assert df.schema == schema
        assert [tuple(r) for r in df.collect()] == want


def _doc_io_frame(n=6000):
    """The shape of the benchmark's import table: numeric, string,
    timestamp, struct, list and raw 12-byte ObjectId columns."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(3)
    return pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "qty": rng.integers(0, 1000, n).astype(np.int32),
            "x": np.round(rng.random(n) * 1000.0, 6),
            "name": ["name-%d" % v for v in rng.integers(0, n // 2, n)],
            "ts": (1_700_000_000_000_000 + rng.integers(0, 10**13, n)).astype(
                "datetime64[us]"
            ),
            "sub": [{"a": int(a), "b": "b%d" % (a % 11)} for a in range(n)],
            "tags": [["t%d" % j for j in range(i % 4)] for i in range(n)],
            "oid": [bytes(r) for r in rng.integers(0, 256, (n, 12), dtype=np.uint8)],
        }
    )


def _parts(path, suffix):
    return [f for f in os.listdir(path) if f.startswith("part-") and f.endswith(suffix)]


def test_write_one_task_per_slice(spark, tmp_path, monkeypatch):
    """A 6,000-row frame is far below one ``WRITE_MAX_BYTES`` slice, so
    ``api.write`` runs one write task: one part file for ``documents``
    and one for ``parquet``. With the slice cut to 64 KB the same frame
    spreads over several tasks and part files, with the same rows."""
    from mongo_arrow_spark import api
    from mongo_arrow_spark.sources import register

    register(spark)
    pdf = _doc_io_frame()

    def written(fmt, suffix):
        out = str(tmp_path / f"{fmt}-{execution.WRITE_MAX_BYTES}")
        assert api.write(pdf, out, format=fmt, spark=spark).inserted_count == len(pdf)
        back = spark.read.format(fmt).load(out)
        ids = sorted(r[0] for r in back.select("id").collect())
        assert ids == list(range(len(pdf)))
        return len(_parts(out, suffix))

    assert written("documents", ".jsonl") == 1
    assert written("parquet", ".parquet") == 1
    monkeypatch.setattr(execution, "WRITE_MAX_BYTES", 64 * 1024)
    assert written("documents", ".jsonl") > 1
    assert written("parquet", ".parquet") > 1


def _curate_inputs(spark):
    """Six near-dup families (same i%6 → ~0.85 jaccard: fuzzy clusters
    them, and families containing a holdout doc get decontaminated); a
    unique suffix keeps exact dedup a no-op and texts distinct. Returns
    (corpus, holdout)."""
    docs = spark.createDataFrame(
        [
            (i, " ".join(f"g{i % 6}w{j}" for j in range(22)) + f" uniq{i}")
            for i in range(60)
        ],
        "doc_id long, text string",
    )
    held_out = F.col("doc_id") % 10 == 0
    return docs.filter(~held_out), docs.filter(held_out)


def _rows(out):
    return sorted(map(tuple, out.select("doc_id", "split", F.md5("text")).collect()))


def test_curate_inside_scope_releases_cache_same_rows(spark):
    """curate persists its survivor frame (and dedup its shingle bases);
    run and collected inside ``execution.scope()`` it leaves the
    CacheManager as it found it, and the lazy result re-collected after
    the release (recomputed from lineage) returns the same rows."""
    from mongo_arrow_spark.operators import curate as curate_mod

    corpus, holdout = _curate_inputs(spark)
    baseline = cache_entries(spark)
    with execution.scope():
        out = curate_mod.curate(corpus, holdout, jaccard_threshold=0.3)
        inside = _rows(out)
        assert cache_entries(spark) > baseline  # the survivor persist ran
    assert cache_entries(spark) == baseline
    assert inside  # non-degenerate fixture
    assert _rows(out) == inside


def test_curate_second_call_hits_codegen_cache(spark):
    """The session's codegen cache holds a whole curate pass: the second
    identical call finds its generated classes cached. With Spark's
    100-entry default an LRU cache cycling through more classes than it
    holds never hits, and the second call compiled 83 classes again."""
    from mongo_arrow_spark.operators import curate as curate_mod

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    corpus, holdout = _curate_inputs(spark)
    compiled = []
    for _ in range(2):
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        with execution.scope():
            assert _rows(curate_mod.curate(corpus, holdout, jaccard_threshold=0.3))
        compiled.append(metrics.METRIC_COMPILATION_TIME().getCount() - before)
    assert compiled[1] <= 10, compiled


@pytest.fixture
def zip_reads(monkeypatch):
    """The archives ``zipimport`` reads a directory of, in call order."""
    reads = []
    real = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="the guard is inert on 3.12+")
def test_zip_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch, zip_reads):
    """With the guard (installed by the package import) an unchanged zip
    on ``sys.path`` keeps its directory across ``invalidate_caches()``;
    the same zip rewritten with one more module is read once, and that
    module imports."""
    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, ["zg_first"])
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zg_first").NAME == "zg_first"
        del zip_reads[:]
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in zip_reads
        _write_zip(archive, ["zg_first", "zg_second"])
        importlib.invalidate_caches()
        assert zip_reads.count(archive) == 1
        assert importlib.import_module("zg_second").NAME == "zg_second"
        importlib.invalidate_caches()
        assert zip_reads.count(archive) == 1
    finally:
        sys.modules.pop("zg_first", None)
        sys.modules.pop("zg_second", None)
        sys.path_importer_cache.pop(archive, None)


def test_zip_guard_leaves_lazy_zipimport_alone(monkeypatch):
    """On CPython >= 3.12, whose invalidation is already lazy, the guard
    does not touch ``zipimport``."""

    class Importer:
        def invalidate_caches(self):
            pass

    before = dict(vars(Importer))
    monkeypatch.setattr(zipimport, "zipimporter", Importer)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    execution.guard_zip_imports()
    assert dict(vars(Importer)) == before


def test_reused_worker_keeps_pyspark_zip_directory(spark):
    """A Python worker that ran engine code keeps the guard for its later
    tasks: there ``importlib.invalidate_caches()`` — what Spark's
    ``setup_spark_files`` runs at the start of every task — reads no
    ``pyspark.zip`` directory, although the worker imports pyspark
    from that zip. The first task of a fresh worker may pay."""
    import pyarrow as pa

    def probe(batches):
        import mongo_arrow_spark  # noqa: F401  (the engine import installs the guard)

        zips = [
            imp for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
            and imp.archive.endswith("pyspark.zip")
        ]
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "pid": [os.getpid()],
                "zips": [len(zips)],
                "reads": [sum(a.endswith("pyspark.zip") for a in reads)],
            }
        )

    schema = "pid long, zips long, reads long"
    seen, later = set(), []
    for _ in range(24):
        (pid, zips, reads), = spark.range(1, numPartitions=1).mapInArrow(probe, schema).collect()
        assert zips > 0  # the worker imports pyspark from the zip
        if pid in seen:
            later.append(reads)
        seen.add(pid)
        if len(later) >= 2:
            break
    assert later and later == [0] * len(later), later
