"""The execution-policy module: scoped materialization, the broadcast
budget, and the rule that operator modules share helpers only through
public names."""

import ast
import os

from pyspark.sql import functions as F

from conftest import REPO, cache_entries
from mongo_arrow_spark import execution

OPERATORS = os.path.join(REPO, "mongo_arrow_spark", "operators")


def test_no_cross_module_private_imports():
    """No operator module imports an ``_``-prefixed name from another
    operator module: a helper two modules share is public, or lives in
    ``mongo_arrow_spark.execution``."""
    mods = {f[:-3] for f in os.listdir(OPERATORS) if f.endswith(".py")}
    bad = []
    for mod in sorted(mods):
        with open(os.path.join(OPERATORS, f"{mod}.py")) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom) or not node.module:
                continue
            pkg, _, src = node.module.rpartition(".")
            if pkg == "mongo_arrow_spark.operators" and src != mod:
                bad += [
                    f"{mod}.py:{node.lineno} {src}.{a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
    assert not bad, bad


def test_scope_releases_what_it_materialized(spark):
    baseline = cache_entries(spark)
    outer = execution.materialize(spark.range(5))  # outside any scope
    with execution.scope():
        a = execution.materialize(spark.range(10))
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


def test_curate_inside_scope_releases_cache_same_rows(spark):
    """curate persists its survivor frame (and dedup its shingle bases);
    run and collected inside ``execution.scope()`` it leaves the
    CacheManager as it found it, and the lazy result re-collected after
    the release (recomputed from lineage) returns the same rows."""
    from mongo_arrow_spark.operators import curate as curate_mod

    # six near-dup families (same i%6 → ~0.85 jaccard: fuzzy clusters
    # them, and families containing a holdout doc get decontaminated);
    # a unique suffix keeps exact dedup a no-op and texts distinct
    docs = spark.createDataFrame(
        [
            (i, " ".join(f"g{i % 6}w{j}" for j in range(22)) + f" uniq{i}")
            for i in range(60)
        ],
        "doc_id long, text string",
    )
    holdout = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)

    def rows(out):
        return sorted(
            map(tuple, out.select("doc_id", "split", F.md5("text")).collect())
        )

    baseline = cache_entries(spark)
    with execution.scope():
        out = curate_mod.curate(corpus, holdout, jaccard_threshold=0.3)
        inside = rows(out)
        assert cache_entries(spark) > baseline  # the survivor persist ran
    assert cache_entries(spark) == baseline
    assert inside  # non-degenerate fixture
    assert rows(out) == inside
