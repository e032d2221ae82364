"""mongo_arrow_spark.plans — the plan-hygiene census as a product API.

Each landmark count is pinned against a plan CONSTRUCTED to contain it,
and the scale-safety gate's failure messages against plans that violate
each property.
"""

import pytest
from pyspark.sql import functions as F

from mongo_arrow_spark.plans import assert_scale_safe, plan_report

from conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def orders(spark):
    from mongo_arrow_spark.session import load_tables

    return load_tables(spark, SF_DIR)["orders"]


def test_map_only_plan_is_clean(docs):
    r = plan_report(docs.select("doc_id", F.length("text").alias("n")))
    assert r.exchanges == 0 and r.cartesian_products == 0
    assert r.python_free and r.file_scans >= 1
    assert_scale_safe(
        docs.select("doc_id"),
        max_exchanges=0,
        require_python_free=True,
    )


def test_shuffle_and_sort_landmarks(docs):
    agg = docs.groupBy("lang").count()
    r = plan_report(agg)
    assert r.exchanges >= 1
    topk = docs.orderBy(F.desc("n_chars")).limit(5)
    assert plan_report(topk).take_ordered == 1
    full_sort = docs.orderBy("n_chars")
    assert plan_report(full_sort).global_sorts >= 1
    with pytest.raises(AssertionError, match="global sort"):
        assert_scale_safe(full_sort, forbid_global_sort=True)
    with pytest.raises(AssertionError, match="shuffles"):
        assert_scale_safe(agg, max_exchanges=0)


def test_cartesian_flagged(docs, spark):
    small = spark.range(3)
    cross = docs.crossJoin(small)
    assert plan_report(cross).nested_loop_joins + plan_report(
        cross
    ).cartesian_products >= 1
    big_cross = docs.crossJoin(docs.select(F.col("doc_id").alias("d2")).repartition(4))
    rep = plan_report(big_cross)
    if rep.cartesian_products:
        with pytest.raises(AssertionError, match="CartesianProduct"):
            assert_scale_safe(big_cross)


def test_python_eval_detected(docs):
    from pyspark.sql.types import LongType

    @F.udf(LongType())
    def slow(x):
        return len(x or "")

    df = docs.select(slow("text").alias("n"))
    assert plan_report(df).python_evals >= 1
    with pytest.raises(AssertionError, match="Python eval"):
        assert_scale_safe(df, require_python_free=True)


def test_pushdown_detected(orders):
    df = orders.filter(F.col("o_totalprice") > 100.0).select("o_orderkey")
    r = plan_report(df)
    assert r.pushed_filter_scans >= 1
    assert_scale_safe(df, require_pushdown=True)
    no_push = orders.select("o_orderkey")
    with pytest.raises(AssertionError, match="PushedFilters"):
        assert_scale_safe(no_push, require_pushdown=True)


def test_engine_operators_pass_the_gate(docs):
    """The engine's own operators satisfy the gate they ship."""
    from mongo_arrow_spark.operators.dedup import dedup_paragraphs, exact_dedup

    assert_scale_safe(exact_dedup(docs), require_python_free=True)
    assert_scale_safe(dedup_paragraphs(docs), require_python_free=True)


def test_exchange_variants_counted_and_no_aqe_double_count(spark, docs):
    """r8 review fixes (verified-live findings): Exchange SinglePartition
    and RoundRobinPartitioning must count as shuffles, codegen spans
    come from '*(n)' prefixes, and an executed plan (AQE Final+Initial
    sections) must not double-count."""
    single = docs.agg(F.sum("n_chars"))
    assert plan_report(single).exchanges >= 1  # Exchange SinglePartition
    rr = docs.repartition(4)
    assert plan_report(rr).exchanges >= 1  # RoundRobinPartitioning
    with pytest.raises(AssertionError, match="shuffles"):
        assert_scale_safe(single, max_exchanges=0)
    agg = docs.groupBy("lang").count()
    before = plan_report(agg).exchanges
    agg.collect()  # finalize AQE: plan now prints Final + Initial
    after = plan_report(agg).exchanges
    assert after == before
    # codegen '*(n)' markers only exist once AQE finalizes the plan
    assert plan_report(agg).codegen_spans >= 1


def test_crawl_dedup_chain_scans_its_source_once(spark, tmp_path):
    """``file_scans`` counts the engine's own Python data sources
    (printed as ``BatchScan warc[...]``), and the crawl dedup chain
    ``exact_dedup(url_dedup(<warc read>))`` reads its source once: each
    stage picks its survivors in the pass that shuffles them, with no
    aggregate-then-semi-join that would evaluate its input twice."""
    from mongo_arrow_spark.operators.dedup import exact_dedup
    from mongo_arrow_spark.operators.url import url_dedup
    from mongo_arrow_spark.sources.warc import build_warc_record, register_warc

    p = tmp_path / "crawl.warc"
    with open(p, "wb") as fh:
        for i in range(12):
            fh.write(build_warc_record(
                f"<urn:mas:{i}>", f"https://h{i % 3}.example/p/{i % 5}",
                f"<p>body {i % 4}</p>".encode(),
            ))
    register_warc(spark)
    raw = spark.read.format("warc").load(str(p))
    docs = raw.select(
        F.regexp_extract("record_id", r"urn:mas:(\d+)", 1)
        .cast("bigint").alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.col("payload").cast("string").alias("text"),
    )
    out = exact_dedup(url_dedup(docs, "url"))
    assert plan_report(out).file_scans == 1
    assert out.count() == 4  # one survivor per distinct body
