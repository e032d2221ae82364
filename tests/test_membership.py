"""Bloom membership index: no-false-negative guarantee, bounded false
positives, incremental-ingest composition (probe → admit definite-new)."""

import pytest
from pyspark.sql import functions as F

from mongo_arrow_spark.operators.membership import (
    bloom_false_positive_rate,
    build_bloom_index,
    probe_bloom,
)

BITS = 1 << 18  # small m so the FP bound is actually exercised
K = 5


@pytest.fixture(scope="module")
def docs(tables):
    return tables["documents"].select("doc_id", "text")


def test_no_false_negatives(docs):
    """Every inserted key probes true — the load-bearing guarantee."""
    index = build_bloom_index(docs, "text", num_bits=BITS, num_hashes=K)
    probed = probe_bloom(docs, index, "text", num_bits=BITS, num_hashes=K)
    assert probed.filter(~F.col("maybe_member")).count() == 0


def test_false_positive_rate_bounded(docs, spark):
    """Never-inserted keys probe true at ≲ the analytic rate (3× slack)."""
    index = build_bloom_index(docs, "text", num_bits=BITS, num_hashes=K)
    n = docs.count()
    fresh = spark.range(2000).select(
        F.concat(F.lit("definitely-new-key-"), F.col("id")).alias("text")
    )
    fp = (
        probe_bloom(fresh, index, "text", num_bits=BITS, num_hashes=K)
        .filter(F.col("maybe_member"))
        .count()
    )
    expected = bloom_false_positive_rate(n, BITS, K)
    assert fp / 2000.0 <= max(3 * expected, 0.01), (fp, expected, n)


def test_incremental_ingest_composition(docs, spark):
    """The ingest gate: batch = half old docs + fresh docs. Old rows are
    all flagged; definite-new rows are genuinely absent from the corpus."""
    index = build_bloom_index(docs, "text", num_bits=BITS, num_hashes=K)
    old = docs.limit(50).select("text")
    fresh = spark.range(50).select(
        F.concat(F.lit("incoming-novel-doc "), F.col("id")).alias("text")
    )
    batch = old.unionAll(fresh)
    probed = probe_bloom(batch, index, "text", num_bits=BITS, num_hashes=K)
    definite_new = probed.filter(~F.col("maybe_member"))
    # no old doc can appear in definite_new (no false negatives)
    leaked = definite_new.join(docs.select("text"), "text", "left_semi").count()
    assert leaked == 0
    # most of the fresh half survives the gate (only Bloom FPs drop out)
    assert definite_new.count() >= 40


def test_index_is_compact(docs):
    """The index never exceeds num_bits/64 words — the artifact that makes
    probe cost corpus-independent."""
    index = build_bloom_index(docs, "text", num_bits=BITS, num_hashes=K)
    rows = index.count()
    assert rows <= BITS // 64
    # words hold at least one set bit each
    assert index.filter(F.col("bits") == 0).count() == 0


def test_probe_preserves_input_columns(docs):
    index = build_bloom_index(docs, "text", num_bits=BITS, num_hashes=K)
    probed = probe_bloom(
        docs, index, "text", num_bits=BITS, num_hashes=K, out_col="seen"
    )
    assert set(probed.columns) == {"doc_id", "text", "seen"}
    assert probed.count() == docs.count()


def test_rowwise_probe_matches_agg_probe(docs, spark):
    """probe_bloom_rowwise (streaming-safe plan) == probe_bloom (batch
    plan) verdict-for-verdict, broadcast and shuffle variants."""
    from mongo_arrow_spark.operators.membership import probe_bloom_rowwise

    index = build_bloom_index(docs, "text", num_bits=BITS, num_hashes=K)
    mixed = docs.limit(80).select("doc_id", "text").unionAll(
        spark.range(40).select(
            (F.col("id") + 10_000_000).alias("doc_id"),
            F.concat(F.lit("rowwise-novel "), F.col("id")).alias("text"),
        )
    )
    agg = probe_bloom(mixed, index, "text", num_bits=BITS, num_hashes=K)
    for bc in (True, False):
        row = probe_bloom_rowwise(
            mixed, index, "text", num_bits=BITS, num_hashes=K, broadcast=bc
        )
        diff = (
            agg.select("doc_id", F.col("maybe_member").alias("a"))
            .join(row.select("doc_id", F.col("maybe_member").alias("b")), "doc_id")
            .filter(F.col("a") != F.col("b"))
            .count()
        )
        assert diff == 0, f"broadcast={bc}"
        assert row.count() == mixed.count()


def test_cc_local_fastpath_matches_distributed_loop(spark):
    """connected_components' size-gated union-find must produce exactly
    the distributed loop's (id, component) labels — including when the
    input carries self-loop pairs (dropped on both paths), when the
    threshold sits exactly at or one below the edge count, for string
    ids, and for no pairs at all. The fast path's labels enter the plan
    as an Arrow local relation, never a Python RDD."""
    import random as _random

    from mongo_arrow_spark.operators.dedup import connected_components

    rng = _random.Random(7)
    pairs = [(rng.randint(0, 300), rng.randint(0, 300)) for _ in range(250)]
    pairs = [(a, b) if a < b else (b, a) for a, b in pairs if a != b]
    pairs += [(42, 42), (9999, 9999)]  # self-loops: no connectivity info
    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    local = connected_components(df)
    plan = local._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    local = local.collect()
    dist = connected_components(df, local_threshold=0).collect()
    assert sorted(map(tuple, local)) == sorted(map(tuple, dist))
    ids = {r["id"] for r in local}
    assert 9999 not in ids  # a vertex with only a self-loop is no pair

    n_edges = len({p for p in pairs if p[0] != p[1]})
    for thr in (n_edges, n_edges - 1):  # fast path, then the loop
        got = connected_components(df, local_threshold=thr).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, dist))

    named = spark.createDataFrame(
        [(f"d{a:03d}", f"d{b:03d}") for a, b in pairs], "id_a string, id_b string"
    )
    s_local = connected_components(named).collect()
    s_dist = connected_components(named, local_threshold=0).collect()
    assert sorted(map(tuple, s_local)) == sorted(map(tuple, s_dist))
    assert len(s_local) == len(local)

    empty = df.limit(0)
    for thr in (1_000_000, 0):
        none = connected_components(empty, local_threshold=thr)
        assert none.columns == ["id", "component"] and none.collect() == []


def test_probe_and_verify_exact(docs, spark):
    """probe_and_verify is EXACT: is_member == ground-truth membership of
    the payload in the corpus, even with a deliberately undersized filter
    (high FP rate) — the verify pass scrubs every false positive."""
    from mongo_arrow_spark.operators.membership import probe_and_verify

    tiny_bits = 1 << 10  # absurdly small -> many Bloom FPs
    index = build_bloom_index(docs, "text", num_bits=tiny_bits, num_hashes=K)
    fresh = spark.range(300).select(
        (F.col("id") + 5_000_000).alias("doc_id"),
        F.concat(F.lit("verify-novel "), F.col("id")).alias("text"),
    )
    batch = docs.limit(120).select("doc_id", "text").unionAll(fresh)
    out = probe_and_verify(
        batch, index, docs, "text", num_bits=tiny_bits, num_hashes=K
    )
    # sanity: the undersized filter really does flag some fresh rows
    truth = batch.join(
        docs.select(F.col("text").alias("t")).distinct(),
        batch["text"] == F.col("t"),
        "left",
    ).select("doc_id", "text", F.col("t").isNotNull().alias("want"))
    joined = out.join(truth.select("doc_id", "want"), "doc_id")
    mismatches = joined.filter(F.col("is_member") != F.col("want")).count()
    assert mismatches == 0
    assert out.count() == batch.count()
    assert set(out.columns) == {"doc_id", "text", "is_member"}


def test_probe_and_verify_shuffle_semi_join_variant(docs, spark):
    """broadcast=False (re-submission-heavy batches) keeps exactness and
    plans no broadcast of the sliver."""
    from mongo_arrow_spark.operators.membership import probe_and_verify

    tiny_bits = 1 << 10
    index = build_bloom_index(docs, "text", num_bits=tiny_bits, num_hashes=K)
    batch = docs.limit(150).select("doc_id", "text")
    out = probe_and_verify(
        batch, index, docs, "text",
        num_bits=tiny_bits, num_hashes=K, broadcast=False,
    )
    # whole batch is drawn from the corpus -> every row exact-member
    assert out.filter(~F.col("is_member")).count() == 0
    assert out.count() == 150
    # no broadcast HINT planted (AQE may still choose one on tiny local
    # data — the contract is that we stop forcing it)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in plan.lower()


def test_probe_join_back_is_content_keyed(docs, spark):
    """Verdict correlation must survive nondeterministic upstream order:
    the join-back is keyed on a content digest, never a positional id.
    Pin (a) no monotonically_increasing_id in the plan, (b) duplicate
    keys all carry one consistent verdict, (c) a shuffled/exchanged
    input probes identically to the unshuffled one."""
    index = build_bloom_index(docs, "text", num_bits=BITS, num_hashes=K)
    probed = probe_bloom(docs, index, "text", num_bits=BITS, num_hashes=K)
    plan = probed._jdf.queryExecution().analyzed().toString()
    assert "monotonically_increasing_id" not in plan
    # duplicated keys after an upstream shuffle (the curate() shape)
    dup = docs.unionAll(docs).repartition(16, "doc_id")
    out = probe_bloom(dup, index, "text", num_bits=BITS, num_hashes=K)
    per_key = out.groupBy("text").agg(
        F.count_distinct("maybe_member").alias("verdicts")
    )
    assert per_key.filter(F.col("verdicts") != 1).count() == 0
    assert out.filter(~F.col("maybe_member")).count() == 0  # still no FNs
    assert out.count() == 2 * docs.count()


def test_fractional_max_df(docs):
    """A float max_df resolves to that fraction of the corpus (a recall-
    stable spelling of the cost/recall dial — see SCALE.md "max_df
    forms, measured"). 0.02 on ~500 docs == absolute 10."""
    from mongo_arrow_spark.operators.dedup import ngram_jaccard_pairs

    n = docs.count()
    frac = ngram_jaccard_pairs(docs, threshold=0.3, max_df=10 / n).collect()
    absolute = ngram_jaccard_pairs(docs, threshold=0.3, max_df=10).collect()
    assert sorted(map(tuple, frac)) == sorted(map(tuple, absolute))


def test_probe_and_verify_nonstring_and_null_keys(docs, spark):
    """r7 (verdict item 2): probe_and_verify must accept non-string key
    columns (digest casts) and give NULL keys an exact verdict instead of
    a never-joining NULL digest — a NULL key is a member iff the corpus
    holds a NULL key."""
    from mongo_arrow_spark.operators.membership import probe_and_verify

    corpus = spark.createDataFrame(
        [(1, 100), (2, 200), (3, None)], "doc_id long, num long"
    )
    index = build_bloom_index(corpus, "num", num_bits=BITS, num_hashes=K)
    batch = spark.createDataFrame(
        [(10, 100), (11, 999), (12, None)], "doc_id long, num long"
    )
    out = probe_and_verify(
        batch, index, corpus, "num", num_bits=BITS, num_hashes=K
    )
    got = {r["doc_id"]: r["is_member"] for r in out.collect()}
    assert got == {10: True, 11: False, 12: True}
    # and with a corpus that has NO null key, a null probe is non-member
    corpus2 = corpus.filter(F.col("num").isNotNull())
    index2 = build_bloom_index(corpus2, "num", num_bits=BITS, num_hashes=K)
    out2 = probe_and_verify(
        batch, index2, corpus2, "num", num_bits=BITS, num_hashes=K
    )
    got2 = {r["doc_id"]: r["is_member"] for r in out2.collect()}
    assert got2 == {10: True, 11: False, 12: False}


def test_null_key_digest_distinct_from_nul_sentinel(spark):
    """r7 (advisor): the digest's NULL encoding must not collide with a
    key whose literal value is the 1-byte string '\\x00' — each key group
    carries its own verdict."""
    corpus = spark.createDataFrame([("\x00",)], "text string")
    index = build_bloom_index(corpus, "text", num_bits=BITS, num_hashes=K)
    batch = spark.createDataFrame(
        [(1, "\x00"), (2, None)], "doc_id long, text string"
    )
    out = probe_bloom(batch, index, "text", num_bits=BITS, num_hashes=K)
    got = {r["doc_id"]: r["maybe_member"] for r in out.collect()}
    assert got[1] is True  # inserted — no false negative
    assert got[2] is False  # NULL never inserted; must not ride along
    from mongo_arrow_spark.operators.membership import probe_and_verify

    exact = probe_and_verify(
        batch, index, corpus, "text", num_bits=BITS, num_hashes=K
    )
    egot = {r["doc_id"]: r["is_member"] for r in exact.collect()}
    assert egot == {1: True, 2: False}
