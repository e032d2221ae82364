"""Round-4 trainer-facing operators: sequence packing, deterministic
corpus shuffle, semantic dedup, and exact duplicate-substring spans.

Oracle parity for the four graded entries runs in test_battery.py; these
pin the algebraic invariants the oracles can't see (conservation,
permutation, survivor consistency, idempotence direction) plus the
determinism-under-repartitioning contract every md5-ordered operator
advertises.
"""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from mongo_arrow_spark.operators import dedup, packing

from conftest import SF_DIR, shuffle_partitions


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


# ------------------------------------------------------------- packing


def test_pack_conserves_tokens_and_fills(docs):
    seq_len = 64
    p = packing.pack_sequences(docs, seq_len=seq_len, n_streams=4)
    m = packing.pack_manifest(p, seq_len=seq_len)
    assert (
        p.agg(F.sum("n_tokens")).first()[0]
        == m.agg(F.sum("n_tokens")).first()[0]
    )
    # every sequence except each stream's last is exactly full
    last = m.groupBy("stream").agg(F.max("seq_id").alias("mx"))
    bad = (
        m.join(last, "stream")
        .filter((F.col("seq_id") < F.col("mx")) & (F.col("n_tokens") != seq_len))
        .count()
    )
    assert bad == 0
    # offsets stay inside [0, seq_len)
    assert p.filter((F.col("seq_offset") < 0) | (F.col("seq_offset") >= seq_len)).count() == 0


def test_pack_deterministic_under_repartition(docs):
    a = packing.pack_sequences(docs, seq_len=128, n_streams=8)
    b = packing.pack_sequences(docs.repartition(13), seq_len=128, n_streams=8)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_shuffle_positions_are_a_permutation(docs):
    s = packing.shuffle_corpus(docs, n_shards=4)
    # each shard's pos set is exactly 0..n-1
    chk = s.groupBy("shard").agg(
        F.count("*").alias("n"),
        F.min("pos").alias("lo"),
        F.max("pos").alias("hi"),
        F.countDistinct("pos").alias("d"),
    )
    bad = chk.filter(
        (F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1) | (F.col("d") != F.col("n"))
    )
    assert bad.count() == 0
    assert s.count() == docs.count()


def test_hash_bucket_range_guard(docs):
    with pytest.raises(ValueError):
        packing.hash_bucket("doc_id", 0, "x")
    with pytest.raises(ValueError):
        packing.hash_bucket("doc_id", 65537, "x")
    with pytest.raises(ValueError):
        packing.pack_sequences(docs, seq_len=0)


def test_hash_bucket_wide_fanout(docs):
    """> 256 buckets switches to 4 hex digits; assignment stays total,
    in-range, and consistent with the 2-digit prefix ordering contract
    (the 2-digit bucket is the 4-digit value's high byte)."""
    wide = docs.select(
        packing.hash_bucket("doc_id", 65536, "pack").alias("w"),
        packing.hash_bucket("doc_id", 256, "pack").alias("n"),
    )
    assert wide.filter("w < 0 or w >= 65536").count() == 0
    assert wide.filter("CAST(FLOOR(w / 256) AS INT) != n").count() == 0


# ------------------------------------------------------- semantic dedup


def test_semantic_survivors_have_no_internal_pair(emb):
    pairs = dedup.semantic_dedup_pairs(emb, threshold=0.2, bits=6)
    surv = dedup.semantic_dedup(emb, threshold=0.2, bits=6)
    ids = surv.select(F.col("vec_id").alias("id_b"))
    # no surviving row may appear as the doomed side of any pair
    assert pairs.join(ids, "id_b", "left_semi").count() == 0
    assert surv.count() + pairs.select("id_b").distinct().count() == emb.count()


def test_semantic_pairs_ordered_and_thresholded(emb):
    pairs = dedup.semantic_dedup_pairs(emb, threshold=0.2, bits=6)
    assert pairs.filter(F.col("id_a") >= F.col("id_b")).count() == 0
    assert pairs.filter(F.col("cosine") < 0.2).count() == 0


def test_semantic_kmeans_variant(emb):
    surv = dedup.semantic_dedup_kmeans(
        emb, threshold=0.2, n_clusters=8, seed=7
    )
    assert 0 < surv.count() <= emb.count()
    # seeded: same call → same survivor set
    again = dedup.semantic_dedup_kmeans(emb, threshold=0.2, n_clusters=8, seed=7)
    assert surv.select("vec_id").exceptAll(again.select("vec_id")).count() == 0


# ------------------------------------------------------ duplicate spans


def test_duplicate_spans_well_formed(docs):
    k = 5
    spans = dedup.duplicate_spans(docs, k=k, min_count=2)
    assert spans.filter(F.col("span_end") - F.col("span_start") < k).count() == 0
    assert spans.filter(F.col("n_windows") < 1).count() == 0
    # islands are maximal: spans of the same doc never overlap or touch
    a, b = spans.alias("a"), spans.alias("b")
    overlaps = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.span_start") < F.col("b.span_start"))
        & (F.col("b.span_start") <= F.col("a.span_end")),
    )
    assert overlaps.count() == 0


def test_duplicate_spans_finds_planted_duplicate(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "totally different words here nothing repeats at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = dedup.duplicate_spans(df, k=4, min_count=2).collect()
    by_doc = {r["doc_id"]: r for r in spans}
    assert set(by_doc) == {1, 2}
    assert by_doc[1]["span_start"] == 0 and by_doc[1]["span_end"] == 8


def test_strip_duplicate_spans_removes_and_preserves(spark):
    rows = [
        (1, "one two three four five six seven eight unique1 tail1"),
        (2, "one two three four five six seven eight unique2 tail2"),
        (3, "untouched document stays exactly as written here today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["text"]
        for r in dedup.strip_duplicate_spans(df, k=4, min_count=2).collect()
    }
    # the shared 8-token prefix is removed from both carriers
    assert out[1] == "unique1 tail1"
    assert out[2] == "unique2 tail2"
    # docs with no spans pass through byte-identical
    assert out[3] == rows[2][1]


def test_duplicate_spans_max_df_cap(docs):
    uncapped = dedup.duplicate_spans(docs, k=5, min_count=2)
    capped = dedup.duplicate_spans(docs, k=5, min_count=2, max_df=3)
    # the cap can only shrink the marked surface
    assert capped.agg(F.sum("n_windows")).first()[0] <= uncapped.agg(
        F.sum("n_windows")
    ).first()[0]


# ------------------------------------------------------ property invariants


def test_pack_property_random_corpora(spark):
    """Packing invariants over randomized corpora: conservation (every
    token lands in exactly one (seq, offset) slot), per-stream slot
    contiguity (sorting docs by (seq_id, seq_offset) tiles the stream's
    token axis with no gap or overlap), and manifest agreement."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=8, deadline=None)
    @given(
        seed=st.integers(min_value=0, max_value=2**31),
        n_docs=st.integers(min_value=1, max_value=60),
        seq_len=st.integers(min_value=8, max_value=128),
        streams=st.integers(min_value=1, max_value=7),
    )
    def check(seed, n_docs, seq_len, streams):
        import random

        rng = random.Random(seed)
        rows = [
            (i, " ".join("w%d" % rng.randrange(50) for _ in range(rng.randrange(1, 40))))
            for i in range(n_docs)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        p = packing.pack_sequences(df, seq_len=seq_len, n_streams=streams)
        out = p.collect()
        assert len(out) == n_docs
        by_stream: dict = {}
        for r in out:
            by_stream.setdefault(r["stream"], []).append(r)
        total = 0
        for rows_s in by_stream.values():
            rows_s.sort(key=lambda r: (r["seq_id"], r["seq_offset"]))
            pos = 0
            for r in rows_s:
                assert r["seq_id"] * seq_len + r["seq_offset"] == pos
                pos += r["n_tokens"]
            total += pos
        assert total == sum(len(t.split(" ")) for _, t in rows)
        m = packing.pack_manifest(p, seq_len=seq_len).collect()
        assert sum(r["n_tokens"] for r in m) == total

    check()


def test_duplicate_spans_property_planted(spark):
    """Planted-duplicate property: a shared run of >= k tokens between two
    docs is always found, and reported spans never overlap per doc."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=8, deadline=None)
    @given(
        seed=st.integers(min_value=0, max_value=2**31),
        k=st.integers(min_value=3, max_value=8),
        dup_len=st.integers(min_value=8, max_value=20),
    )
    def check(seed, k, dup_len):
        import random

        rng = random.Random(seed)
        dup = " ".join("d%d" % i for i in range(dup_len))
        # unique fillers so only the planted run repeats
        fill = lambda tag, n: " ".join(f"{tag}u{i}" for i in range(n))
        rows = [
            (1, fill("a", rng.randrange(1, 10)) + " " + dup),
            (2, dup + " " + fill("b", rng.randrange(1, 10))),
            (3, fill("c", rng.randrange(5, 15))),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        spans = dedup.duplicate_spans(df, k=k, min_count=2).collect()
        docs_with = {r["doc_id"] for r in spans}
        assert {1, 2} <= docs_with and 3 not in docs_with
        # every span is at least k wide; per-doc spans are disjoint
        per_doc: dict = {}
        for r in spans:
            assert r["span_end"] - r["span_start"] >= k
            per_doc.setdefault(r["doc_id"], []).append(
                (r["span_start"], r["span_end"])
            )
        for sp in per_doc.values():
            sp.sort()
            for (s1, e1), (s2, e2) in zip(sp, sp[1:]):
                assert s2 > e1

    check()


def test_materialize_reconstructs_streams(docs):
    """Concatenating a stream's sequences in order reproduces exactly the
    stream's documents in hash order; every non-last sequence is full."""
    seq_len = 64
    m = packing.materialize_sequences(docs, seq_len=seq_len, n_streams=4)
    got = m.groupBy("stream").agg(
        F.concat_ws(
            " ",
            F.array_sort(
                F.collect_list(F.struct("seq_id", F.col("seq_text").alias("t")))
            ).getField("t"),
        ).alias("got")
    )
    p = packing.pack_sequences(docs, seq_len=seq_len, n_streams=4).join(
        docs.select("doc_id", "text"), "doc_id"
    )
    want = p.groupBy("stream").agg(
        F.concat_ws(
            " ",
            F.array_sort(
                F.collect_list(
                    F.struct("seq_id", "seq_offset", F.col("text").alias("t"))
                )
            ).getField("t"),
        ).alias("want")
    )
    assert got.join(want, "stream").filter("got != want").count() == 0
    last = m.groupBy("stream").agg(F.max("seq_id").alias("mx"))
    assert (
        m.join(last, "stream")
        .filter((F.col("seq_id") < F.col("mx")) & (F.col("n_tokens") != seq_len))
        .count()
        == 0
    )


def test_group_packing_equals_independent_per_group_packs(spark, docs):
    """r8: pack_sequences(group_cols=["g"]) must assign each group's
    docs EXACTLY as if that group were packed alone — the grouped window
    is a pure partition refinement of the same deterministic order."""
    tagged = docs.withColumn("g", (F.col("doc_id") % 3).cast("int"))
    grouped = packing.pack_sequences(
        tagged, seq_len=128, n_streams=4, group_cols=["g"]
    )
    for g in range(3):
        alone = packing.pack_sequences(
            tagged.filter(F.col("g") == g), seq_len=128, n_streams=4
        )
        got = {
            r["doc_id"]: (r["stream"], r["seq_id"], r["seq_offset"])
            for r in grouped.filter(F.col("g") == g).collect()
        }
        exp = {
            r["doc_id"]: (r["stream"], r["seq_id"], r["seq_offset"])
            for r in alone.collect()
        }
        assert got == exp


def test_grouped_manifest_counts_per_group(spark, docs):
    tagged = docs.withColumn("g", (F.col("doc_id") % 2).cast("int"))
    packed = packing.pack_sequences(
        tagged, seq_len=128, n_streams=2, group_cols=["g"]
    )
    man = packing.pack_manifest(packed, seq_len=128, group_cols=["g"])
    assert "g" in man.columns
    # full sequences are exactly full, per group
    full = man.filter("fill > 1.0").count()
    assert full == 0


def test_curate_packs_within_split(spark, docs):
    """r8 leak fix: curate's packed sequences never straddle splits —
    every (split, stream) restarts its own sequence numbering at
    (seq_id 0, offset 0), proving val text can't ride in a train
    sequence's tail."""
    from mongo_arrow_spark.operators.curate import curate

    out = curate(
        docs.select("doc_id", "text"),
        jaccard_threshold=None,
        redact_pii=False,
        pack_seq_len=128,
        pack_streams=2,
    )
    firsts = (
        out.groupBy("split", "stream")
        .agg(
            F.min(F.struct("seq_id", "seq_offset")).alias("first")
        )
        .collect()
    )
    assert firsts
    assert all(
        r["first"]["seq_id"] == 0 and r["first"]["seq_offset"] == 0
        for r in firsts
    )


# --- token-balanced shards (r8 tenth wave) --------------------------------


class TestTokenShards:
    def _docs(self, spark):
        rows = [(i, " ".join(["w"] * ((i * 37) % 90 + 1))) for i in range(120)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_matches_one_task_window(self, spark):
        from mongo_arrow_spark.operators.packing import (
            _order_hash,
            assign_token_shards,
        )

        docs = self._docs(spark)
        got = {
            r["doc_id"]: (r["n_tokens"], r["shard"])
            for r in assign_token_shards(docs, 500).collect()
        }
        one = (
            docs.withColumn("n_tokens", F.size(F.split("text", " ", -1)))
            .withColumn("h", _order_hash("doc_id", "shard"))
            .withColumn(
                "excl",
                F.sum("n_tokens").over(
                    Window.orderBy("h", "doc_id").rowsBetween(
                        Window.unboundedPreceding, Window.currentRow
                    )
                )
                - F.col("n_tokens"),
            )
            .withColumn("shard", F.expr("excl div 500"))
        )
        want = {
            r["doc_id"]: (r["n_tokens"], r["shard"]) for r in one.collect()
        }
        assert got == want

    def test_partitioning_invariance(self, spark):
        from mongo_arrow_spark.operators.packing import assign_token_shards

        docs = self._docs(spark)
        a = sorted(
            map(tuple, assign_token_shards(docs.repartition(1), 700).collect())
        )
        b = sorted(
            map(tuple, assign_token_shards(docs.repartition(13), 700).collect())
        )
        assert a == b

    def test_shards_are_token_balanced(self, spark):
        """Every shard except the last is within one max-document of the
        budget (a long doc can overshoot into the next shard's range,
        delaying its first start — so totals wobble by < max_doc on
        either side, never by shard-count multiples)."""
        from mongo_arrow_spark.operators.packing import assign_token_shards

        out = assign_token_shards(self._docs(spark), 600)
        totals = {
            r["shard"]: r["t"]
            for r in out.groupBy("shard")
            .agg(F.sum("n_tokens").alias("t"))
            .collect()
        }
        max_doc = out.agg(F.max("n_tokens")).first()[0]
        last = max(totals)
        assert set(totals) == set(range(last + 1))  # no empty shard ids
        for s, t in totals.items():
            if s != last:
                assert abs(t - 600) < max_doc

    def test_precomputed_counts_and_null_text(self, spark):
        from mongo_arrow_spark.operators.packing import assign_token_shards

        rows = [(1, "a b c", 3), (2, None, 0), (3, "d e", 2)]
        df = spark.createDataFrame(rows, "doc_id long, text string, n long")
        via_col = assign_token_shards(
            df, 4, n_tokens_col="n", order_by=[F.col("doc_id").asc()]
        ).collect()
        via_text = assign_token_shards(
            df, 4, order_by=[F.col("doc_id").asc()]
        ).collect()
        key = lambda r: r["doc_id"]  # noqa: E731
        assert sorted(
            [(r["doc_id"], r["n_tokens"], r["shard"]) for r in via_col]
        ) == sorted(
            [(r["doc_id"], r["n_tokens"], r["shard"]) for r in via_text]
        )
        # NULL text counted 0 and KEPT
        assert {r["doc_id"] for r in via_text} == {1, 2, 3}

    def test_write_training_shards_roundtrip(self, spark, tmp_path):
        from mongo_arrow_spark.operators.packing import (
            assign_token_shards,
            write_training_shards,
        )

        docs = self._docs(spark)
        path = str(tmp_path / "shards")
        write_training_shards(docs, path, 900)
        back = spark.read.parquet(path)
        assert back.count() == 120
        # hive layout: shard is a partition column → pruning applies
        want = {
            r["doc_id"]
            for r in assign_token_shards(docs, 900)
            .filter(F.col("shard") == 0)
            .collect()
        }
        got = {
            r["doc_id"] for r in back.filter(F.col("shard") == 0).collect()
        }
        assert got == want
        plan = (
            back.filter(F.col("shard") == 0)
            ._jdf.queryExecution()
            .toString()
        )
        assert "PartitionFilters" in plan

    def test_validation(self, spark):
        from mongo_arrow_spark.operators.packing import assign_token_shards

        with pytest.raises(ValueError, match="tokens_per_shard"):
            assign_token_shards(self._docs(spark), 0)


class TestBucketBatches:
    def test_capacity_bound_and_bucketing(self, docs):
        from mongo_arrow_spark.operators.packing import bucket_batches

        out = bucket_batches(docs, capacity=600, bucket_width=64)
        rows = out.select(
            "doc_id", "n_tokens", "len_bucket", "batch_id"
        ).collect()
        assert {r["doc_id"] for r in rows} == {
            r["doc_id"] for r in docs.select("doc_id").collect()
        }
        # bucket membership is the documented div
        assert all(r["len_bucket"] == r["n_tokens"] // 64 for r in rows)
        # batch token sums stay below capacity + one bucket-max document
        from collections import defaultdict

        sums, bmax = defaultdict(int), defaultdict(int)
        for r in rows:
            sums[(r["len_bucket"], r["batch_id"])] += r["n_tokens"]
            bmax[r["len_bucket"]] = max(bmax[r["len_bucket"]], r["n_tokens"])
        for (bkt, _), s in sums.items():
            assert s < 600 + max(bmax[bkt], 1)

    def test_partition_invariance(self, docs):
        from mongo_arrow_spark.operators.packing import bucket_batches

        with shuffle_partitions(docs.sparkSession, 1):
            a = {
                (r["doc_id"], r["len_bucket"], r["batch_id"])
                for r in bucket_batches(docs, 600).collect()
            }
        with shuffle_partitions(docs.sparkSession, 29):
            b = {
                (r["doc_id"], r["len_bucket"], r["batch_id"])
                for r in bucket_batches(docs.repartition(13), 600).collect()
            }
        assert a == b

    def test_null_text_lands_in_bucket_zero(self, spark):
        from mongo_arrow_spark.operators.packing import bucket_batches

        df = spark.createDataFrame(
            [(1, None), (2, "a b c")], "doc_id long, text string"
        )
        rows = {
            r["doc_id"]: r
            for r in bucket_batches(df, capacity=10, bucket_width=4).collect()
        }
        assert rows[1]["n_tokens"] == 0 and rows[1]["len_bucket"] == 0
        assert rows[1]["batch_id"] == 0  # kept, not NULL

    def test_validation(self, docs):
        import pytest

        from mongo_arrow_spark.operators.packing import bucket_batches

        with pytest.raises(ValueError):
            bucket_batches(docs, 0)
        with pytest.raises(ValueError):
            bucket_batches(docs, 10, bucket_width=0)
