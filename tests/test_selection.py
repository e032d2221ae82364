"""Selection operators: token-budget cut and per-group caps.

Both have exact DuckDB oracles (window cumsum / row_number); the budget
op additionally pins partition-count invariance — the distributed
prefix-sum must be bit-identical to the one-task global window at ANY
partition count, which is the whole point of the design.
"""

import duckdb
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from conftest import shuffle_partitions
from mongo_arrow_spark.operators import selection

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    return c


def _budget_oracle(con, budget):
    return sorted(
        tuple(r)
        for r in con.execute(
            f"""
            WITH t AS (
              SELECT doc_id,
                     len(string_split(text, ' '))::BIGINT AS n_tokens,
                     n_chars
              FROM documents
            ), c AS (
              SELECT doc_id, n_tokens,
                     SUM(n_tokens) OVER (ORDER BY n_chars DESC, doc_id)
                       ::BIGINT AS cum
              FROM t
            )
            SELECT doc_id, n_tokens, cum FROM c WHERE cum <= {budget}
            """
        ).fetchall()
    )


def _run_budget(docs, budget, nparts=8):
    with shuffle_partitions(docs.sparkSession, nparts):
        out = selection.select_token_budget(
            docs, budget, score_col="n_chars", id_col="doc_id"
        )
        return sorted(
            (r["doc_id"], r["n_tokens"], r["cum_tokens"])
            for r in out.select("doc_id", "n_tokens", "cum_tokens").collect()
        )


def test_token_budget_matches_oracle(docs, con):
    total = docs.agg(
        F.sum(F.size(F.split("text", " ", -1)))
    ).first()[0]
    budget = int(total) * 2 // 5
    assert _run_budget(docs, budget) == _budget_oracle(con, budget)


def test_token_budget_partition_invariance(docs, con):
    """The distributed prefix sum is exact at any partition count —
    1 partition (degenerate: the naive global window) and a count far
    exceeding the row density must agree with the oracle bit-for-bit."""
    budget = 30_000
    exp = _budget_oracle(con, budget)
    assert _run_budget(docs, budget, nparts=1) == exp
    assert _run_budget(docs, budget, nparts=97) == exp


def test_token_budget_edges(docs):
    assert _run_budget(docs, 0) == []
    n = docs.count()
    # budget >= corpus total keeps everything
    assert len(_run_budget(docs, 10**12)) == n
    with pytest.raises(ValueError):
        selection.select_token_budget(docs, -1)


def test_token_budget_null_text_counts_zero(spark):
    """A NULL-text document counts 0 tokens and is kept at 1 and at 10
    partitions, globally and per group: under ANSI ``size(NULL)`` is
    NULL, and a window sum over only NULLs (a partition holding just
    that row) is NULL, which the budget filter would drop."""
    df = spark.createDataFrame(
        [(1, "a b c", 3, "x"), (2, None, 2, "x"), (3, "d e", 1, "x")],
        "doc_id long, text string, quality long, g string",
    )
    want = [(1, 3, 3), (2, 0, 3), (3, 2, 5)]
    for nparts, group_col in ((1, None), (10, None), (10, "g")):
        with shuffle_partitions(spark, nparts):
            got = sorted(
                (r["doc_id"], r["n_tokens"], r["cum_tokens"])
                for r in selection.select_token_budget(
                    df, 100, group_col=group_col
                ).collect()
            )
        assert got == want, (nparts, group_col)


def test_token_budget_boundary_doc_excluded(docs):
    """A doc that would overshoot is dropped even when later (lower-
    score) docs would still fit — strict prefix semantics."""
    rows = _run_budget(docs, 10**12)
    # cut the budget to land strictly inside some doc's span
    mid = rows[len(rows) // 2]
    budget = mid[2] - 1  # one token short of including `mid`
    got = _run_budget(docs, budget)
    assert all(r[0] != mid[0] for r in got)
    assert got == [r for r in rows if r[2] <= budget]


def test_cap_per_group_matches_oracle(docs, con):
    out = selection.cap_per_group(
        docs, "source", 7, order_by=[F.desc("n_chars"), F.asc("doc_id")]
    )
    got = sorted(
        (r["source"], r["doc_id"])
        for r in out.select("source", "doc_id").collect()
    )
    exp = sorted(
        tuple(r)
        for r in con.execute(
            """
            SELECT source, doc_id FROM (
              SELECT source, doc_id,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY n_chars DESC, doc_id) AS rk
              FROM documents) WHERE rk <= 7
            """
        ).fetchall()
    )
    assert got == exp


def test_cap_per_group_null_keys_form_a_group(spark):
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, None), (4, "a")],
        "doc_id bigint, g string",
    )
    out = selection.cap_per_group(df, "g", 2)
    rows = sorted(r["doc_id"] for r in out.collect())
    assert rows == [1, 2, 4]  # NULL group capped like any other


def test_cap_per_group_validates_n(docs):
    with pytest.raises(ValueError):
        selection.cap_per_group(docs, "source", 0)


def test_cap_preserves_columns_and_rows_within_cap(docs):
    out = selection.cap_per_group(docs, "lang", 10**9)
    assert out.columns == docs.columns
    assert out.count() == docs.count()


def test_budget_per_group_matches_oracle(docs, con):
    out = selection.select_token_budget(
        docs, 3000, score_col="n_chars", id_col="doc_id", group_col="lang"
    )
    got = sorted(
        (r["lang"], r["doc_id"], r["cum_tokens"])
        for r in out.select("lang", "doc_id", "cum_tokens").collect()
    )
    exp = sorted(
        tuple(r)
        for r in con.execute(
            """
            WITH t AS (
              SELECT doc_id, lang,
                     len(string_split(text,' '))::BIGINT AS n_tokens,
                     n_chars FROM documents
            )
            SELECT lang, doc_id, cum FROM (
              SELECT lang, doc_id,
                     SUM(n_tokens) OVER (
                       PARTITION BY lang
                       ORDER BY n_chars DESC, doc_id)::BIGINT AS cum
              FROM t) WHERE cum <= 3000
            """
        ).fetchall()
    )
    assert got == exp


def test_budget_per_group_validates(docs):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        selection.select_token_budget(docs, -5, group_col="lang")


# ------------------------------------------------ upsampling data recipes


def test_temperature_weights_properties(docs):
    from mongo_arrow_spark.operators.selection import temperature_weights

    w1 = temperature_weights(docs, "lang", alpha=1.0)
    w0 = temperature_weights(docs, "lang", alpha=0.0)
    wh = temperature_weights(docs, "lang", alpha=0.5)
    assert abs(sum(w1.values()) - 1.0) < 1e-12
    # alpha=0 is uniform
    vals = list(w0.values())
    assert max(vals) - min(vals) < 1e-12
    # flattening: the dominant domain's share shrinks as alpha drops
    top = max(w1, key=w1.get)
    assert w0[top] <= wh[top] <= w1[top]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="alpha"):
        temperature_weights(docs, "lang", alpha=-1)


def test_upsample_exact_targets_and_epochs(docs):
    from mongo_arrow_spark.operators.selection import upsample_to_mix

    weights = {"en": 4.0, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0}
    out = upsample_to_mix(docs, weights, n_total=2048, key_col="lang")
    got = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert got == {"en": 1024, "de": 256, "es": 256, "fr": 256, "zh": 256}
    # epochs are dense 0..max per (lang, doc): every copy distinct
    dup = (
        out.groupBy("lang", "doc_id", "epoch")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0
    # determinism under repartitioning
    out2 = upsample_to_mix(
        docs.repartition(13), weights, n_total=2048, key_col="lang"
    )
    a = {(r["doc_id"], r["epoch"]) for r in out.select("doc_id", "epoch").collect()}
    b = {(r["doc_id"], r["epoch"]) for r in out2.select("doc_id", "epoch").collect()}
    assert a == b


def test_upsample_repeats_scarce_domain(spark):
    from mongo_arrow_spark.operators.selection import upsample_to_mix

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "b", "x"), (4, "b", "x"),
         (5, "b", "x"), (6, "b", "x")],
        "doc_id long, src string, text string",
    )
    # demand 8 rows of 'a' (only 2 exist → 4 full epochs each)
    out = upsample_to_mix(
        df, {"a": 1.0}, n_total=8, key_col="src"
    )
    got = sorted(
        (r["doc_id"], r["epoch"]) for r in out.select("doc_id", "epoch").collect()
    )
    assert got == [(1, 0), (1, 1), (1, 2), (1, 3), (2, 0), (2, 1), (2, 2), (2, 3)]


def test_upsample_zero_copy_rows_vanish(spark):
    """sequence(0,-1) is descending in Spark — a zero-copy row must not
    leak a phantom epoch-0 copy."""
    from mongo_arrow_spark.operators.selection import upsample_to_mix

    df = spark.createDataFrame(
        [(i, "a", "x") for i in range(10)], "doc_id long, src string, text string"
    )
    out = upsample_to_mix(df, {"a": 1.0}, n_total=3, key_col="src")
    assert out.count() == 3
    assert out.filter(F.col("epoch") != 0).count() == 0


def test_upsample_no_eligible_domain_raises(spark):
    from mongo_arrow_spark.operators.selection import upsample_to_mix

    df = spark.createDataFrame([(1, "a", "x")], "doc_id long, src string, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="have no rows"):
        upsample_to_mix(df, {"zz": 1.0}, n_total=10, key_col="src")
    # r8 review fix: a weighted-but-absent domain must refuse loudly
    # rather than silently under-deliver its share of n_total
    with _pytest.raises(ValueError, match="zz"):
        upsample_to_mix(df, {"a": 1.0, "zz": 1.0}, n_total=10, key_col="src")
    with _pytest.raises(ValueError, match="positive values"):
        upsample_to_mix(df, {"a": -1.0}, n_total=10, key_col="src")
    with _pytest.raises(ValueError, match="positive values"):
        upsample_to_mix(df, {}, n_total=10, key_col="src")
    with _pytest.raises(ValueError, match="positive"):
        upsample_to_mix(df, {"a": 1.0}, n_total=0, key_col="src")


def test_temperature_weights_drops_null_domain(spark):
    """r8 review fix: NULL domain keys (dirty metadata) are dropped
    instead of crashing the cosmetic sorted()."""
    from mongo_arrow_spark.operators.selection import temperature_weights

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, "b")],
        "doc_id long, src string",
    )
    w = temperature_weights(df, "src", alpha=1.0)
    assert set(w) == {"a", "b"} and abs(sum(w.values()) - 1.0) < 1e-12


def test_upsample_matches_python_reference_random(spark):
    """Randomized differential: upsample_to_mix over random corpora and
    random positive weights == a pure-python replay of the documented
    plan (floor targets, whole epochs, md5-ranked fractional prefix)."""
    import hashlib
    import random

    from mongo_arrow_spark.operators.selection import upsample_to_mix

    rng = random.Random(80802)
    for trial in range(6):
        domains = rng.sample(["a", "b", "c", "d"], rng.randint(1, 4))
        rows, nid = [], 0
        for dkey in domains:
            for _ in range(rng.randint(1, 12)):
                rows.append((nid, dkey, "t"))
                nid += 1
        weights = {dkey: float(rng.randint(1, 5)) for dkey in domains}
        n_total = rng.randint(1, 60)
        df = spark.createDataFrame(rows, "doc_id long, src string, text string")
        got = {
            (r["doc_id"], r["epoch"])
            for r in upsample_to_mix(
                df, weights, n_total, key_col="src"
            ).select("doc_id", "epoch").collect()
        }

        total_w = sum(weights.values())
        want = set()
        for dkey in domains:
            ids = [i for i, s, _ in rows if s == dkey]
            target = int(n_total * (weights[dkey] / total_w))
            full, rem = target // len(ids), target % len(ids)
            ranked = sorted(
                ids,
                key=lambda i: (
                    hashlib.md5(f"mix:{i}".encode()).hexdigest(),
                    i,
                ),
            )
            for rank, i in enumerate(ranked, start=1):
                copies = full + (1 if rank <= rem else 0)
                want |= {(i, e) for e in range(copies)}
        assert got == want, (trial, weights, n_total)


def test_assign_global_rank_partitioning_independent(docs):
    """Exact global rank == the one-task window at any partition count;
    ranks are a dense 1..N permutation."""
    from mongo_arrow_spark.operators.selection import assign_rank

    order = [F.length("text").desc(), F.col("doc_id").asc()]
    with shuffle_partitions(docs.sparkSession, 3):
        ra = {r["doc_id"]: r["rank"] for r in assign_rank(docs, order).collect()}
    with shuffle_partitions(docs.sparkSession, 17):
        rb = {
            r["doc_id"]: r["rank"]
            for r in assign_rank(docs.repartition(11), order).collect()
        }
    assert ra == rb
    n = docs.count()
    assert sorted(ra.values()) == list(range(1, n + 1))


def test_prefix_sum_matches_one_task_window_at_scale(spark):
    """r8 fix: repartitionByRange samples boundaries PER EVALUATION, so
    the offsets collect and the final join must read one persisted
    partitioning — uncached, ranks/cumsums near partition boundaries
    went stale (caught by the sf0.1 gate: 8 divergent rows of 3004).
    Pinned here against Spark's own one-task window at 20k rows."""
    from mongo_arrow_spark.operators.selection import (
        assign_rank,
        select_token_budget,
    )

    df = spark.range(20_000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.lit("w"), (F.col("id") % 97).cast("string"), F.lit("x y")
        ).alias("text"),
        (F.xxhash64(F.col("id")) % 1000).alias("score"),
    )
    order = [F.col("score").asc(), F.col("doc_id").asc()]
    with shuffle_partitions(spark, 24):
        got = {r["doc_id"]: r["rank"] for r in assign_rank(df, order).collect()}
    w = Window.orderBy(*order)
    want = {
        r["doc_id"]: r["rank"]
        for r in df.withColumn(
            "rank", F.row_number().over(w).cast("long")
        ).collect()
    }
    assert got == want

    budget = 30_000
    with shuffle_partitions(spark, 24):
        got_b = {
            (r["doc_id"], r["cum_tokens"])
            for r in select_token_budget(df, budget, score_col="score")
            .select("doc_id", "cum_tokens")
            .collect()
        }
    from mongo_arrow_spark.operators.text import token_count

    w2 = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want_b = {
        (r["doc_id"], r["cum_tokens"])
        for r in df.withColumn("n_tokens", token_count("text").cast("long"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w2).cast("long"))
        .where(F.col("cum_tokens") <= budget)
        .select("doc_id", "cum_tokens")
        .collect()
    }
    assert got_b == want_b


def test_curriculum_rank_null_text_contract(spark):
    """r8 review fix: NULL text is pinned to score -1 on BOTH engines —
    an un-pinned NULL score sorts NULLS FIRST in Spark ASC but NULLS
    LAST in DuckDB ASC, landing the row at opposite ends of the total
    order (under ANSI mode Spark's size(NULL) is NULL, not the legacy
    -1, so the explicit CASE is the only safe pin)."""
    import duckdb as _duck

    from mongo_arrow_spark.battery import ORACLES, QUERIES

    rows = [(1, "the a of x"), (2, None), (3, "zz zz zz")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    import tempfile

    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        (r["doc_id"], r["score"], r["rank"])
        for r in QUERIES["curriculum_rank"](spark, d).collect()
    }
    con = _duck.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = {tuple(r) for r in con.execute(ORACLES["curriculum_rank"]).fetchall()}
    assert got == want
    # NULL-text row ranks FIRST under ASC with score -1
    assert (2, -1, 1) in got


# --- stride-scheduled interleave (r8 twelfth wave) -------------------------


def _interleave_input(spark):
    rows = [(i, "a" if i % 6 < 3 else ("b" if i % 6 < 5 else "c"))
            for i in range(120)]
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_interleave_prefix_proportions(spark):
    """Stride scheduling's defining property: every schedule prefix
    carries each source in proportion to its weight, within one row per
    source (binomial local mix would wobble by O(sqrt(L)))."""
    from mongo_arrow_spark.operators.selection import interleave_sources

    df = _interleave_input(spark)
    w = {"a": 3, "b": 2, "c": 1}
    out = sorted(
        [(r["train_order"], r["source"]) for r in
         interleave_sources(df, w).collect()]
    )
    total_w = sum(w.values())
    seen = {s: 0 for s in w}
    for L, (_, s) in enumerate(out, start=1):
        seen[s] += 1
        for src, cnt in seen.items():
            expected = L * w[src] / total_w
            # within one emission interval of the ideal line
            assert abs(cnt - expected) <= 1 + total_w / w[src]


def test_interleave_partitioning_invariance_and_rank_dense(spark):
    from mongo_arrow_spark.operators.selection import interleave_sources

    df = _interleave_input(spark)
    w = {"a": 2, "b": 1, "c": 1}
    a = sorted(map(tuple, interleave_sources(df.repartition(1), w).collect()))
    b = sorted(map(tuple, interleave_sources(df.repartition(13), w).collect()))
    assert a == b
    ranks = sorted(r["train_order"] for r in
                   interleave_sources(df, w).collect())
    assert ranks == list(range(1, 121))


def test_interleave_unlisted_sources_dropped(spark):
    from mongo_arrow_spark.operators.selection import interleave_sources

    df = _interleave_input(spark)
    out = interleave_sources(df, {"a": 1}).collect()
    assert {r["source"] for r in out} == {"a"}
    # and positions are dense within the source
    assert sorted(r["pos"] for r in out) == list(range(len(out)))


def test_interleave_validation(spark):
    from mongo_arrow_spark.operators.selection import interleave_sources

    df = _interleave_input(spark)
    with pytest.raises(ValueError, match="non-empty"):
        interleave_sources(df, {})
    with pytest.raises(ValueError, match="positive int"):
        interleave_sources(df, {"a": 0})


def test_interleave_rejects_float_weights_and_collisions(spark):
    """r8 review fix: float weights are rejected (not truncated) and
    pre-existing pos/vt columns fail loudly instead of being clobbered."""
    from mongo_arrow_spark.operators.selection import interleave_sources

    df = _interleave_input(spark)
    with pytest.raises(ValueError, match="positive int"):
        interleave_sources(df, {"a": 2.7})
    with pytest.raises(ValueError, match="already carries"):
        interleave_sources(df.withColumn("vt", F.lit(1)), {"a": 1})


def test_interleave_vt_is_smallest_exact_stride(spark):
    """r8 review fix: vt = (pos+1)·(lcm//w) — smallest exact integers,
    no 1e12 factor to overflow at large source sizes."""
    from mongo_arrow_spark.operators.selection import interleave_sources

    df = _interleave_input(spark)
    out = interleave_sources(df, {"a": 3, "b": 2, "c": 1}).collect()
    stride = {"a": 2, "b": 3, "c": 6}  # lcm(3,2,1)=6
    for r in out:
        assert r["vt"] == (r["pos"] + 1) * stride[r["source"]]


# ------------------------------------- grouped distributed prefix (r9)


def test_assign_group_rank_matches_one_task_window(spark):
    """Bit-identity of the grouped distributed prefix rank with
    ``row_number() OVER (PARTITION BY group ORDER BY ...)`` at any
    partition count (1 vs 97), NULL group keys included."""
    from mongo_arrow_spark.operators.selection import assign_rank

    df = spark.range(5_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 19 == 0, None)
        .otherwise((F.col("id") % 4).cast("string"))
        .alias("grp"),
        (F.xxhash64("id") % 1000).alias("score"),
    )
    order = [F.col("score").asc(), F.col("doc_id").asc()]
    w = Window.partitionBy("grp").orderBy(*order)
    want = {
        (r["doc_id"],): (r["grp"], r["rk"])
        for r in df.withColumn(
            "rk", F.row_number().over(w).cast("long")
        ).collect()
    }
    for nparts in (1, 97):
        with shuffle_partitions(spark, nparts):
            got = {
                (r["doc_id"],): (r["grp"], r["rk"])
                for r in assign_rank(df, order, "rk", ["grp"]).collect()
            }
        assert got == want, f"nparts={nparts}"


def test_grouped_prefix_hot_group_spans_partitions(spark):
    """A heavy-hitter group (95 % of rows) must SPAN range partitions
    and be summed by many tasks, instead of streaming through one task
    the way a plain ``Window.partitionBy(group)`` does. The running
    window is keyed by (group, range partition), so the tasks it runs
    in (AQE coalescing off, so one task per shuffle partition) show
    both the span and the bound: at most ``nparts + n_groups − 1``
    (group, partition) pairs."""
    df = spark.range(20_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 20 == 0, F.lit("rare"))
        .otherwise(F.lit("english"))
        .alias("grp"),
    )
    no_coalesce = {"spark.sql.adaptive.coalescePartitions.enabled": "false"}
    with shuffle_partitions(spark, 16, no_coalesce):
        pairs = (
            selection.running_total(
                df, [F.col("doc_id").asc()], group_cols=["grp"], out_col="rk"
            )
            .select("grp", F.spark_partition_id().alias("task"))
            .distinct()
            .collect()
        )
    tasks_per_group = {}
    for r in pairs:
        tasks_per_group[r["grp"]] = tasks_per_group.get(r["grp"], 0) + 1
    assert tasks_per_group["english"] >= 8, tasks_per_group
    assert len(pairs) <= 16 + 2 - 1


def test_upsample_and_interleave_grouped_rank_invariance(spark):
    """The rewired fractional-cut / per-source-position paths are
    partition-count independent (same outputs under wildly different
    input partitionings)."""
    from mongo_arrow_spark.operators.selection import (
        interleave_sources,
        upsample_to_mix,
    )

    df = spark.range(600).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 8, F.lit("web"))
        .otherwise(F.lit("code"))
        .alias("source"),
    )
    weights = {"web": 3, "code": 1}
    a = sorted(
        (r["doc_id"], r["epoch"])
        for r in upsample_to_mix(
            df, weights, 900, key_col="source"
        ).collect()
    )
    b = sorted(
        (r["doc_id"], r["epoch"])
        for r in upsample_to_mix(
            df.repartition(23), weights, 900, key_col="source"
        ).collect()
    )
    assert a == b and len(a) > 0

    ia = sorted(
        (r["doc_id"], r["pos"], r["vt"], r["train_order"])
        for r in interleave_sources(df, weights).collect()
    )
    with shuffle_partitions(spark, 7):
        ib = sorted(
            (r["doc_id"], r["pos"], r["vt"], r["train_order"])
            for r in interleave_sources(df.repartition(23), weights).collect()
        )
    assert ia == ib and len(ia) == 600


def test_ensemble_rank_matches_one_task_windows(docs):
    """Borda fusion == the naive window spelling, at two partition
    counts (the battery oracle re-proves this vs DuckDB; here the pin
    is partition invariance plus the fused ordering contract)."""
    from pyspark.sql import Window as W

    scored = docs.select(
        "doc_id",
        F.coalesce(F.length("text"), F.lit(-1)).alias("a"),
        F.coalesce("n_chars", F.lit(-1)).alias("b"),
    )
    naive = (
        scored.withColumn(
            "ra", F.row_number().over(W.orderBy(F.desc("a"), F.asc("doc_id")))
        )
        .withColumn(
            "rb", F.row_number().over(W.orderBy(F.desc("b"), F.asc("doc_id")))
        )
        .withColumn("ws", 3 * F.col("ra") + F.col("rb"))
        .withColumn(
            "er", F.row_number().over(W.orderBy(F.asc("ws"), F.asc("doc_id")))
        )
    )
    want = {r["doc_id"]: (r["ra"], r["rb"], r["ws"], r["er"]) for r in naive.collect()}
    for nparts in (1, 17):
        with shuffle_partitions(docs.sparkSession, nparts):
            out = selection.ensemble_rank(
                scored.repartition(5), ["a", "b"], weights=[3, 1]
            )
            got = {
                r["doc_id"]: (
                    r["__rank_a"], r["__rank_b"], r["__wsum"], r["ens_rank"]
                )
                for r in out.collect()
            }
        assert got == want


def test_ensemble_rank_validates_and_drops_ranks(docs):
    scored = docs.select("doc_id", F.col("n_chars").alias("a"))
    with pytest.raises(ValueError):
        selection.ensemble_rank(scored, [])
    with pytest.raises(ValueError):
        selection.ensemble_rank(scored, ["a"], weights=[1, 2])
    out = selection.ensemble_rank(scored, ["a"], keep_ranks=False)
    assert "__rank_a" not in out.columns and "ens_rank" in out.columns


def test_ensemble_rank_no_single_partition_exchange(docs):
    """The fusion must never fall back to a one-task global window."""
    from mongo_arrow_spark.plans import plan_string

    scored = docs.select(
        "doc_id",
        F.coalesce(F.length("text"), F.lit(-1)).alias("a"),
        F.coalesce("n_chars", F.lit(-1)).alias("b"),
    )
    with shuffle_partitions(docs.sparkSession, 4):
        out = selection.ensemble_rank(scored, ["a", "b"])
        out.collect()
    assert "Exchange SinglePartition" not in plan_string(out)


def test_ensemble_rank_property_random_frames(spark):
    """Randomized brute-force parity: for arbitrary integer signal
    frames (ties, negatives, skew), the fused ranks equal a pure-python
    Borda computation and ens_rank is a dense 1..N permutation. Few
    seeded draws rather than hypothesis: each example is a Spark job."""
    import random

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        n = rng.randint(1, 60)
        rows = [
            (i, rng.randint(-5, 5), rng.choice([0, 0, 0, rng.randint(-100, 100)]))
            for i in range(n)
        ]
        w = [rng.randint(1, 4), rng.randint(1, 4)]
        df = spark.createDataFrame(rows, "doc_id long, a long, b long")
        with shuffle_partitions(spark, rng.choice([1, 7])):
            got = {
                r["doc_id"]: (r["__rank_a"], r["__rank_b"], r["ens_rank"])
                for r in selection.ensemble_rank(df, ["a", "b"], weights=w)
                .collect()
            }
        # brute python Borda
        ra = {
            d: i + 1
            for i, (d, _, _) in enumerate(
                sorted(rows, key=lambda r: (-r[1], r[0]))
            )
        }
        rb = {
            d: i + 1
            for i, (d, _, _) in enumerate(
                sorted(rows, key=lambda r: (-r[2], r[0]))
            )
        }
        ws = {d: w[0] * ra[d] + w[1] * rb[d] for d, _, _ in rows}
        er = {
            d: i + 1
            for i, d in enumerate(sorted(ws, key=lambda d: (ws[d], d)))
        }
        want = {d: (ra[d], rb[d], er[d]) for d, _, _ in rows}
        assert got == want, f"seed={seed}"
