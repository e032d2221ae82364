"""Regression tests for the round-1 advisor findings (ADVICE.md):
$regex+$options folding, $lookup sibling predicates, pushed-filter
coercion, binary-mode split seeks, $mergeObjects last-wins."""

import json
import os

import pytest
from pyspark.sql import functions as F

from mongo_arrow_spark.api import aggregate
from mongo_arrow_spark.errors import MQLTranslationError
from mongo_arrow_spark.mql import translate_expr
from mongo_arrow_spark.mql.match import translate_match
from mongo_arrow_spark.sources import register


@pytest.fixture(scope="module")
def names(spark):
    return spark.createDataFrame(
        [(1, "Alpha"), (2, "alpha"), (3, "ALPHA"), (4, "beta"), (5, None)],
        "id long, s string",
    )


# ---------------------------------------------------------- $regex+$options


def test_regex_options_case_insensitive(names):
    got = sorted(
        r["id"]
        for r in names.filter(
            translate_match({"s": {"$regex": "^al", "$options": "i"}})
        ).collect()
    )
    assert got == [1, 2, 3]  # without folding this returns [2] only


def test_regex_options_multiline_dotall(spark):
    df = spark.createDataFrame([(1, "a\nb"), (2, "axb")], "id long, s string")
    # without (?s), `.` does not match the newline in row 1
    plain = [
        r["id"]
        for r in df.filter(translate_match({"s": {"$regex": "a.b"}})).collect()
    ]
    assert plain == [2]
    got = [
        r["id"]
        for r in df.filter(
            translate_match({"s": {"$regex": "a.b", "$options": "s"}})
        ).collect()
    ]
    assert got == [1, 2]


def test_regex_unsupported_option_raises(names):
    with pytest.raises(MQLTranslationError):
        translate_match({"s": {"$regex": "a", "$options": "l"}})
    with pytest.raises(MQLTranslationError):
        translate_match({"s": {"$options": "i"}})  # $options without $regex


def test_regex_options_in_elem_match(spark):
    df = spark.createDataFrame(
        [(1, ["Foo", "bar"]), (2, ["baz"])], "id long, arr array<string>"
    )
    got = [
        r["id"]
        for r in df.filter(
            translate_match(
                {"arr": {"$elemMatch": {"$regex": "^foo", "$options": "i"}}}
            )
        ).collect()
    ]
    assert got == [1]


# ------------------------------------------------- $lookup sibling predicates


def test_lookup_let_match_sibling_predicates(spark):
    """A leading $match that carries BOTH the correlated $expr and plain
    predicates must apply the plain predicates to the foreign side (the
    round-1 fast path silently dropped them)."""
    orders = spark.createDataFrame(
        [(1, 10), (2, 20)], "o_id long, cust long"
    )
    items = spark.createDataFrame(
        [(10, "active", 1.0), (10, "dead", 2.0), (20, "active", 3.0)],
        "cust long, status string, amt double",
    )
    out = aggregate(
        orders,
        [
            {
                "$lookup": {
                    "from": "items",
                    "let": {"c": "$cust"},
                    "pipeline": [
                        {
                            "$match": {
                                "$expr": {"$eq": ["$cust", "$$c"]},
                                "status": "active",
                            }
                        }
                    ],
                    "as": "matched",
                }
            },
            {"$project": {"o_id": 1, "n": {"$size": "$matched"}}},
        ],
        collections={"items": items},
    )
    got = {r["o_id"]: r["n"] for r in out.collect()}
    assert got == {1: 1, 2: 1}  # dead row filtered out of order 1's array


# ------------------------------------------------ pushed filters on coercion


def test_pushed_filter_sees_coerced_values(spark, tmp_path):
    """EqualTo on a long column whose raw JSON value is 3.7: decode
    truncates to 3, so the pushed filter must match (round 1 compared the
    raw 3.7 and dropped the row)."""
    p = tmp_path / "d.jsonl"
    with open(p, "w") as fh:
        fh.write(json.dumps({"i": 3.7, "tag": "frac"}) + "\n")
        fh.write(json.dumps({"i": 3, "tag": "int"}) + "\n")
        fh.write(json.dumps({"i": 4, "tag": "other"}) + "\n")
    register(spark)
    df = (
        spark.read.format("documents")
        .schema("i long, tag string")
        .load(str(p))
        .filter(F.col("i") == 3)
    )
    assert sorted(r["tag"] for r in df.collect()) == ["frac", "int"]


def test_timestamp_filter_not_claimed(spark, tmp_path):
    """Timestamp predicates compare datetime-vs-raw-str if claimed; they
    must be yielded back to Spark and still evaluate correctly post-scan."""
    p = tmp_path / "t.jsonl"
    with open(p, "w") as fh:
        fh.write(json.dumps({"ts": "2024-01-01T00:00:00", "k": 1}) + "\n")
        fh.write(json.dumps({"ts": "2025-06-01T12:00:00", "k": 2}) + "\n")
    register(spark)
    df = (
        spark.read.format("documents")
        .schema("ts timestamp, k long")
        .load(str(p))
        .filter(F.col("ts") > F.lit("2024-06-01").cast("timestamp"))
    )
    assert [r["k"] for r in df.collect()] == [2]


# ----------------------------------------------------- binary-mode splitting


def test_partition_split_multibyte_utf8(spark, tmp_path):
    """Byte-range splits over JSONL whose payload is multi-byte UTF-8:
    a text-mode seek can land mid-character and crash; binary-mode seeks
    must read every doc exactly once."""
    p = tmp_path / "zh.jsonl"
    with open(p, "w", encoding="utf-8") as fh:
        for i in range(2000):
            fh.write(json.dumps({"i": i, "t": "中文字符" * 10}, ensure_ascii=False) + "\n")
    register(spark)
    df = (
        spark.read.format("documents")
        .option("partitionBytes", str(16 * 1024))
        .load(str(p))
    )
    assert df.count() == 2000
    assert df.agg(F.sum("i")).first()[0] == 2000 * 1999 // 2
    assert df.rdd.getNumPartitions() > 1


# -------------------------------------------------- $mergeObjects last-wins


def test_merge_objects_literal_docs(spark):
    df = spark.createDataFrame([(1,)], "id long")
    row = df.select(
        translate_expr(
            {"$mergeObjects": [{"a": 1, "b": 2}, {"b": 9, "c": 3}]}
        ).alias("m")
    ).first()["m"]
    assert row.asDict() == {"a": 1, "b": 9, "c": 3}


def test_merge_objects_map_columns_last_wins(spark):
    df = spark.createDataFrame(
        [({"a": 1, "b": 2}, {"b": 9, "c": 3})],
        "m1 map<string,int>, m2 map<string,int>",
    )
    got = df.select(
        translate_expr({"$mergeObjects": ["$m1", "$m2"]}).alias("m")
    ).first()["m"]
    assert got == {"a": 1, "b": 9, "c": 3}  # duplicate key: later wins


def test_merge_objects_null_input_is_empty_doc(spark):
    df = spark.createDataFrame(
        [({"a": 1}, None)], "m1 map<string,int>, m2 map<string,int>"
    )
    got = df.select(
        translate_expr({"$mergeObjects": ["$m1", "$m2"]}).alias("m")
    ).first()["m"]
    assert got == {"a": 1}


# ============================ round-2 advisor findings (ADVICE.md round 2)


# -------------------------------------------- $isoWeekYear year boundaries


def test_iso_week_year_boundaries(spark):
    """The owning year of the ISO week, checked at exactly the Jan-1
    boundary cases the round-2 advisor flagged (Mon-Wed dates resolved to
    the previous year under the old next_day-then-minus-7 form)."""
    import datetime

    cases = [
        ("2025-01-01", 2025),  # Wednesday of 2025-W01
        ("2024-12-30", 2025),  # Monday of 2025-W01
        ("2021-01-04", 2021),  # Monday of 2021-W01
        ("2021-01-03", 2020),  # Sunday of 2020-W53
        ("2016-01-01", 2015),  # Friday of 2015-W53
        ("2015-12-31", 2015),  # Thursday of 2015-W53
        ("2020-12-31", 2020),  # Thursday of 2020-W53
        ("2021-01-01", 2020),  # Friday of 2020-W53
        ("2026-08-13", 2026),  # mid-year Thursday sanity
    ]
    df = spark.createDataFrame(
        [(s,) for s, _ in cases], "d string"
    ).withColumn("d", F.to_date("d"))
    got = [
        r["y"]
        for r in df.select(
            translate_expr({"$isoWeekYear": "$d"}).alias("y")
        ).collect()
    ]
    want = [y for _, y in cases]
    assert got == want
    # cross-check every case against Python's own ISO calendar
    for (s, y) in cases:
        assert datetime.date.fromisoformat(s).isocalendar()[0] == y


# ------------------------------------------- calculus-window unit handling


def test_calculus_window_bad_unit_raises_translation_error(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "t long, v double"
    )
    with pytest.raises(MQLTranslationError, match="unit"):
        aggregate(
            df,
            [
                {
                    "$setWindowFields": {
                        "sortBy": {"t": 1},
                        "output": {
                            "d": {
                                "$derivative": {"input": "$v", "unit": "year"},
                                "window": {"documents": ["unbounded", "current"]},
                            }
                        },
                    }
                }
            ],
        )


def test_calculus_window_week_and_millisecond_units(spark):
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(t0, 0.0), (t0 + datetime.timedelta(weeks=2), 4.0)],
        "t timestamp, v double",
    )
    out = aggregate(
        df,
        [
            {
                "$setWindowFields": {
                    "sortBy": {"t": 1},
                    "output": {
                        "dw": {
                            "$derivative": {"input": "$v", "unit": "week"},
                            "window": {"documents": ["unbounded", "unbounded"]},
                        },
                        "dms": {
                            "$derivative": {"input": "$v", "unit": "millisecond"},
                            "window": {"documents": ["unbounded", "unbounded"]},
                        },
                    },
                }
            }
        ],
    ).first()
    assert out["dw"] == pytest.approx(2.0)  # 4 units over 2 weeks
    assert out["dms"] == pytest.approx(4.0 / (14 * 86400 * 1000))


# ----------------------------------------------- $firstN/$lastN keep nulls


def test_first_n_last_n_keep_nulls(spark):
    df = spark.createDataFrame(
        [(1, 10), (1, None), (1, 30), (1, None), (1, 50)],
        "g long, v long",
    ).coalesce(1)  # single partition: collect order == input order
    out = aggregate(
        df,
        [
            {
                "$group": {
                    "_id": "$g",
                    "f": {"$firstN": {"input": "$v", "n": 3}},
                    "l": {"$lastN": {"input": "$v", "n": 3}},
                }
            }
        ],
    ).first()
    assert out["f"] == [10, None, 30]
    assert out["l"] == [30, None, 50]


# ------------------------------------- $dateFromString onNull vs onError


def test_date_from_string_null_routes_to_on_null(spark):
    df = spark.createDataFrame([(None,), ("garbage",)], "s string")
    import datetime

    err = datetime.datetime(1999, 1, 1)
    nul = datetime.datetime(1970, 1, 1)
    got = [
        r["d"]
        for r in df.select(
            translate_expr(
                {
                    "$dateFromString": {
                        "dateString": "$s",
                        "onError": {"$toDate": err.isoformat()},
                        "onNull": {"$toDate": nul.isoformat()},
                    }
                }
            ).alias("d")
        ).collect()
    ]
    assert got == [nul, err]


def test_date_from_string_null_without_on_null_is_null(spark):
    """Null input with only onError set stays null (MQL reserves onError
    for parse failures)."""
    df = spark.createDataFrame([(None,)], "s string")
    got = df.select(
        translate_expr(
            {
                "$dateFromString": {
                    "dateString": "$s",
                    "onError": {"$toDate": "1999-01-01T00:00:00"},
                }
            }
        ).alias("d")
    ).first()["d"]
    assert got is None


# ------------------------------------------------- round-6 advisor findings


def test_null_first_decimal128_column_keeps_tag(tmp_path):
    """A Decimal128 column whose FIRST sampled value is null must still
    infer the tagged decimal128[bid] carrier (round 5 pinned metas[k]={}
    on first observation, silently decoding every value to NULL)."""
    from mongo_arrow_spark.bson_codec import encode_document as encode
    from mongo_arrow_spark.bson_values import Decimal128
    from mongo_arrow_spark.sources.documents import _BSON_TYPE_KEY, infer_schema

    p = tmp_path / "d.bson"
    with open(p, "wb") as fh:
        fh.write(encode({"amount": None, "k": 1}))
        fh.write(encode({"amount": Decimal128("12.34"), "k": 2}))
    schema = infer_schema(str(p))
    f = schema["amount"]
    assert f.metadata.get(_BSON_TYPE_KEY) == "decimal128[bid]"


def test_null_first_objectid_column_keeps_tag(tmp_path):
    from mongo_arrow_spark.bson_codec import encode_document as encode
    from mongo_arrow_spark.bson_values import ObjectId
    from mongo_arrow_spark.sources.documents import _BSON_TYPE_KEY, infer_schema

    p = tmp_path / "d.bson"
    with open(p, "wb") as fh:
        fh.write(encode({"_id": None}))
        fh.write(encode({"_id": ObjectId("0123456789ab0123456789ab")}))
    assert (
        infer_schema(str(p))["_id"].metadata.get(_BSON_TYPE_KEY) == "objectid"
    )


def test_ext_json_date_offset_converts_to_utc(spark, tmp_path):
    """{"$date": "...T05:00:00+05:00"} is midnight UTC; round 5 stripped
    the offset and decoded 05:00, diverging from the bson epoch-millis
    path."""
    import datetime as dtm

    p = tmp_path / "d.jsonl"
    with open(p, "w") as fh:
        fh.write(json.dumps({"ts": {"$date": "2024-01-01T05:00:00+05:00"}, "k": 1}) + "\n")
        fh.write(json.dumps({"ts": {"$date": "2024-01-01T00:00:00Z"}, "k": 2}) + "\n")
        fh.write(json.dumps({"ts": {"$date": 1704067200000}, "k": 3}) + "\n")
    register(spark)
    rows = (
        spark.read.format("documents")
        .schema("ts timestamp, k long")
        .load(str(p))
        .orderBy("k")
        .collect()
    )
    # all three spellings are the same instant
    assert rows[0]["ts"] == rows[1]["ts"] == rows[2]["ts"] == dtm.datetime(
        2024, 1, 1, 0, 0, 0
    )


def test_probe_bloom_non_string_and_null_keys(spark):
    """md5 needs string/binary input: integer keys must probe (round 5
    failed analysis) and NULL keys must get the Bloom verdict for
    xxhash64(NULL), matching what the build side inserted for them."""
    from mongo_arrow_spark.operators.membership import build_bloom_index, probe_bloom

    corpus = spark.createDataFrame([(10,), (20,), (None,)], "id int")
    index = build_bloom_index(corpus, key_col="id", num_bits=1 << 16)
    batch = spark.createDataFrame(
        [(10,), (99,), (None,)], "id int"
    )
    got = {
        r["id"]: r["maybe_member"]
        for r in probe_bloom(batch, index, key_col="id", num_bits=1 << 16).collect()
    }
    assert got[10] is True  # inserted
    assert got[99] is False  # never inserted (no false positive at 64Kib/3 keys)
    assert got[None] is True  # NULL was inserted on the build side


# ------------------------------------------------------- r7 advisor fixes


def test_zst_listed_and_fails_loudly_without_wheel(spark, tmp_path):
    """.zst files are always LISTED; on a runtime without the zstandard
    wheel (this container) the read fails loudly at planning instead of
    silently omitting the files and returning partial rows."""
    import pytest as _pytest

    d = tmp_path / "corpus"
    d.mkdir()
    with open(d / "a.jsonl", "w") as fh:
        fh.write(json.dumps({"i": 1}) + "\n")
    (d / "b.jsonl.zst").write_bytes(b"\x28\xb5\x2f\xfd")  # zstd magic
    from mongo_arrow_spark.sources.documents import _HAS_ZSTD, DocumentsReader
    from mongo_arrow_spark.sources.files import expand

    listed = expand(str(d), DocumentsReader.suffixes)
    assert any(p.endswith(".zst") for p in listed)  # never omitted
    if not _HAS_ZSTD:
        register(spark)
        df = (
            spark.read.format("documents")
            .schema("i long")
            .load(str(d))
        )
        with _pytest.raises(Exception, match="zstandard"):
            df.collect()


def test_hive_parts_relative_to_base_path(spark, tmp_path):
    """name=value directories ABOVE the reader's base path must not leak
    phantom partition columns (a corpus rooted under /data/exp=3/…)."""
    base = tmp_path / "exp=3" / "corpus"
    part = base / "year=2024"
    part.mkdir(parents=True)
    with open(part / "p.jsonl", "w") as fh:
        fh.write(json.dumps({"i": 1}) + "\n")
    register(spark)
    df = spark.read.format("documents").load(str(base))
    assert "year" in df.columns
    assert "exp" not in df.columns
    row = df.collect()[0]
    assert row["year"] == 2024 and row["i"] == 1


def test_canonical_survivors_no_forced_broadcast(spark):
    """r8 ADVICE/verdict fix: the per-component winner table is
    UNBOUNDED (one row per near-dup cluster), so the join-back must not
    carry a mandatory broadcast hint — AQE decides, and at web scale the
    plan degrades to a shuffled join instead of OOMing."""
    from mongo_arrow_spark.operators.dedup import canonical_survivors

    df = spark.createDataFrame(
        [(1, "a", 5), (2, "b", 9), (3, "c", 1)], "doc_id long, text string, score long"
    )
    comps = spark.createDataFrame([(1, 1), (2, 1)], "id long, component long")
    out = canonical_survivors(df, comps, score_col="score")
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan and "UnresolvedHint" not in plan
    rows = {r["doc_id"] for r in out.collect()}
    assert rows == {2, 3}  # best-score winner of {1,2} plus unclustered 3


def test_apply_bucket_ratios_zero_gram_doc_stays_eligible(spark):
    """r8 ADVICE fix: a document that tokenizes to zero grams takes
    log_importance 0.0 (weight 1) and remains eligible for
    importance_resample — and the graded DuckDB oracle now LEFT JOINs so
    both engines agree on that row."""
    from mongo_arrow_spark.operators import quality

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma delta")],
        "doc_id long, text string",
    )
    target = docs.filter(F.col("doc_id") == 1)
    model = quality.fit_bucket_ratios(docs, target, buckets=64)
    # a later batch containing an empty-text doc (zero tokens after the
    # whitespace split contract still yields [''] → one gram; NULL text
    # is the true zero-gram case)
    batch = spark.createDataFrame(
        [(3, "alpha beta"), (4, None)], "doc_id long, text string"
    )
    weighted = quality.apply_bucket_ratios(batch, model)
    by_id = {r["doc_id"]: r["log_importance"] for r in weighted.collect()}
    assert by_id[4] == 0.0  # zero-gram doc: neutral weight, not dropped
    assert by_id[3] != 0.0
    samp = quality.importance_resample(batch, None, k=2, model=model)
    assert {r["doc_id"] for r in samp.collect()} == {3, 4}


# ------------------------------------------------- r9 ADVICE regressions


def test_pq_topk_skips_corrupt_code_rows(spark):
    """r9 ADVICE fix: caller-supplied code arrays with NULL elements,
    out-of-range code ids, or the wrong length must be SKIPPED, not
    scored to a NULL distance that asc-sorts ahead of real neighbors."""
    from mongo_arrow_spark.operators.similarity import PQModel, pq_topk

    model = PQModel(codebooks=[[[0, 0], [10_000, 10_000]]], scale=10_000)
    rows = [
        (1, [0]),       # valid: dist 0 to query (0,0)
        (2, [1]),       # valid: dist 2e8
        (3, [None]),    # NULL element
        (4, [5]),       # out-of-range code id
        (5, [0, 1]),    # wrong length (m=1)
        (6, None),      # NULL array
    ]
    df = spark.createDataFrame(rows, "vec_id long, pq_codes array<int>")
    got = pq_topk(df, model, [0.0, 0.0], k=10).collect()
    assert [r["vec_id"] for r in got] == [1, 2]
    assert got[0]["pq_dist"] == 0
    assert got[1]["pq_dist"] == 2 * 10_000 * 10_000


def test_corpus_card_null_text_one_duplicate_class(spark):
    """r9 ADVICE fix: NULL texts form ONE duplicate class via a sentinel
    digest — an all-NULL corpus reports (n-1)/n duplication, never a
    spurious 1.0, and n_docs still counts every row."""
    from mongo_arrow_spark.operators.profile import corpus_card

    all_null = spark.createDataFrame(
        [(i, None) for i in range(4)], "doc_id long, text string"
    )
    card = corpus_card(all_null, lang_col=None).first()
    assert card["n_docs"] == 4
    assert abs(card["exact_dup_fraction"] - 3 / 4) < 1e-12
    mixed = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, None), (5, "b")],
        "doc_id long, text string",
    )
    card = corpus_card(mixed, lang_col=None).first()
    # distinct classes: {a}, {b}, {NULL} -> 1 - 3/5
    assert abs(card["exact_dup_fraction"] - (1 - 3 / 5)) < 1e-12


def test_corpus_card_approx_percentile_path(spark):
    """r9 ADVICE fix: exact=False swaps the single-reducer exact median
    for the mergeable percentile_approx sketch; on a small odd-count
    frame the two agree exactly (approx returns a data value)."""
    from mongo_arrow_spark.operators.profile import corpus_card

    docs = spark.createDataFrame(
        [(i, "w " * (i + 1)) for i in range(9)], "doc_id long, text string"
    )
    exact = corpus_card(docs, lang_col=None).first()
    approx = corpus_card(docs, lang_col=None, exact=False).first()
    assert approx["p50_tokens"] == exact["p50_tokens"]
    assert approx["n_tokens"] == exact["n_tokens"]


def test_hits_renorm_overflow_guard(spark):
    """r9 ADVICE fix: the ∞-norm renorm's s*scale product is CHECKED —
    a max raw sum past int64/scale raises instead of silently wrapping
    (in-degree 2 at scale 4e9 -> s = 8e9 > (2^63-1)/4e9 ≈ 2.3e9)."""
    from mongo_arrow_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(1, 3), (2, 3)], "src long, dst long"
    )
    with pytest.raises(ValueError, match="renorm overflow"):
        hits(edges, iters=1, scale=4 * 10**9)
    # and the documented-default regime still works
    out = hits(edges, iters=1).collect()
    assert {r["node"] for r in out} == {1, 2, 3}


# ------------------------------------------------------- r12 advisor fixes


def test_warc_header_value_crlf_sanitized(tmp_path):
    """r12 ADVICE fix (low): data-derived header values (extra_headers,
    target URI) are sanitized — CR/LF would inject header lines and
    corrupt record framing; leading whitespace would fold into the
    previous header. The written record must parse back as ONE record
    with the injection neutralized."""
    import io

    from mongo_arrow_spark.sources.warc import (
        _read_one,
        build_warc_record,
    )

    blob = build_warc_record(
        "<urn:mas:inj>",
        "https://x/1\r\nWARC-Evil: via-uri",
        b"BODY",
        extra_headers={
            "WARC-Refers-To": "<urn:uuid:1>\r\nWARC-Evil: via-extra",
            "WARC-Source-File": "  lead.warc.gz",
        },
    )
    _, hdrs, body = _read_one(io.BytesIO(blob), "t", 0)
    assert body.endswith(b"BODY")
    assert "warc-evil" not in hdrs
    assert hdrs["warc-target-uri"] == "https://x/1WARC-Evil: via-uri"
    assert hdrs["warc-refers-to"] == "<urn:uuid:1>WARC-Evil: via-extra"
    assert hdrs["warc-source-file"] == "lead.warc.gz"


def test_warc_header_key_crlf_sanitized(tmp_path):
    """r13 review fix: header NAMES sanitize like values — a
    data-derived key with CR/LF (or a colon) must not inject or split
    header lines."""
    import io

    from mongo_arrow_spark.sources.warc import _read_one, build_warc_record

    blob = build_warc_record(
        "<urn:mas:injk>",
        "https://x/1",
        b"BODY",
        extra_headers={"X-Meta\r\nWARC-Evil: v": "x", "X-A:B": "y"},
    )
    _, hdrs, body = _read_one(io.BytesIO(blob), "t", 0)
    assert body.endswith(b"BODY")
    assert "warc-evil" not in hdrs
    assert hdrs["x-metawarc-evilv"] == "x"
    assert hdrs["x-ab"] == "y"
