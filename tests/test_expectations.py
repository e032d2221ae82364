"""Data-contract expectations: per-rule semantics (NULL handling is
the hazard in every one), the one-scan report shape, the raise-on-fail
gate, and the versioning commit gate."""

import pytest
from pyspark.sql import functions as F

from mongo_arrow_spark.operators import expectations as E
from mongo_arrow_spark.operators import versioning as V

from conftest import SF_DIR  # noqa: F401  (spark fixture wiring)


def _df(spark):
    return spark.createDataFrame(
        [
            (1, "alpha", "en", 10),
            (2, "beta", "en", -3),
            (3, None, "de", 5),
            (4, "delta", "xx", 7),
            (4, "delta", "en", 8),
            (None, "zeta", "en", 9),
        ],
        "doc_id long, text string, lang string, score long",
    )


def _report(spark, rules):
    return {r["rule"]: r.asDict() for r in E.check(_df(spark), rules).collect()}


def test_not_null_counts_nulls_and_threshold(spark):
    rep = _report(
        spark,
        [E.not_null("doc_id"), E.not_null("text", max_null_frac=0.5)],
    )
    r = rep["not_null:doc_id"]
    assert (r["violations"], r["n_rows"], r["status"]) == (1, 6, "fail")
    assert r["observed_frac"] == pytest.approx(1 / 6)
    assert rep["not_null:text"]["status"] == "pass"  # 1/6 <= 0.5


def test_unique_ignores_null_keys_and_counts_extras(spark):
    rep = _report(spark, [E.unique("doc_id")])
    r = rep["unique:doc_id"]
    # ids 1,2,3,4,4 -> 5 non-null rows, 4 distinct -> 1 violation;
    # the NULL id row is not a uniqueness violation
    assert (r["violations"], r["status"]) == (1, "fail")


def test_unique_multi_column(spark):
    rep = _report(spark, [E.unique("doc_id", "lang")])
    # (4,xx) and (4,en) differ -> no violation
    assert rep["unique:doc_id,lang"]["status"] == "pass"


def test_in_range_skips_nulls_and_is_inclusive(spark):
    rep = _report(
        spark,
        [
            E.in_range("score", min_value=0),
            E.in_range("score", min_value=-3, max_value=10),
        ],
    )
    assert rep["in_range:score"]["violations"] == 1  # -3
    assert rep["in_range:score#2"]["status"] == "pass"  # inclusive bounds


def test_accepted_values_and_matches_skip_nulls(spark):
    rep = _report(
        spark,
        [
            E.accepted_values("lang", ["en", "de"]),
            E.matches("text", "^[a-z]+$"),
        ],
    )
    assert rep["accepted_values:lang"]["violations"] == 1  # xx
    # NULL text is not a regex violation (not_null's business)
    assert rep["matches:text"]["violations"] == 0


def test_satisfies_counts_null_predicate_as_violation(spark):
    rep = _report(
        spark,
        [E.satisfies("score_matches", "score >= 0 AND length(text) > 0")],
    )
    # -3 fails; the NULL-text row makes the predicate NULL -> violation
    assert rep["satisfies:score_matches"]["violations"] == 2


def test_row_count_bounds(spark):
    rep = _report(
        spark,
        [E.row_count(min_rows=10), E.row_count(min_rows=1, max_rows=3)],
    )
    assert rep["row_count"]["violations"] == 4  # 10 - 6
    assert rep["row_count#2"]["violations"] == 3  # 6 - 3
    assert rep["row_count"]["column"] == "*"


def test_referential_anti_join(spark):
    ref = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    rep = _report(spark, [E.referential("doc_id", ref, "id")])
    r = rep["referential:doc_id"]
    # non-null ids 1,2,3,4,4 -> the two id=4 rows dangle; NULL id skipped
    assert (r["violations"], r["status"]) == (2, "fail")


def test_report_shape_and_order(spark):
    rules = [E.row_count(), E.not_null("doc_id"), E.unique("doc_id")]
    rep = E.check(_df(spark), rules)
    assert tuple(rep.columns) == E.REPORT_COLUMNS
    names = [r["rule"] for r in rep.collect()]
    assert names == sorted(names)


def test_single_aggregation_plan(spark):
    """All row-level rules fold into ONE aggregate pass: exactly one
    scan of the input in the optimized plan."""
    rules = [
        E.not_null("doc_id"),
        E.in_range("score", min_value=0),
        E.matches("text", "a"),
        E.satisfies("s", "score > 0"),
        E.row_count(),
    ]
    plan = E.check(_df(spark), rules)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LocalRelation") + plan.count("LogicalRDD") == 1


def test_validate_or_raise_lists_failures(spark):
    with pytest.raises(E.ExpectationError) as ei:
        E.validate_or_raise(
            _df(spark), [E.not_null("doc_id"), E.not_null("lang")]
        )
    assert "not_null:doc_id" in str(ei.value)
    assert len(ei.value.report) == 2
    ok = E.validate_or_raise(_df(spark), [E.not_null("lang")])
    assert ok[0]["status"] == "pass"


def test_empty_rules_and_unknown_kind_raise(spark):
    with pytest.raises(ValueError):
        E.check(_df(spark), [])
    with pytest.raises(ValueError):
        E.check(_df(spark), [{"kind": "nope"}])
    with pytest.raises(ValueError):
        E.unique()
    with pytest.raises(ValueError):
        E.in_range("x")
    with pytest.raises(ValueError):
        E.accepted_values("x", [])


def test_check_by_group_contract(spark):
    rep = E.check(
        _df(spark),
        [E.not_null("text"), E.row_count(min_rows=2), E.unique("doc_id")],
        by=["lang"],
    )
    assert tuple(rep.columns) == ("group",) + E.REPORT_COLUMNS
    rows = {(r["group"], r["rule"]): r.asDict() for r in rep.collect()}
    # 3 groups (en, de, xx) × 3 rules
    assert len(rows) == 9
    # the NULL text row is in de
    assert rows[("de", "not_null:text")]["violations"] == 1
    assert rows[("en", "not_null:text")]["violations"] == 0
    # xx has 1 row < min_rows=2
    assert rows[("xx", "row_count")]["violations"] == 1
    assert rows[("xx", "row_count")]["status"] == "fail"
    # doc_id 4 appears once in en and once in xx -> unique PER GROUP
    assert rows[("en", "unique:doc_id")]["violations"] == 0
    # ordering: group then rule
    ordered = [(r["group"], r["rule"]) for r in rep.collect()]
    assert ordered == sorted(ordered)


def test_check_by_rejects_referential_and_stringifies_null_group(spark):
    ref = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError):
        E.check(_df(spark), [E.referential("doc_id", ref, "id")], by=["lang"])
    df = spark.createDataFrame(
        [(1, None), (2, "en")], "doc_id long, lang string"
    )
    rep = E.check(df, [E.not_null("doc_id")], by=["lang"])
    assert {r["group"] for r in rep.collect()} == {"NULL", "en"}


def test_write_version_row_delta_guard(spark, tmp_path):
    p = str(tmp_path / "corpus")
    v1 = spark.createDataFrame(
        [(i, f"t{i}") for i in range(10)], "doc_id long, text string"
    )
    V.write_version(v1, p)
    shrunk = spark.createDataFrame(
        [(i, f"t{i}") for i in range(4)], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="drifted"):
        V.write_version(shrunk, p, max_row_delta_frac=0.2)
    assert [m["version"] for m in V.list_versions(p)] == [1]
    # within the band commits; first version never drifts
    ok = spark.createDataFrame(
        [(i, f"t{i}") for i in range(9)], "doc_id long, text string"
    )
    V.write_version(ok, p, max_row_delta_frac=0.2)
    assert [m["version"] for m in V.list_versions(p)] == [1, 2]


def test_check_by_expected_groups_flags_vanished_group(spark):
    df = spark.createDataFrame(
        [(1, "en", "a"), (2, "en", "b"), (3, "fr", "c")],
        "doc_id long, lang string, text string",
    )
    rep = E.check(
        df,
        [E.row_count(min_rows=2), E.not_null("text")],
        by=["lang"],
        expected_groups=["en", "fr", "de"],
    )
    rows = {(r["group"], r["rule"]): r.asDict() for r in rep.collect()}
    # de vanished entirely: synthesized with n_rows=0, row_count fails
    de = rows[("de", "row_count")]
    assert (de["n_rows"], de["violations"], de["status"]) == (0, 2, "fail")
    # row-level rules pass vacuously on the empty group
    assert rows[("de", "not_null:text")]["status"] == "pass"
    # present groups unaffected; fr has 1 < 2 rows
    assert rows[("fr", "row_count")]["status"] == "fail"
    assert rows[("en", "row_count")]["status"] == "pass"
    with pytest.raises(ValueError):
        E.check(df, [E.not_null("text")], expected_groups=["en"])


def test_ungated_retry_clears_orphaned_contract(spark, tmp_path):
    import os

    p = str(tmp_path / "corpus")
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    # simulate a crashed gated attempt: contract written, meta never
    vdir = os.path.join(p, "v=1")
    os.makedirs(vdir)
    with open(os.path.join(vdir, "_contract.json"), "w") as fh:
        fh.write("[]")
    V.write_version(df, p)  # ungated commit of the same version number
    assert V.contract_report(p, 1) is None


def test_drift_guard_skips_empty_previous(spark, tmp_path):
    p = str(tmp_path / "corpus")
    empty = spark.createDataFrame([], "doc_id long, text string")
    V.write_version(empty, p)
    ok = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    V.write_version(ok, p, max_row_delta_frac=0.1)  # must not raise
    assert V.read_version(spark, p).count() == 1


def test_from_json_schema_validator_as_contract(spark):
    validator = {
        "required": ["doc_id", "text"],
        "properties": {
            "score": {"minimum": 0, "maximum": 100},
            "lang": {"enum": ["en", "de"]},
            "text": {"minLength": 2, "pattern": "^[a-z]"},
        },
    }
    rules = E.from_json_schema(validator)
    df = spark.createDataFrame(
        [
            (1, "alpha", "en", 50),
            (2, "b", "de", -1),  # minLength + minimum violations
            (3, None, "xx", 5),  # required text + enum violations
            (None, "delta", "en", None),  # required doc_id; null score OK
        ],
        "doc_id long, text string, lang string, score long",
    )
    rep = {r["rule"]: r.asDict() for r in E.check(df, rules).collect()}
    assert rep["not_null:doc_id"]["violations"] == 1
    assert rep["not_null:text"]["violations"] == 1
    # null score passes the property rule (JSON Schema presence rule)
    assert rep["satisfies:jsonschema.score"]["violations"] == 1  # -1 only
    assert rep["satisfies:jsonschema.lang"]["violations"] == 1  # xx
    assert rep["satisfies:jsonschema.text"]["violations"] == 1  # "b"
    # root combinator folds into one whole-document rule
    root = E.from_json_schema(
        {"anyOf": [{"required": ["doc_id"]}, {"required": ["text"]}]}
    )
    rep2 = {r["rule"]: r.asDict() for r in E.check(df, root).collect()}
    assert rep2["satisfies:jsonschema.root"]["violations"] == 0
    # unsupported keywords raise, like the server
    with pytest.raises(Exception, match="unsupported"):
        E.from_json_schema({"properties": {"x": {"format": "email"}}})
    with pytest.raises(ValueError):
        E.from_json_schema({})


def test_suggest_rules_bootstrap_passes_on_profiled_frame(spark):
    df = spark.createDataFrame(
        [(1, "en", 10.5), (2, "de", -2.0), (3, "en", 7.25)],
        "doc_id long, lang string, score double",
    )
    rules = E.suggest_rules(df)
    kinds = {(r["kind"], r.get("column") or ",".join(r.get("columns", [])))
             for r in rules}
    # NULL-free columns -> not_null; doc_id unique; numeric ranges;
    # small string vocab -> accepted_values; row_count always
    assert ("not_null", "doc_id") in kinds
    assert ("unique", "doc_id") in kinds
    assert ("in_range", "score") in kinds
    assert ("accepted_values", "lang") in kinds
    assert ("row_count", "") in kinds
    # suggestions hold on the frame they were profiled from
    rep = E.check(df, rules)
    assert all(r["status"] == "pass" for r in rep.collect())
    # observed bounds are what in_range carries
    rng = next(
        r
        for r in rules
        if r["kind"] == "in_range" and r["column"] == "score"
    )
    assert (rng["min_value"], rng["max_value"]) == (-2.0, 10.5)


def test_suggest_rules_respects_nulls_and_vocab_cap(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "b"), (2, "c")], "id long, s string"
    )
    rules = E.suggest_rules(df, max_vocab=1)
    kinds = {(r["kind"], r.get("column")) for r in rules}
    assert ("not_null", "s") not in kinds  # s has a NULL
    assert ("unique", "id") not in kinds  # id repeats
    assert ("accepted_values", "s") not in kinds  # vocab 2 > cap 1
    assert ("not_null", "id") in kinds


def test_contract_report_recorded_with_release(spark, tmp_path):
    p = str(tmp_path / "corpus")
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, text string"
    )
    contract = [E.not_null("doc_id"), E.unique("doc_id")]
    V.write_version(v1, p, expect=contract)
    rep = V.contract_report(p, 1)
    assert rep is not None and len(rep) == 2
    assert all(r["status"] == "pass" for r in rep)
    # ungated release records nothing
    V.write_version(
        spark.createDataFrame([(1, "a")], "doc_id long, text string"), p
    )
    assert V.contract_report(p, 2) is None
    # append path records too
    V.append_version(
        spark.createDataFrame([(9, "z")], "doc_id long, text string"),
        p,
        expect=contract,
    )
    assert V.contract_report(p, 3) is not None


def test_write_version_expect_gate_blocks_commit(spark, tmp_path):
    p = str(tmp_path / "corpus")
    good = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, text string"
    )
    bad = spark.createDataFrame(
        [(3, None), (4, "d")], "doc_id long, text string"
    )
    contract = [E.not_null("doc_id"), E.not_null("text"), E.unique("doc_id")]
    V.write_version(good, p, expect=contract)
    with pytest.raises(E.ExpectationError):
        V.write_version(bad, p, expect=contract)
    # the failed release never became visible: latest is still v1
    vs = V.list_versions(p)
    assert [m["version"] for m in vs] == [1]
    assert V.read_version(spark, p).count() == 2
    # append_version gates too
    with pytest.raises(E.ExpectationError):
        V.append_version(bad, p, expect=contract)
    assert [m["version"] for m in V.list_versions(p)] == [1]
    V.append_version(
        spark.createDataFrame([(3, "c")], "doc_id long, text string"),
        p,
        expect=contract,
    )
    assert V.read_version(spark, p).count() == 3


def test_multi_column_group_keys_escape_slashes(spark):
    """('a/b','c') and ('a','b/c') must not collide in the stringified
    group key: multi-column parts escape '/' and '\\', mirrored between
    the report expression and the expected_groups anti-join."""
    df = spark.createDataFrame(
        [(1, "a/b", "c", "x"), (2, "a/b", "c", "y")],
        "doc_id long, k1 string, k2 string, text string",
    )
    rep = E.check(
        df,
        [E.row_count(min_rows=1)],
        by=["k1", "k2"],
        expected_groups=[("a/b", "c"), ("a", "b/c")],
    )
    rows = {r["group"]: r.asDict() for r in rep.collect()}
    assert set(rows) == {"a\\/b/c", "a/b\\/c"}
    present = rows["a\\/b/c"]
    assert (present["n_rows"], present["status"]) == (2, "pass")
    # the genuinely absent ('a','b/c') group is synthesized as missing,
    # not mis-marked present by a collision with ('a/b','c')
    absent = rows["a/b\\/c"]
    assert (absent["n_rows"], absent["status"]) == (0, "fail")
    # single-column groups stay raw (oracle-replayable, no escaping)
    rep1 = E.check(df, [E.row_count(min_rows=1)], by=["k1"])
    assert [r["group"] for r in rep1.collect()] == ["a/b"]
