"""Run every oracle-backed query against DuckDB at sf0.001 — a local mirror
of the driver's correctness gate."""

import pytest

from mongo_arrow_spark.battery import ORACLES, QUERIES
from mongo_arrow_spark.compare import compare, duckdb_connect
from mongo_arrow_spark.execution import scope

from conftest import SF_DIR, cache_entries


@pytest.fixture(scope="module")
def con():
    return duckdb_connect(SF_DIR)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(spark, con, name, tables):
    # run inside an execution scope: whatever the query's operators
    # materialize must be released with it
    baseline = cache_entries(spark)
    with scope():
        result = compare(QUERIES[name](spark, SF_DIR), con, ORACLES[name])
    assert cache_entries(spark) == baseline, f"{name} left cached frames"
    assert result["count_match"], f"{name} rows: {result['rows']}"
    assert result["cols_match"], (
        f"{name} cols: {result['spark_cols']} vs {result['duck_cols']}"
    )
    assert result["values_match"], f"{name}: {result}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_runs(spark, name, tables):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0  # runs without error, schema resolvable
    assert len(df.schema.fields) > 0


def test_driver_grading_window_is_50_oracle_backed():
    """The driver grades only the first 50 registered queries: the window
    must hold exactly 50 entries, every one oracle-backed (rows-only at
    the tail). Oracle-backed entries beyond the window are the explicit
    _DEMOTED list in battery.py — their oracles still run here in pytest,
    so nothing regresses silently; the window just grades the entries we
    chose over them."""
    from mongo_arrow_spark.battery import _DEMOTED

    names = list(QUERIES)
    window = names[:50]
    not_oracle = [n for n in window if n not in ORACLES]
    assert not not_oracle, f"non-oracle queries inside graded window: {not_oracle}"
    outside = [n for n in ORACLES if n not in set(window)]
    assert set(outside) <= set(_DEMOTED), (
        f"oracle-backed queries outside graded window but not in _DEMOTED: "
        f"{sorted(set(outside) - set(_DEMOTED))}"
    )
    assert set(ORACLES) <= set(QUERIES)


def test_graded_jaccard_cap_is_absolute_and_pinned():
    """Scale contract for the graded near-dup entry (no silent cap
    drift): the cap must stay an ABSOLUTE int <= 100 — the fractional
    form is the superlinear one (exp 1.21 at 10x vs 1.00, SCALE.md
    "max_df forms, measured") — and resolution of an absolute cap must
    be corpus-size independent (no count() scan)."""
    from mongo_arrow_spark.operators.dedup import _resolve_max_df
    from mongo_arrow_spark.queries_ops import _JACCARD_MAX_DF

    assert isinstance(_JACCARD_MAX_DF, int) and not isinstance(
        _JACCARD_MAX_DF, bool
    )
    assert _JACCARD_MAX_DF <= 100
    # absolute caps resolve without touching the DataFrame (df=None would
    # explode if the resolution scanned the corpus)
    assert _resolve_max_df(None, _JACCARD_MAX_DF) == _JACCARD_MAX_DF
