"""Declarative data-contract validation (Deequ-style expectations):
the release gate a training-data pipeline runs before a corpus version
ships — null fractions, key uniqueness, value ranges, accepted
vocabularies, regex conformance, arbitrary SQL predicates, row-count
bounds, referential integrity — each declared once and verified in as
few passes as the rule mix permits.

Scale posture: every row-level rule compiles to ONE aggregate
expression, and ``check`` folds all of them into a SINGLE aggregation
over one scan (map-side partial agg → one 1-row exchange) — "validate
the table" must not mean "scan it once per rule" at 100 TB. The only
exceptions are declared where they occur: ``unique`` adds a distinct
aggregate (one Expand over the same scan), and ``referential`` needs
the reference table (one anti-join per referential rule, broadcastable
when the reference side is a dimension). The report itself is
constant-width (one row per rule) — never driver-side per-row state.

The report is EXACT (counts, not sketches) and SQL-replayable: the
battery entry ``contract_check`` hash-grades a nine-rule contract on
the documents table against a DuckDB oracle computing the identical
aggregates.

Reference parity: the reference client delegates validation to
mongod's ``$jsonSchema``/validator surface (pymongoarrow forwards
queries verbatim, api.py); the MQL translator covers ``$jsonSchema``
read-side already — this module is the TABLE-level contract tier
(fractions, uniqueness, referential integrity) that document-level
validators cannot express.
"""

from __future__ import annotations

import functools
import operator as _op
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongo_arrow_spark.execution import local_frame

__all__ = [
    "ExpectationError",
    "accepted_values",
    "check",
    "from_json_schema",
    "in_range",
    "matches",
    "not_null",
    "referential",
    "row_count",
    "satisfies",
    "suggest_rules",
    "unique",
    "validate_or_raise",
]

REPORT_COLUMNS = (
    "rule",
    "column",
    "violations",
    "n_rows",
    "observed_frac",
    "threshold",
    "status",
)


class ExpectationError(ValueError):
    """Raised by :func:`validate_or_raise` when any rule fails; carries
    the collected report rows in ``.report``."""

    def __init__(self, message: str, report: list[dict]):
        super().__init__(message)
        self.report = report


def not_null(column: str, max_null_frac: float = 0.0) -> dict:
    """NULLs in ``column`` must stay within ``max_null_frac``."""
    return {
        "kind": "not_null",
        "column": column,
        "threshold": float(max_null_frac),
    }


def unique(*columns: str, max_violation_frac: float = 0.0) -> dict:
    """Rows (beyond the first occurrence) sharing a fully-non-NULL key
    are violations — ``COUNT(key non-null) - COUNT(DISTINCT key)``.
    NULL-keyed rows are ``not_null``'s business, not uniqueness'."""
    if not columns:
        raise ValueError("unique needs at least one column")
    return {
        "kind": "unique",
        "columns": list(columns),
        "threshold": float(max_violation_frac),
    }


def in_range(
    column: str,
    min_value: Any = None,
    max_value: Any = None,
    max_violation_frac: float = 0.0,
) -> dict:
    """Non-NULL values outside ``[min_value, max_value]`` (either bound
    optional, inclusive) are violations."""
    if min_value is None and max_value is None:
        raise ValueError("in_range needs min_value and/or max_value")
    return {
        "kind": "in_range",
        "column": column,
        "min_value": min_value,
        "max_value": max_value,
        "threshold": float(max_violation_frac),
    }


def accepted_values(
    column: str, values: list, max_violation_frac: float = 0.0
) -> dict:
    """Non-NULL values outside the accepted vocabulary are violations."""
    if not values:
        raise ValueError("accepted_values needs a non-empty vocabulary")
    return {
        "kind": "accepted_values",
        "column": column,
        "values": list(values),
        "threshold": float(max_violation_frac),
    }


def matches(
    column: str, pattern: str, max_violation_frac: float = 0.0
) -> dict:
    """Non-NULL values not matching the regex are violations."""
    return {
        "kind": "matches",
        "column": column,
        "pattern": pattern,
        "threshold": float(max_violation_frac),
    }


def satisfies(
    name: str, predicate, max_violation_frac: float = 0.0
) -> dict:
    """Escape hatch: rows where the ``predicate`` (a SQL string or a
    prebuilt boolean Column) is not TRUE (FALSE **or NULL** — a
    predicate that cannot evaluate is a violation, not a free pass)
    violate the rule."""
    return {
        "kind": "satisfies",
        "name": name,
        "predicate": predicate,
        "threshold": float(max_violation_frac),
    }


def from_json_schema(
    schema: dict, max_violation_frac: float = 0.0
) -> list[dict]:
    """Translate a MongoDB collection validator (``$jsonSchema``,
    draft-4 subset — exactly the keyword set the MQL ``$match``
    translator accepts read-side) into expectations rules: every
    ``required`` field becomes a ``not_null`` rule, every top-level
    property's sub-schema becomes one rule over the SAME compiled
    predicate the query translator evaluates (so write-gate and
    read-filter semantics can never drift apart), and root-level
    combinators (``allOf``/``anyOf``/``oneOf``/``not``) fold into one
    whole-document rule. JSON Schema constraints bind only when the
    property is present, so NULL passes every property rule and only
    ``required`` fails it — the server's own semantics.

    The reference-parity story: the validator mongod enforces per
    insert becomes the contract this engine enforces per RELEASE
    (``write_version(expect=from_json_schema(validator))``) — one
    aggregate pass over the corpus instead of a per-document hook.
    Unsupported keywords raise (the server rejects them too)."""
    from mongo_arrow_spark.mql.match import _json_schema_predicate

    if not isinstance(schema, dict) or not schema:
        raise ValueError("$jsonSchema must be a non-empty document")
    rules: list[dict] = []
    rest: dict = {}
    for kw, arg in schema.items():
        if kw == "required":
            rules += [
                not_null(f, max_null_frac=max_violation_frac)
                for f in arg
            ]
        elif kw == "properties":
            for f, s in arg.items():
                c = F.col(f)
                rules.append(
                    satisfies(
                        f"jsonschema.{f}",
                        c.isNull() | _json_schema_predicate(s, c),
                        max_violation_frac=max_violation_frac,
                    )
                )
        else:
            rest[kw] = arg
    if rest:
        rules.append(
            satisfies(
                "jsonschema.root",
                _json_schema_predicate(rest, None),
                max_violation_frac=max_violation_frac,
            )
        )
    if not rules:
        raise ValueError("schema produced no rules")
    return rules


def row_count(min_rows: int = 1, max_rows: int | None = None) -> dict:
    """Table-level cardinality bounds; violations = distance outside
    the accepted band (0 when inside)."""
    return {"kind": "row_count", "min_rows": int(min_rows),
            "max_rows": None if max_rows is None else int(max_rows)}


def referential(column: str, ref: DataFrame, ref_column: str) -> dict:
    """Non-NULL ``column`` values with no match in ``ref.ref_column``
    are violations (the FK check). One anti-join per rule — broadcast
    when the reference side is a dimension table."""
    return {
        "kind": "referential",
        "column": column,
        "ref": ref,
        "ref_column": ref_column,
        "threshold": 0.0,
    }


def _rule_name(r: dict, seen: dict) -> str:
    if r["kind"] == "satisfies":
        base = f"satisfies:{r['name']}"
    elif r["kind"] == "unique":
        base = "unique:" + ",".join(r["columns"])
    elif r["kind"] == "row_count":
        base = "row_count"
    else:
        base = f"{r['kind']}:{r.get('column', '*')}"
    n = seen.get(base, 0)
    seen[base] = n + 1
    return base if n == 0 else f"{base}#{n + 1}"


def _viol_agg(r: dict):
    """The one aggregate expression a row-level rule compiles to."""
    kind = r["kind"]
    if kind == "not_null":
        c = F.col(r["column"])
        return F.sum(F.when(c.isNull(), 1).otherwise(0))
    if kind == "unique":
        cols = [F.col(c) for c in r["columns"]]
        nn = functools.reduce(
            _op.and_, [c.isNotNull() for c in cols]
        )
        return F.sum(F.when(nn, 1).otherwise(0)) - F.count_distinct(*cols)
    if kind == "in_range":
        c = F.col(r["column"])
        conds = []
        if r["min_value"] is not None:
            conds.append(c < F.lit(r["min_value"]))
        if r["max_value"] is not None:
            conds.append(c > F.lit(r["max_value"]))
        bad = functools.reduce(_op.or_, conds)
        return F.sum(F.when(c.isNotNull() & bad, 1).otherwise(0))
    if kind == "accepted_values":
        c = F.col(r["column"])
        return F.sum(
            F.when(c.isNotNull() & ~c.isin(r["values"]), 1).otherwise(0)
        )
    if kind == "matches":
        c = F.col(r["column"])
        return F.sum(
            F.when(c.isNotNull() & ~c.rlike(r["pattern"]), 1).otherwise(0)
        )
    if kind == "satisfies":
        pred = r["predicate"]
        if isinstance(pred, str):
            pred = F.expr(pred)
        return F.sum(
            F.when(~F.coalesce(pred, F.lit(False)), 1).otherwise(0)
        )
    raise ValueError(f"unknown rule kind: {kind!r}")


def check(
    df: DataFrame,
    rules: list[dict],
    by: list[str] | None = None,
    expected_groups: list | None = None,
) -> DataFrame:
    """Verify every rule; returns the constant-width report
    ``(rule, column, violations, n_rows, observed_frac, threshold,
    status)``, one row per rule, ordered by rule name.

    All row-level rules fold into ONE aggregation over one scan;
    each ``referential`` rule adds one anti-join aggregation, unioned
    lazily (no driver-side collection anywhere — the report is a plain
    DataFrame a caller can write, join, or gate on).

    ``by`` (r10): verify the contract PER GROUP — "every language must
    have ≥ N documents", "null fraction per source within 1 %". Still
    one aggregation (a groupBy over the same scan; report rows =
    groups × rules, ordered by group then rule), with a leading
    ``group`` column (``/``-joined stringified key, NULLs spelled
    ``NULL``). ``row_count`` bounds each group's size and ``unique``
    counts within-group duplicates; ``referential`` is table-level and
    raises under ``by``.

    Groups are derived FROM THE DATA, so a group with zero rows
    produces no report row at all — the most severe form of the
    shrinkage ``row_count`` guards against is invisible unless the
    caller declares the roster: pass ``expected_groups`` (values for a
    single ``by`` column, tuples for several) and every declared group
    absent from the data gets synthesized report rows with
    ``n_rows=0`` — its ``row_count(min_rows=N)`` fails with N
    violations, while purely row-level rules pass vacuously."""
    if not rules:
        raise ValueError("no rules")
    if by:
        return _check_by(df, rules, list(by), expected_groups)
    if expected_groups is not None:
        raise ValueError("expected_groups requires by=")
    seen: dict = {}
    named = [(_rule_name(r, seen), r) for r in rules]

    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    metas = []  # (name, column_label, threshold, alias) for agg rules
    post = []  # row_count rules, computed from __n alone
    refs = []  # referential rules
    for i, (name, r) in enumerate(named):
        if r["kind"] == "referential":
            refs.append((name, r))
            continue
        if r["kind"] == "row_count":
            post.append((name, r))
            continue
        alias = f"__v{i}"
        aggs.append(_viol_agg(r).cast("long").alias(alias))
        col_label = (
            ",".join(r["columns"])
            if r["kind"] == "unique"
            else r.get("column", r.get("name", "*"))
        )
        metas.append((name, col_label, r["threshold"], alias))

    row = df.agg(*aggs)
    parts = []
    for name, col_label, thr, alias in metas:
        v = F.coalesce(F.col(alias), F.lit(0))
        parts.append(
            F.struct(
                F.lit(name).alias("rule"),
                F.lit(col_label).alias("column"),
                v.cast("long").alias("violations"),
                F.lit(float(thr)).alias("threshold"),
            )
        )
    for name, r in post:
        n = F.col("__n")
        lo, hi = r["min_rows"], r["max_rows"]
        v = F.when(n < lo, F.lit(lo) - n)
        if hi is not None:
            v = v.when(n > hi, n - F.lit(hi))
        v = v.otherwise(F.lit(0))
        parts.append(
            F.struct(
                F.lit(name).alias("rule"),
                F.lit("*").alias("column"),
                v.cast("long").alias("violations"),
                F.lit(0.0).alias("threshold"),
            )
        )
    if parts:
        report = row.select(
            F.col("__n"), F.explode(F.array(*parts)).alias("p")
        ).select("p.rule", "p.column", "p.violations", "__n", "p.threshold")
    else:  # referential-only contract: start from an empty typed frame
        report = row.select(
            F.lit("").alias("rule"),
            F.lit("").alias("column"),
            F.lit(0).cast("long").alias("violations"),
            "__n",
            F.lit(0.0).alias("threshold"),
        ).limit(0)

    n_row = row.select("__n")
    for name, r in refs:
        c = F.col(r["column"])
        ref_keys = (
            r["ref"]
            .select(F.col(r["ref_column"]).alias("__refk"))
            .filter(F.col("__refk").isNotNull())
            .distinct()
        )
        viol = (
            df.select(c.alias("__k"))
            .filter(F.col("__k").isNotNull())
            .join(ref_keys, F.col("__k") == F.col("__refk"), "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("violations"))
        )
        report = report.unionByName(
            viol.join(n_row)  # 1×1 rows
            .select(
                F.lit(name).alias("rule"),
                F.lit(r["column"]).alias("column"),
                "violations",
                "__n",
                F.lit(float(r["threshold"])).alias("threshold"),
            )
        )

    frac = F.col("violations").cast("double") / F.greatest(
        F.col("__n"), F.lit(1)
    ).cast("double")
    return (
        report.select(
            "rule",
            "column",
            "violations",
            F.col("__n").cast("long").alias("n_rows"),
            frac.alias("observed_frac"),
            "threshold",
            F.when(
                F.col("violations").cast("double")
                <= F.col("threshold")
                * F.greatest(F.col("__n"), F.lit(1)).cast("double"),
                F.lit("pass"),
            )
            .otherwise(F.lit("fail"))
            .alias("status"),
        )
        .orderBy("rule")
    )


def _group_str(g) -> str:
    """The stringified group key — must mirror the concat_ws('/',
    coalesce(cast, 'NULL')) expression the grouped report uses.
    Multi-column keys escape ``\\`` and ``/`` inside each part so
    ('a/b','c') and ('a','b/c') stay distinct; single-column keys are
    the raw value (no join ambiguity, and the string stays
    oracle-replayable)."""
    vals = g if isinstance(g, (tuple, list)) else (g,)
    parts = ["NULL" if v is None else str(v) for v in vals]
    if len(parts) > 1:
        parts = [p.replace("\\", "\\\\").replace("/", "\\/") for p in parts]
    return "/".join(parts)


def _check_by(
    df: DataFrame,
    rules: list[dict],
    by: list[str],
    expected_groups: list | None = None,
) -> DataFrame:
    """The grouped body of :func:`check` — same rule compilation, one
    groupBy aggregation, report keyed by the stringified group.
    Declared-but-absent groups (``expected_groups``) are synthesized
    with ``n_rows=0`` via a lazy anti-join — no extra scan of the
    data, no driver-side inspection of which groups exist."""
    seen: dict = {}
    named = [(_rule_name(r, seen), r) for r in rules]
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    metas, post = [], []
    for i, (name, r) in enumerate(named):
        if r["kind"] == "referential":
            raise ValueError(
                "referential rules are table-level; run them in an "
                "ungrouped check()"
            )
        if r["kind"] == "row_count":
            post.append((name, r))
            continue
        alias = f"__v{i}"
        aggs.append(_viol_agg(r).cast("long").alias(alias))
        col_label = (
            ",".join(r["columns"])
            if r["kind"] == "unique"
            else r.get("column", r.get("name", "*"))
        )
        metas.append((name, col_label, r["threshold"], alias))

    grp_cols = [
        F.coalesce(F.col(c).cast("string"), F.lit("NULL")) for c in by
    ]
    if len(by) > 1:
        # mirror _group_str's multi-key escaping ('\' and '/' prefixed
        # with '\') so distinct keys can't collide after the join
        grp_cols = [
            F.regexp_replace(c, r"([\\/])", r"\\$1") for c in grp_cols
        ]
    grp = F.concat_ws("/", *grp_cols)
    row = df.groupBy(*[F.col(c) for c in by]).agg(*aggs)
    parts = []
    for name, col_label, thr, alias in metas:
        v = F.coalesce(F.col(alias), F.lit(0))
        parts.append(
            F.struct(
                F.lit(name).alias("rule"),
                F.lit(col_label).alias("column"),
                v.cast("long").alias("violations"),
                F.lit(float(thr)).alias("threshold"),
            )
        )
    for name, r in post:
        n = F.col("__n")
        lo, hi = r["min_rows"], r["max_rows"]
        v = F.when(n < lo, F.lit(lo) - n)
        if hi is not None:
            v = v.when(n > hi, n - F.lit(hi))
        v = v.otherwise(F.lit(0))
        parts.append(
            F.struct(
                F.lit(name).alias("rule"),
                F.lit("*").alias("column"),
                v.cast("long").alias("violations"),
                F.lit(0.0).alias("threshold"),
            )
        )
    base = row.select(
        grp.alias("group"),
        F.col("__n"),
        F.explode(F.array(*parts)).alias("p"),
    ).select(
        "group",
        "p.rule",
        "p.column",
        "p.violations",
        F.col("__n").cast("long").alias("n_rows"),
        "p.threshold",
    )
    if expected_groups is not None:
        spark = df.sparkSession
        strs = sorted({_group_str(g) for g in expected_groups})
        exp_df = local_frame(spark, [(s,) for s in strs], "group string")
        missing = exp_df.join(
            base.select("group").distinct(), "group", "left_anti"
        )
        tmpl = [
            (name, col_label, 0, 0, float(thr))
            for name, col_label, thr, _ in metas
        ] + [
            (name, "*", int(r["min_rows"]), 0, 0.0) for name, r in post
        ]
        tmpl_df = local_frame(
            spark,
            tmpl,
            "rule string, column string, violations long,"
            " n_rows long, threshold double",
        )
        # bounded cross: (missing declared groups) × (rules)
        base = base.unionByName(missing.crossJoin(tmpl_df))
    frac = F.col("violations").cast("double") / F.greatest(
        F.col("n_rows"), F.lit(1)
    ).cast("double")
    return base.select(
        "group",
        "rule",
        "column",
        "violations",
        "n_rows",
        frac.alias("observed_frac"),
        "threshold",
        F.when(
            F.col("violations").cast("double")
            <= F.col("threshold")
            * F.greatest(F.col("n_rows"), F.lit(1)).cast("double"),
            F.lit("pass"),
        )
        .otherwise(F.lit("fail"))
        .alias("status"),
    ).orderBy("group", "rule")


def suggest_rules(
    df: DataFrame,
    columns: list[str] | None = None,
    max_vocab: int = 32,
) -> list[dict]:
    """Bootstrap a contract from the data (Deequ's constraint
    suggestion): ONE profiling aggregation over one scan proposes

    - ``not_null(col)`` for every column observed NULL-free,
    - ``unique(col)`` where the exact distinct count equals the
      non-null count (single-column keys),
    - ``in_range(col, min, max)`` for numeric columns (observed
      bounds, inclusive),
    - ``accepted_values(col, vocab)`` for string columns whose exact
      distinct count is ≤ ``max_vocab`` (vocabulary collected in the
      same pass via ``collect_set`` — bounded by the same cap),
    - ``row_count(min_rows=1)`` always.

    Exact-distinct aggregates (not sketches) so a suggested rule is
    TRUE on the profiled frame by construction — `check(df,
    suggest_rules(df))` passes, and the suggestions are a starting
    point to tighten by hand, the other way around from a learned
    validator. Two passes: the profiling aggregation first, then a
    vocabulary aggregation restricted to the string columns the first
    pass PROVED small (≤ ``max_vocab`` exact distinct) — collecting a
    set for every string column up front would buffer the full
    distinct payload of wide text columns in executor memory. State
    everywhere is bounded: one report row per column, ≤ ``max_vocab``
    values per collected vocabulary."""
    import pyspark.sql.types as T

    names = columns or [
        f.name
        for f in df.schema.fields
        if not isinstance(
            f.dataType, (T.StructType, T.ArrayType, T.MapType)
        )
    ]
    if not names:
        raise ValueError("no suggestible columns")
    numeric = {
        f.name
        for f in df.schema.fields
        if isinstance(
            f.dataType,
            (
                T.IntegerType,
                T.LongType,
                T.ShortType,
                T.DoubleType,
                T.FloatType,
                T.DecimalType,
            ),
        )
    }
    string = {
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.StringType)
    }
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for c in names:
        col = F.col(c)
        aggs += [
            F.sum(F.when(col.isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"__nn_{c}"),
            F.count_distinct(col).cast("long").alias(f"__nd_{c}"),
        ]
        if c in numeric:
            aggs += [
                F.min(col).alias(f"__mn_{c}"),
                F.max(col).alias(f"__mx_{c}"),
            ]
    row = df.agg(*aggs).collect()[0]
    n = row["__n"]
    vocab_cols = [
        c
        for c in names
        if c in string and 0 < row[f"__nd_{c}"] <= max_vocab
    ]
    vocabs = {}
    if vocab_cols:
        # second pass, restricted to columns the first pass proved
        # small — the collect_set buffers are ≤ max_vocab values each
        vrow = df.agg(
            *[
                F.sort_array(F.collect_set(F.col(c))).alias(f"__vs_{c}")
                for c in vocab_cols
            ]
        ).collect()[0]
        vocabs = {c: list(vrow[f"__vs_{c}"]) for c in vocab_cols}
    rules: list[dict] = [row_count(min_rows=1)]
    for c in names:
        nn, nd = row[f"__nn_{c}"], row[f"__nd_{c}"]
        if nn == 0 and n > 0:
            rules.append(not_null(c))
        if n > 0 and nd == n - nn and nd > 0:
            rules.append(unique(c))
        if c in numeric and row[f"__mn_{c}"] is not None:
            rules.append(in_range(c, row[f"__mn_{c}"], row[f"__mx_{c}"]))
        if c in vocabs:
            rules.append(accepted_values(c, vocabs[c]))
    return rules


def validate_or_raise(df: DataFrame, rules: list[dict]) -> list[dict]:
    """Run :func:`check` and raise :class:`ExpectationError` listing
    every failed rule; returns the report rows (bounded: one per rule)
    on success. This is the commit-gate form ``write_version(...,
    expect=rules)`` calls before any payload is written."""
    rows = [r.asDict() for r in check(df, rules).collect()]
    failed = [r for r in rows if r["status"] != "pass"]
    if failed:
        detail = "; ".join(
            f"{r['rule']} ({r['violations']} violations"
            f" / {r['n_rows']} rows)"
            for r in failed
        )
        raise ExpectationError(
            f"{len(failed)} expectation(s) failed: {detail}", rows
        )
    return rows
