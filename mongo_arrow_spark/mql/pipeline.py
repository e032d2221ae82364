"""MQL aggregation pipeline → DataFrame transformation chain.

The reference passes the pipeline list straight to the MongoDB server
(reference api.py:252 ``aggregate_raw_batches``) and only guards
``$out``/``$merge`` (api.py:235-240). Here every stage becomes a DataFrame
transformation, so Catalyst owns planning: adjacent $match stages fuse,
filters and projections push into the scan, $lookup joins get
broadcast/sort-merge/AQE-skew treatment automatically.

Scale notes per stage are inline; the principles:
- $group/$lookup shuffle on their keys — partial aggregation (map-side
  combine) is what Catalyst's HashAggregate gives for free.
- $lookup is translated as aggregate-then-join (one shuffle of the foreign
  side, grouped to arrays) preserving MQL's array-of-matches semantics.
- $sort + $limit collapse into TakeOrderedAndProject (no global sort).
- $setWindowFields without partitionBy = a single-partition window; we warn,
  matching the advice you'd give on any 100 TB plan.
"""

from __future__ import annotations

import re as _re
import warnings
from typing import Callable, Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mongo_arrow_spark.errors import MQLTranslationError
from mongo_arrow_spark.mql.expressions import translate_expr
from mongo_arrow_spark.mql.match import translate_match

Collections = Mapping[str, DataFrame] | Callable[[str], DataFrame] | None

_STAGES: dict = {}


def _stage(*names):
    def deco(fn):
        for n in names:
            _STAGES[n] = fn
        return fn

    return deco


def apply_pipeline(
    df: DataFrame, pipeline: list[dict], collections: Collections = None
) -> DataFrame:
    """Run an MQL aggregation pipeline over ``df``.

    ``collections`` resolves names referenced by $lookup/$unionWith — a
    mapping or a callable name->DataFrame.
    """
    for i, stage in enumerate(pipeline):
        if not isinstance(stage, dict) or len(stage) != 1:
            raise MQLTranslationError(f"stage {i} must be a single-key dict: {stage!r}")
        ((name, args),) = stage.items()
        fn = _STAGES.get(name)
        if fn is None:
            raise MQLTranslationError(f"unsupported pipeline stage: {name}")
        if name in ("$geoNear", "$search") and not any(
            isinstance(s, dict) and len(s) == 1 and next(iter(s)) == "$limit"
            for s in pipeline[i + 1 :]
        ):
            # MQL requires sorted output from these stages; without a
            # later $limit that is a global sort of every match. With one,
            # Catalyst fuses sort+limit into TakeOrdered (no global sort)
            # — same scale guard as the $bucketAuto warning above.
            import warnings

            warnings.warn(
                f"{name} without a subsequent $limit sorts every matching "
                "row globally; add $limit to get a TakeOrdered plan"
            )
        try:
            df = fn(df, args, _resolver(collections, df.sparkSession))
        except KeyError as exc:
            raise MQLTranslationError(
                f"stage {name} (index {i}) is missing required argument {exc}"
            ) from exc
    return df


def _resolver(
    collections: Collections, spark=None
) -> Callable[[str], DataFrame]:
    def resolve(name: str) -> DataFrame:
        if collections is not None:
            if callable(collections):
                return collections(name)
            if name in collections:
                return collections[name]
        if spark is not None:
            # default catalog: registered views (load_tables registers the
            # corpus; $out registers its targets)
            try:
                return spark.table(name)
            except Exception as exc:
                raise MQLTranslationError(
                    f"unknown collection {name!r} (not in collections or catalog)"
                ) from exc
        raise MQLTranslationError(
            f"stage references collection {name!r} but no collections were provided"
        )

    return resolve


# -------------------------------------------------------------------- stages


@_stage("$match")
def _match(df, args, resolve):
    return df.filter(translate_match(args))


def _projection_operator(val):
    """find-projection operators ({f: {$slice: n|[skip,n]}} / {f:
    {$elemMatch: pred}}) → a Column transform, or None when ``val`` is an
    ordinary expression. The int-arg $slice forms are unambiguous: the
    expression-position $slice always takes [arrayExpr, ...] args."""
    if not isinstance(val, dict) or len(val) != 1:
        return None
    ((op, arg),) = val.items()
    if op == "$elemMatch" and isinstance(arg, dict):
        from mongo_arrow_spark.mql.match import elem_match_predicate

        def elem(col):
            hits = F.filter(col, lambda x: elem_match_predicate(x, arg))
            # MQL keeps only the FIRST matching element, omits on no match
            return F.when(F.size(hits) > 0, F.slice(hits, 1, 1))

        return elem
    if op == "$slice":
        if isinstance(arg, int) and not isinstance(arg, bool):
            n = arg
            if n >= 0:
                return lambda col: F.slice(col, 1, n)
            # last -n: whole array when shorter, like the server
            return lambda col: F.when(
                F.size(col) <= F.lit(-n), col
            ).otherwise(F.slice(col, n, -n))
        if (
            isinstance(arg, (list, tuple))
            and len(arg) == 2
            and all(
                isinstance(a, int) and not isinstance(a, bool) for a in arg
            )
        ):
            skip, limit = arg
            if limit <= 0:
                raise MQLTranslationError(
                    "$slice projection limit must be positive"
                )
            if skip >= 0:
                return lambda col: F.slice(col, skip + 1, limit)
            return lambda col: F.when(
                F.size(col) <= F.lit(-skip), F.slice(col, 1, limit)
            ).otherwise(F.slice(col, skip, limit))
    return None


@_stage("$project")
def _project(df, args, resolve):
    include, exclude, computed, proj_ops = [], [], {}, {}
    for key, val in args.items():
        op_fn = _projection_operator(val)
        if op_fn is not None:
            proj_ops[key] = op_fn
        elif val in (1, True):
            include.append(key)
        elif val in (0, False):
            exclude.append(key)
        else:
            computed[key] = translate_expr(val)
    if proj_ops and not include and not computed:
        # the server's special rule: a lone $slice/$elemMatch projection
        # keeps every other field — transform in place, then apply excludes
        out = df
        for key, fn in proj_ops.items():
            if "." in key:
                root, _, rest = key.partition(".")
                out = out.withColumn(
                    root, F.col(root).withField(rest, fn(F.col(key)))
                )
            else:
                out = out.withColumn(key, fn(F.col(key)))
        return _project(out, {**{k: 0 for k in exclude}}, resolve) if exclude else out
    for key, fn in proj_ops.items():
        computed[key] = fn(F.col(key))
    if include or computed:
        cols = []
        # nested paths: group "a.b" (included or computed) under root "a"
        roots: dict[str, list[tuple[str, object]]] = {}
        plain_computed = {}
        for key in include:
            root, _, rest = key.partition(".")
            roots.setdefault(root, []).append((rest, None))
        for key, col in computed.items():
            if "." in key:
                root, _, rest = key.partition(".")
                roots.setdefault(root, []).append((rest, col))
            else:
                plain_computed[key] = col
        keep_id = "_id" not in exclude
        if keep_id and "_id" in df.columns and "_id" not in roots and "_id" not in plain_computed:
            cols.append(F.col("_id"))
        for root, entries in roots.items():
            if any(rest == "" and col is None for rest, col in entries):
                cols.append(F.col(root))
            else:
                fields = [
                    (col if col is not None else F.col(f"{root}.{rest}")).alias(
                        rest.split(".")[-1]
                    )
                    for rest, col in entries
                ]
                cols.append(F.struct(*fields).alias(root))
        for key, col in plain_computed.items():
            cols.append(col.alias(key))
        return df.select(*cols)
    # pure exclusion mode (dotted paths drop nested struct fields)
    plain = [f for f in exclude if "." not in f]
    out = df.drop(*plain)
    for f in exclude:
        if "." in f:
            root, _, rest = f.partition(".")
            out = out.withColumn(root, F.col(root).dropFields(rest))
    return out


@_stage("$addFields", "$set")
def _add_fields(df, args, resolve):
    for key, val in args.items():
        col = translate_expr(val)
        if "." in key:
            root, _, rest = key.partition(".")

            def build(base, parts):
                if len(parts) == 1:
                    return base.withField(parts[0], col)
                return base.withField(
                    parts[0], build(base.getField(parts[0]), parts[1:])
                )

            df = df.withColumn(root, build(F.col(root), rest.split(".")))
        else:
            df = df.withColumn(key, col)
    return df


@_stage("$unset")
def _unset(df, args, resolve):
    fields = args if isinstance(args, list) else [args]
    plain = [f for f in fields if "." not in f]
    df = df.drop(*plain)
    for f in fields:
        if "." in f:
            root, _, rest = f.partition(".")
            df = df.withColumn(root, F.col(root).dropFields(rest))
    return df


@_stage("$sort")
def _sort(df, args, resolve):
    return df.orderBy(*_sort_cols(args))


def _sort_cols(args) -> list[Column]:
    cols = []
    for field, direction in args.items():
        c = F.col(field)
        cols.append(c.asc() if direction == 1 else c.desc())
    return cols


@_stage("$limit")
def _limit(df, args, resolve):
    return df.limit(int(args))


@_stage("$skip")
def _skip(df, args, resolve):
    return df.offset(int(args))


@_stage("$count")
def _count(df, args, resolve):
    return df.agg(F.count(F.lit(1)).alias(args))


@_stage("$sortByCount")
def _sort_by_count(df, args, resolve):
    return (
        df.groupBy(translate_expr(args).alias("_id"))
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.col("count").desc())
    )


@_stage("$group")
def _group(df, args, resolve):
    id_expr = args.get("_id")
    accs = {k: v for k, v in args.items() if k != "_id"}
    agg_cols = [_accumulator(spec).alias(name) for name, spec in accs.items()]
    if id_expr is None:
        out = df.groupBy().agg(*agg_cols) if agg_cols else df.limit(1).select()
        return out.select(F.lit(None).alias("_id"), *[F.col(n) for n in accs])
    if isinstance(id_expr, dict) and not any(
        k.startswith("$") for k in id_expr
    ):
        # compound key: group by each sub-expression, reassemble struct _id
        keys = {k: translate_expr(v) for k, v in id_expr.items()}
        grouped = df.groupBy(
            *[c.alias(f"__gk_{k}") for k, c in keys.items()]
        ).agg(*agg_cols)
        return grouped.select(
            F.struct(*[F.col(f"__gk_{k}").alias(k) for k in keys]).alias("_id"),
            *[F.col(n) for n in accs],
        )
    return df.groupBy(translate_expr(id_expr).alias("_id")).agg(*agg_cols)


def _accumulator(spec) -> Column:
    if not (isinstance(spec, dict) and len(spec) == 1):
        raise MQLTranslationError(f"bad accumulator: {spec!r}")
    ((op, arg),) = spec.items()
    if op == "$sum":
        if isinstance(arg, (int, float)) and not isinstance(arg, bool):
            if arg == 1:
                return F.count(F.lit(1))
            return (F.count(F.lit(1)) * F.lit(arg))
        return F.sum(translate_expr(arg))
    if op == "$avg":
        return F.avg(translate_expr(arg))
    if op == "$min":
        return F.min(translate_expr(arg))
    if op == "$max":
        return F.max(translate_expr(arg))
    if op == "$count":
        return F.count(F.lit(1))
    if op == "$push":
        return F.collect_list(translate_expr(arg))
    if op == "$addToSet":
        return F.collect_set(translate_expr(arg))
    if op == "$first":
        # Semantics delta (documented): MQL's $first respects the
        # pipeline's preceding $sort; a distributed groupBy has no such
        # order, so F.first is arbitrary-within-group. For deterministic
        # "first by sort key" use $top {sortBy, output} — implemented
        # below via sort_array (exact MQL 5.2+ equivalent).
        return F.first(translate_expr(arg), ignorenulls=False)
    if op == "$last":
        return F.last(translate_expr(arg), ignorenulls=False)
    if op == "$stdDevPop":
        return F.stddev_pop(translate_expr(arg))
    if op == "$stdDevSamp":
        return F.stddev_samp(translate_expr(arg))
    if op == "$mergeObjects":
        return _merge_objects_acc(arg)
    if op == "$median":
        if isinstance(arg, dict) and arg.get("method") == "approximate":
            # MQL's only server method IS approximate; t-digest-style
            # sketch, merge-commutative — the 100 TB path (exact
            # percentile buffers every group value)
            return F.approx_percentile(translate_expr(arg["input"]), F.lit(0.5))
        return F.median(translate_expr(arg["input"] if isinstance(arg, dict) else arg))
    if op == "$percentile":
        inp = translate_expr(arg["input"])
        pcts = F.array(*[F.lit(float(p)) for p in arg["p"]])
        if isinstance(arg, dict) and arg.get("method") == "approximate":
            return F.approx_percentile(inp, pcts)
        # DOCUMENTED DELTA: MongoDB 7.0 *requires* method: "approximate"
        # (t-digest) — server-parity queries always take the branch
        # above. Omitting method is this engine's extension: exact with
        # linear interpolation (quantile_cont), the oracle-comparable
        # path, at the cost of buffering every group value — use
        # "approximate" at corpus scale.
        return F.percentile(inp, pcts)
    if op in ("$firstN", "$lastN"):
        # same order caveat as $first/$last: arbitrary within a
        # distributed group; $topN/$bottomN are the deterministic forms.
        # Values are struct-wrapped before collect_list so nulls survive
        # (MQL keeps nulls in $firstN/$lastN; bare collect_list drops them).
        inp = translate_expr(arg["input"])
        n = int(arg["n"])
        col = F.collect_list(F.struct(inp.alias("v")))
        if op == "$firstN":
            sliced = F.slice(col, 1, n)
        else:
            sliced = F.slice(
                col, F.greatest(F.size(col) - n + 1, F.lit(1)), n
            )
        return F.transform(sliced, lambda s: s.getField("v"))
    if op in ("$minN", "$maxN"):
        inp = translate_expr(arg["input"])
        n = int(arg["n"])
        asc = op == "$minN"
        return F.slice(F.sort_array(F.collect_list(inp), asc=asc), 1, n)
    if op in ("$topN", "$bottomN", "$top", "$bottom"):
        return _top_bottom(op, arg)
    if op == "$accumulator":
        return _py_accumulator(arg)
    raise MQLTranslationError(f"unsupported accumulator: {op}")


def _py_accumulator(arg) -> Column:
    """MQL ``$accumulator`` reinterpreted Spark-first (like ``$function``):
    the server form runs JavaScript init/accumulate/merge/finalize — no JS
    engine here, so that raises. The python form takes callables and runs
    them over the group's collected values inside an Arrow-batched pandas
    UDF — the same "buffer the group" cost profile as the server's custom
    accumulator:

        {"$accumulator": {
            "init": lambda: 0,
            "accumulate": lambda state, v: state + v,
            "finalize": lambda state: float(state),   # optional
            "input": "$x", "lang": "python", "returnType": "double"}}

    ``merge`` is unnecessary (a group's values arrive as one array) and
    ignored if given. Deterministic iff the callables are
    order-insensitive, exactly like MQL's contract.
    """
    if arg.get("lang", "js") != "python":
        raise MQLTranslationError(
            "$accumulator lang='js' needs a MongoDB server; this engine "
            "runs lang='python' with callable init/accumulate/finalize"
        )
    init, acc = arg["init"], arg["accumulate"]
    fin = arg.get("finalize") or (lambda s: s)
    if not (callable(init) and callable(acc) and callable(fin)):
        raise MQLTranslationError("$accumulator python members must be callables")
    rtype = arg.get("returnType", "double")
    inp = translate_expr(arg["input"])

    import pandas as _pd
    import warnings as _warnings

    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    def run(series):
        out = []
        for values in series:
            state = init()
            for v in values:
                state = acc(state, v)
            out.append(fin(state))
        return _pd.Series(out, index=series.index)

    with _warnings.catch_warnings():
        _warnings.simplefilter("ignore")
        udf = pandas_udf(run, returnType=rtype, functionType=PandasUDFType.SCALAR)
    return udf(F.collect_list(inp))


def _merge_objects_acc(arg, over=None) -> Column:
    """$mergeObjects as a $group accumulator: fold the group's documents
    (MapType column) with last-wins key overwrite. collect_list drops
    null documents (MQL ignores null/missing); the fold is entries-wise
    so no duplicate key ever reaches map_from_entries — independent of
    spark.sql.mapKeyDedupPolicy. Group traversal order is pipeline
    order on one node in MQL and partition order here; like $first/$last
    the result is only deterministic when values per key agree or the
    caller pre-sorts (documented parity with the reference engine)."""
    inp = translate_expr(arg)
    lst = F.collect_list(inp)
    if over is not None:  # window-function form: frame the collect itself
        lst = lst.over(over)

    def merge2(acc, x):
        return F.map_from_entries(
            F.concat(
                F.filter(
                    F.map_entries(acc),
                    lambda e: ~F.coalesce(
                        F.map_contains_key(x, e.getField("key")), F.lit(False)
                    ),
                ),
                F.map_entries(x),
            )
        )

    rest = F.slice(lst, F.lit(2), F.greatest(F.size(lst) - 1, F.lit(0)))
    return F.aggregate(rest, F.get(lst, F.lit(0)), merge2)


def _top_bottom(op, arg, over=None) -> Column:
    """$top/$bottom/$topN/$bottomN: output expression(s) of the best
    row(s) under sortBy. Implemented as sort_array over collected
    (sort-keys..., output) structs + slice — one collect per group, no
    extra shuffle. Multi-key sortBy sorts lexicographically by key order
    (struct comparison); mixed ascending/descending keys negate the
    descending ones, which requires those keys to be numeric."""
    sort_by = arg["sortBy"]
    n = int(arg["n"]) if op in ("$topN", "$bottomN") else 1
    is_top = op in ("$top", "$topN")
    directions = set(sort_by.values())
    uniform = len(directions) == 1
    if uniform:
        keys = [F.col(k).alias(f"__k{i}") for i, k in enumerate(sort_by)]
        direction = next(iter(directions))
        # $top picks the FIRST row per sortBy ordering; sort ascending
        # for direction=1 → top = element 1. $bottom is the last.
        pick_first = is_top == (direction == 1)
    else:
        # mixed directions: transform keys so ascending struct order ==
        # sortBy order (negation — numeric sort keys only)
        keys = [
            (F.col(k) if d == 1 else -F.col(k)).alias(f"__k{i}")
            for i, (k, d) in enumerate(sort_by.items())
        ]
        pick_first = is_top
    pairs = F.collect_list(
        F.struct(*keys, translate_expr(arg["output"]).alias("__v"))
    )
    if over is not None:  # window-function form: frame the collect itself
        pairs = pairs.over(over)
    ordered = F.sort_array(pairs, asc=pick_first)
    top = F.transform(F.slice(ordered, 1, n), lambda s: s.getField("__v"))
    if op in ("$top", "$bottom"):
        return F.get(top, 0)
    return top


@_stage("$unwind")
def _unwind(df, args, resolve):
    if isinstance(args, str):
        args = {"path": args}
    path = args["path"]
    if not path.startswith("$"):
        raise MQLTranslationError("$unwind path must start with $")
    path = path[1:]
    preserve = bool(args.get("preserveNullAndEmptyArrays", False))
    index_field = args.get("includeArrayIndex")
    explode = F.explode_outer if preserve else F.explode
    if "." in path:
        root, _, rest = path.partition(".")
        if "." in rest:
            raise MQLTranslationError("$unwind supports one nesting level")
        # explode the nested array, then put the ELEMENT back at the path
        df = df.withColumn("__uw", explode(F.col(path)))
        return df.withColumn(
            root, F.col(root).withField(rest, F.col("__uw"))
        ).drop("__uw")
    if index_field:
        pos = F.posexplode_outer(path) if preserve else F.posexplode(path)
        other = [c for c in df.columns if c != path]
        return df.select(*other, pos).withColumnsRenamed(
            {"pos": index_field, "col": path}
        )
    return df.withColumn(path, explode(F.col(path)))


@_stage("$lookup")
def _lookup(df, args, resolve):
    """MQL left-outer lookup: adds an array-of-matching-docs column.

    Plan shape: groupBy the foreign side on the join key (one shuffle,
    partial agg applies), then a left equi-join. Small foreign sides get
    broadcast by Catalyst/AQE; result row count always equals the left
    side's (no fan-out then re-group).
    """
    as_field = args["as"]
    foreign = resolve(args["from"])
    # engine extension: {"hint": "broadcast"} forces a broadcast of the
    # (grouped) foreign side — for dims known small regardless of stats
    if args.get("hint") == "broadcast":
        foreign = F.broadcast(foreign)
    pipeline = args.get("pipeline")
    if pipeline is None or "localField" in args:
        local_key = F.col(args["localField"])
        foreign_field, rest = args["foreignField"], pipeline or []
    else:
        let = args.get("let", {})
        eq = _correlated_eq(pipeline, let)
        if eq is None:
            if let:
                raise MQLTranslationError(
                    "$lookup with let requires a leading $match/$expr/$eq"
                )
            # uncorrelated pipeline: every row receives the whole sub-result
            sub = apply_pipeline(foreign, pipeline, resolve)
            arr = sub.agg(
                F.collect_list(F.struct(*sub.columns)).alias(as_field)
            )
            return df.crossJoin(F.broadcast(arr))
        local_expr, foreign_field, rest = eq
        local_key = translate_expr(local_expr)
    main, suffix = _split_cardinality_suffix(rest)
    sub = apply_pipeline(foreign, main, resolve) if main else foreign
    if suffix and not _suffix_translatable(suffix, sub):
        # untranslatable trailing stages (missing sort field, mixed
        # directions on non-numeric keys): fold them back into the
        # pre-join pipeline and surface the semantics gap
        sub = apply_pipeline(sub, [dict([s]) for s in suffix], resolve)
        _warn_global_cardinality([n for n, _ in suffix])
        suffix = []
    # mid-pipeline cardinality stages (a $limit BEFORE a $project, say)
    # still run once globally — per MQL they'd run per outer document.
    # Trailing runs are handled exactly below; only the buried ones are
    # left to warn about.
    risky = [
        next(iter(s))
        for s in main
        if isinstance(s, dict)
        and next(iter(s), None) in ("$limit", "$skip", "$sample")
    ]
    if risky:
        _warn_global_cardinality(risky)
    grouped = sub.groupBy(F.col(foreign_field).alias("__lk")).agg(
        F.collect_list(F.struct(*sub.columns)).alias(as_field)
    )
    joined = df.join(grouped, local_key == grouped["__lk"], "left").drop("__lk")
    arr = F.coalesce(F.col(as_field), F.array())
    return joined.withColumn(as_field, _apply_array_suffix(arr, suffix))


def _warn_global_cardinality(names):
    warnings.warn(
        f"$lookup correlated rewrite applies {sorted(set(names))} "
        "to the whole foreign collection, not per outer row; move them "
        "to the END of the subpipeline (a trailing $sort/$skip/$limit "
        "run is translated exactly, per outer row)"
    )


def _split_cardinality_suffix(rest):
    """Peel the maximal trailing run of $sort/$skip/$limit stages off a
    $lookup subpipeline. MQL evaluates the subpipeline once per outer
    document, so these must apply PER OUTER ROW — which the equi-join
    rewrite achieves by sorting/slicing the collected match array after
    the join (the top-N-per-row idiom, e.g. "latest 3 orders per
    customer"). Returns (main_stages, [(name, arg), ...])."""
    main = list(rest)
    suffix = []
    while main:
        last = main[-1]
        if not (isinstance(last, dict) and len(last) == 1):
            break
        name, arg = next(iter(last.items()))
        if name == "$sort" and isinstance(arg, dict) and arg and all(
            isinstance(k, str) and "." not in k and v in (1, -1)
            for k, v in arg.items()
        ):
            suffix.insert(0, (name, arg))
        elif (
            name in ("$limit", "$skip")
            and isinstance(arg, int)
            and not isinstance(arg, bool)
            and arg >= 0
        ):
            suffix.insert(0, (name, arg))
        else:
            break
        main.pop()
    return main, suffix


def _suffix_translatable(suffix, sub):
    """Sort keys must exist as top-level columns of the pre-join frame;
    mixed-direction sorts use key negation, so descending keys must be
    numeric (same constraint as the $topN accumulator)."""
    from pyspark.sql.types import NumericType

    fields = {f.name: f.dataType for f in sub.schema.fields}
    for name, arg in suffix:
        if name != "$sort":
            continue
        if any(k not in fields for k in arg):
            return False
        if len(set(arg.values())) > 1 and any(
            d == -1 and not isinstance(fields[k], NumericType)
            for k, d in arg.items()
        ):
            return False
        # the replay sorts struct(keys..., whole-row) — the whole-row
        # tail makes every column an implicit comparator, so a
        # non-orderable column anywhere in the foreign frame (MapType,
        # say) would fail at analysis; fall back to the warned global
        # path instead
        if not all(_orderable(t) for t in fields.values()):
            return False
    return True


def _orderable(dt):
    """True if Spark can sort values of this type (struct comparison
    requires every field orderable; maps are never orderable)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def _apply_array_suffix(arr, suffix):
    """Replay a $sort/$skip/$limit suffix on the collected match array —
    per-outer-row MQL semantics. Null sort keys land first ascending /
    last descending, matching the server's null-before-numbers order."""
    def _keyer(spec, uniform):
        # closure factory: F.transform treats a 2-arg lambda as
        # (element, index), so the spec must be captured, not defaulted
        def key(s):
            if uniform:
                keys = [
                    s.getField(k).alias(f"__k{i}")
                    for i, k in enumerate(spec)
                ]
            else:
                # mixed directions: negate descending (numeric) keys so
                # a single ascending struct sort realizes the spec.
                # -NULL is NULL (would sort FIRST ascending), but the
                # server places nulls LAST under a descending key — so
                # each key carries an explicit null rank: asc nulls
                # first (0), desc nulls last (1)
                keys = []
                for i, (k, d) in enumerate(spec.items()):
                    v = s.getField(k)
                    if d == 1:
                        rank = F.when(v.isNull(), 0).otherwise(1)
                        keys.append(rank.alias(f"__n{i}"))
                        keys.append(v.alias(f"__k{i}"))
                    else:
                        rank = F.when(v.isNull(), 1).otherwise(0)
                        keys.append(rank.alias(f"__n{i}"))
                        keys.append((-v).alias(f"__k{i}"))
            return F.struct(*keys, s.alias("__v"))

        return key

    for name, arg in suffix:
        if name == "$sort":
            directions = set(arg.values())
            uniform = len(directions) == 1
            asc = next(iter(directions)) == 1 if uniform else True
            keyed = F.transform(arr, _keyer(arg, uniform))
            arr = F.transform(
                F.sort_array(keyed, asc=asc), lambda s: s.getField("__v")
            )
        elif name == "$skip":
            arr = F.slice(
                arr,
                arg + 1,
                F.greatest(F.size(arr) - F.lit(arg), F.lit(0)),
            )
        else:  # $limit
            arr = F.slice(arr, 1, arg)
    return arr


def _correlated_eq(pipeline, let):
    """Detect the canonical correlated-$lookup shape:
    [...let-free prefix..., {$match: {$expr: {$eq: ["$foreign",
    "$$local_var"]}}}, ...rest] and return
    (local_expr, foreign_field, rest_pipeline) or None.

    The correlated $match may be preceded by stages that don't reference
    $$let variables (r6 — the Atlas shape where ``$search`` must LEAD a
    $lookup subpipeline, with the correlation $match second); the prefix
    runs on the foreign side before correlation, exactly its original
    position. Sibling predicates in the correlated $match are NOT
    discarded: they are re-emitted as a $match in the rest pipeline so
    the foreign side is filtered exactly as MQL would."""
    for idx, stage in enumerate(pipeline or []):
        try:
            ((name, margs),) = stage.items()
        except (ValueError, AttributeError):
            return None
        parsed = None
        if name == "$match" and isinstance(margs, dict) and "$expr" in margs:
            try:
                ((op, pair),) = margs["$expr"].items()
                if op == "$eq":
                    a, b = pair
                    var = next(
                        p for p in (a, b)
                        if isinstance(p, str) and p.startswith("$$")
                    )
                    fld = next(
                        p for p in (a, b)
                        if isinstance(p, str)
                        and p.startswith("$")
                        and not p.startswith("$$")
                    )
                    parsed = (var, fld)
            except (KeyError, ValueError, StopIteration, AttributeError):
                parsed = None
        if parsed is None:
            if _uses_let_var(stage):
                return None  # correlated stage we can't rewrite past
            continue  # let-free prefix stage: runs on the foreign side
        var, fld = parsed
        if var[2:] not in let:
            return None
        local_expr = let[var[2:]]
        rest = list(pipeline[:idx]) + list(pipeline[idx + 1:])
        siblings = {k: v for k, v in margs.items() if k != "$expr"}
        if siblings:
            if any(_uses_let_var(v) for v in siblings.values()):
                return None  # sibling references $$var — fall back
            rest = list(pipeline[:idx]) + [{"$match": siblings}] + list(
                pipeline[idx + 1:]
            )
        return local_expr, fld[1:], rest
    return None


def _uses_let_var(node) -> bool:
    """True if any string leaf references a $$let variable (those can't be
    evaluated on the foreign side alone)."""
    if isinstance(node, str):
        return node.startswith("$$")
    if isinstance(node, dict):
        return any(_uses_let_var(v) for v in node.values())
    if isinstance(node, (list, tuple)):
        return any(_uses_let_var(v) for v in node)
    return False


def _redact_vars() -> dict:
    # built lazily: F.lit needs an active SparkContext, which doesn't
    # exist at import time
    return {
        "PRUNE": F.lit("PRUNE"),
        "KEEP": F.lit("KEEP"),
        "DESCEND": F.lit("DESCEND"),
    }


def _redact_child(col: Column, dtype, expr) -> Column:
    """Redact one value per the $redact decision expression. Struct
    fields can't be physically dropped per-row in a fixed schema, so a
    pruned subdocument becomes NULL (the engine's missing≡null
    contract); pruned ARRAY elements are removed, as in MQL."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.StructType):
        env = {"CURRENT": col, **_redact_vars()}
        dec = translate_expr(expr, env)
        recursed = F.struct(
            *[
                _redact_child(col.getField(f.name), f.dataType, expr).alias(f.name)
                for f in dtype.fields
            ]
        )
        return (
            F.when(dec == "PRUNE", F.lit(None))
            .when(dec == "KEEP", col)
            .otherwise(recursed)
        )
    if isinstance(dtype, T.ArrayType) and isinstance(dtype.elementType, T.StructType):
        kept = F.filter(
            col,
            lambda x: translate_expr(expr, {"CURRENT": x, **_redact_vars()})
            != "PRUNE",
        )
        et = dtype.elementType

        def per_elem(x):
            dec = translate_expr(expr, {"CURRENT": x, **_redact_vars()})
            recursed = F.struct(
                *[
                    _redact_child(x.getField(f.name), f.dataType, expr).alias(f.name)
                    for f in et.fields
                ]
            )
            return F.when(dec == "KEEP", x).otherwise(recursed)

        return F.transform(kept, per_elem)
    return col


@_stage("$redact")
def _redact(df, args, resolve):
    """$redact: per-document-level access control. The decision
    expression evaluates at the root (dropping whole rows on $$PRUNE)
    and again for every subdocument / array-of-document element, with
    field paths rebound to that level ($$CURRENT semantics). Pure
    Catalyst expressions — no shuffle, scales as a scan."""
    top = translate_expr(args, _redact_vars())
    kept = df.filter(top != F.lit("PRUNE"))
    out = []
    for f in df.schema.fields:
        redacted = _redact_child(F.col(f.name), f.dataType, args)
        out.append(F.when(top == "KEEP", F.col(f.name)).otherwise(redacted).alias(f.name))
    return kept.select(*out)


@_stage("$unionWith")
def _union_with(df, args, resolve):
    if isinstance(args, str):
        other = resolve(args)
    else:
        other = resolve(args["coll"])
        if args.get("pipeline"):
            other = apply_pipeline(other, args["pipeline"], resolve)
    return df.unionByName(other, allowMissingColumns=True)


@_stage("$documents")
def _documents(df, args, resolve):
    """Literal-documents input stage (db.aggregate([{$documents: [...]}])):
    replaces the incoming frame with an inline DataFrame. Driver-side by
    definition — MQL caps the literal list at 16 MB, so no scale concern."""
    if not isinstance(args, list) or not args:
        raise MQLTranslationError("$documents requires a non-empty list")
    if not all(isinstance(d, dict) for d in args):
        raise MQLTranslationError("$documents entries must be documents")
    return df.sparkSession.createDataFrame(args)


@_stage("$collStats")
def _coll_stats(df, args, resolve):
    """Collection statistics (server stage, first-in-pipeline): one summary
    document. ``count`` is exact; ``storageStats`` reports what a
    DataFrame-backed collection can honestly know — schema width and the
    scanned parquet bytes when the frame has a file source (from the
    plan's input files; 0 for purely derived frames). ``latencyStats`` has
    no meaning off-server and raises.

    Scale: the count is a partial-agg COUNT(*) (parquet metadata-only when
    the frame is a bare scan); file sizes are driver-side footer stats —
    nothing scans data twice.
    """
    if not isinstance(args, dict):
        raise MQLTranslationError("$collStats requires a document")
    unknown = set(args) - {"count", "storageStats"}
    if unknown:
        raise MQLTranslationError(
            f"$collStats supports count/storageStats here, got {sorted(unknown)}"
        )
    cols = []
    if "count" in args:
        cols.append(F.count(F.lit(1)).cast("long").alias("count"))
    if "storageStats" in args:
        import os as _os

        try:
            files = df.inputFiles()
        except Exception:
            files = []
        size = 0
        for f in files:
            p = f[len("file:"):] if f.startswith("file:") else f
            try:
                size += _os.path.getsize(p)
            except OSError:
                pass
        cols.append(
            F.lit(size).cast("long").alias("storageSize")
        )
        cols.append(F.lit(len(files)).cast("long").alias("numFiles"))
        cols.append(F.lit(len(df.columns)).cast("long").alias("numFields"))
    if not cols:
        raise MQLTranslationError("$collStats: pass count and/or storageStats")
    return df.agg(*cols) if "count" in args else df.limit(0).agg(*cols)


@_stage("$sample")
def _sample(df, args, resolve):
    """Random N docs. TakeOrdered over rand() — top-k per partition then
    merge on the driver, no global sort. ``seed`` is an engine extension
    for reproducibility."""
    size = int(args["size"])
    seed = args.get("seed", 42)
    return df.orderBy(F.rand(seed)).limit(size)


@_stage("$replaceRoot", "$replaceWith")
def _replace_root(df, args, resolve):
    new_root = args["newRoot"] if isinstance(args, dict) and "newRoot" in args else args
    if isinstance(new_root, str) and new_root.startswith("$"):
        return df.select(f"{new_root[1:]}.*")
    if isinstance(new_root, dict):
        return df.select(
            *[translate_expr(v).alias(k) for k, v in new_root.items()]
        )
    raise MQLTranslationError(f"bad $replaceRoot: {args!r}")


@_stage("$bucket")
def _bucket(df, args, resolve):
    """Histogram with explicit boundaries → when-chain bucket label +
    hash aggregation. Single shuffle on the (few) bucket labels; partial
    aggregation makes the skew harmless."""
    group_expr = translate_expr(args["groupBy"])
    bounds = args["boundaries"]
    col = None
    for lo, hi in zip(bounds, bounds[1:]):
        cond = (group_expr >= F.lit(lo)) & (group_expr < F.lit(hi))
        col = F.when(cond, F.lit(lo)) if col is None else col.when(cond, F.lit(lo))
    if "default" in args:
        col = col.otherwise(F.lit(args["default"]))
    output = args.get("output", {"count": {"$sum": 1}})
    aggs = [_accumulator(spec).alias(name) for name, spec in output.items()]
    out = df.withColumn("__bucket", col).filter(F.col("__bucket").isNotNull())
    return out.groupBy(F.col("__bucket").alias("_id")).agg(*aggs)


@_stage("$bucketAuto")
def _bucket_auto(df, args, resolve):
    """ntile over a global ordering — inherently a single-partition window;
    fine for post-aggregation data, flagged for raw-scan scale."""
    warnings.warn("$bucketAuto uses a global window; avoid on raw 100TB scans")
    group_expr = translate_expr(args["groupBy"])
    n = int(args["buckets"])
    output = args.get("output", {"count": {"$sum": 1}})
    aggs = [_accumulator(spec).alias(name) for name, spec in output.items()]
    w = Window.orderBy(group_expr)
    bucketed = df.withColumn("__bucket", F.ntile(n).over(w)).withColumn(
        "__gb", group_expr
    )
    return (
        bucketed.groupBy("__bucket")
        .agg(F.min("__gb").alias("min"), F.max("__gb").alias("max"), *aggs)
        .select(
            F.struct(F.col("min"), F.col("max")).alias("_id"),
            *[F.col(name) for name in output],
        )
    )


@_stage("$facet")
def _facet(df, args, resolve):
    """N sub-pipelines over one input → one row with an array per facet.
    Each facet is collected to a single-row array then cross-joined
    (broadcast, 1×1 rows) — mirrors MQL's single-doc output."""
    out = None
    for name, pipe in args.items():
        sub = apply_pipeline(df, pipe, resolve)
        arr = sub.agg(F.collect_list(F.struct(*sub.columns)).alias(name))
        out = arr if out is None else out.crossJoin(F.broadcast(arr))
    return out


_WINDOW_FNS = {
    "$rank": lambda a, env: F.rank(),
    "$denseRank": lambda a, env: F.dense_rank(),
    "$documentNumber": lambda a, env: F.row_number(),
}


@_stage("$setWindowFields")
def _set_window_fields(df, args, resolve):
    part = args.get("partitionBy")
    sort_by = args.get("sortBy")
    if part is None:
        warnings.warn(
            "$setWindowFields without partitionBy is a single-partition window"
        )
        base = Window.partitionBy()
    else:
        base = Window.partitionBy(translate_expr(part))
    if sort_by:
        base = base.orderBy(*_sort_cols(sort_by))
    for field, spec in args["output"].items():
        spec = dict(spec)
        window = spec.pop("window", None)
        ((op, arg),) = spec.items()
        if op in _WINDOW_FNS:
            df = df.withColumn(field, _WINDOW_FNS[op](arg, None).over(base))
            continue
        if op == "$expMovingAvg":
            df = _exp_moving_avg(df, field, arg, part, sort_by)
            continue
        if op == "$shift":
            by = int(arg.get("by", 1))
            out_expr = translate_expr(arg["output"])
            default = translate_expr(arg.get("default"))
            fn = F.lag(out_expr, -by, None) if by < 0 else F.lead(out_expr, by, None)
            df = df.withColumn(field, F.coalesce(fn.over(base), default))
            continue
        if op == "$locf":
            w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            df = df.withColumn(
                field, F.last(translate_expr(arg), ignorenulls=True).over(w)
            )
            continue
        if op == "$minMaxScaler":
            # MongoDB 8.1: scale input to [min, max] over the window.
            # Unlike order-sensitive aggs, its default window is the
            # WHOLE partition (["unbounded", "unbounded"] per the docs);
            # a constant window scales to the lower bound (server: 0
            # for the default [0, 1]).
            if not isinstance(arg, dict) or "input" not in arg:
                raise MQLTranslationError("$minMaxScaler requires {input}")
            inp = translate_expr(arg["input"])
            lo = float(arg.get("min", 0.0))
            hi = float(arg.get("max", 1.0))
            if hi <= lo:
                raise MQLTranslationError("$minMaxScaler max must exceed min")
            w = _frame(
                base,
                window
                if window is not None
                else {"documents": ["unbounded", "unbounded"]},
                sort_by,
            )
            mn = F.min(inp).over(w)
            mx = F.max(inp).over(w)
            scaled = F.when(mx > mn, (inp - mn) / (mx - mn)).otherwise(
                F.lit(0.0)
            )
            df = df.withColumn(
                field, (scaled * F.lit(hi - lo) + F.lit(lo)).cast("double")
            )
            continue
        if op == "$linearFill":
            df = _linear_fill(df, field, arg, base, sort_by)
            continue
        if op in ("$derivative", "$integral"):
            df = _calculus_window(df, field, op, arg, base, window, sort_by)
            continue
        w = _frame(base, window, sort_by)
        df = df.withColumn(field, _window_agg(op, arg, w))
    return df


def _exp_moving_avg(df, field, arg, part, sort_by):
    """$expMovingAvg is recursive (each value depends on the previous EMA)
    — not expressible as a Spark window frame. Arrow-batched applyInPandas
    per partition key: state never leaves the group, shuffle is the same
    one any windowed agg pays."""
    from pyspark.sql import types as T

    if part is None:
        raise MQLTranslationError("$expMovingAvg requires partitionBy")
    if not sort_by:
        raise MQLTranslationError("$expMovingAvg requires sortBy")
    alpha = arg.get("alpha")
    if alpha is None:
        alpha = 2.0 / (int(arg["N"]) + 1.0)
    tmp = df.withColumn("__ema_in", translate_expr(arg["input"]).cast("double"))
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(field, T.DoubleType(), True)]
    )
    keys = list(sort_by.keys())
    asc = [d == 1 for d in sort_by.values()]

    def fn(pdf):
        pdf = pdf.sort_values(by=keys, ascending=asc)
        pdf[field] = pdf["__ema_in"].ewm(alpha=alpha, adjust=False).mean()
        return pdf.drop(columns=["__ema_in"])

    return tmp.groupBy(translate_expr(part)).applyInPandas(fn, schema=out_schema)


def _sort_key_as_number(df, sort_by):
    """The single sortBy key as a double: timestamps become epoch seconds
    (the x-axis $derivative/$integral/$linearFill integrate over)."""
    from pyspark.sql import types as T

    if not sort_by or len(sort_by) != 1:
        raise MQLTranslationError(
            "this window function requires exactly one sortBy field"
        )
    key = next(iter(sort_by))
    dt = df.schema[key].dataType
    col = F.col(key)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return (F.unix_micros(col.cast("timestamp")) / 1_000_000).cast("double")
    return col.cast("double")


def _linear_fill(df, field, arg, base, sort_by):
    """$linearFill: nulls become the linear interpolation between the
    surrounding non-null values along the sortBy axis (window edges stay
    null, matching MQL). Four window passes, no Python on the data."""
    y = translate_expr(arg)
    x = _sort_key_as_number(df, sort_by)
    back = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fwd = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    y0 = F.last(y, ignorenulls=True).over(back)
    x0 = F.last(F.when(y.isNotNull(), x), ignorenulls=True).over(back)
    y1 = F.first(y, ignorenulls=True).over(fwd)
    x1 = F.first(F.when(y.isNotNull(), x), ignorenulls=True).over(fwd)
    interp = F.when(
        y.isNotNull(), y.cast("double")
    ).otherwise(
        y0.cast("double")
        + (y1.cast("double") - y0.cast("double")) * (x - x0) / (x1 - x0)
    )
    return df.withColumn(field, interp)


def _calculus_window(df, field, op, arg, base, window, sort_by):
    """$derivative: (yₗₐₛₜ − y_first)/Δx over the frame. $integral:
    trapezoid sum over the frame (running increments, so the frame must
    start at 'unbounded'). Δx is expressed in the given unit."""
    secs = {
        "millisecond": 0.001,
        "second": 1,
        "minute": 60,
        "hour": 3600,
        "day": 86400,
        "week": 604800,
    }
    unit = arg.get("unit")
    if unit is not None and unit not in secs:
        raise MQLTranslationError(f"unit {unit} unsupported")
    unit_div = secs[unit] if unit else 1
    y = translate_expr(arg["input"]).cast("double")
    x = _sort_key_as_number(df, sort_by)
    w = _frame(base, window, sort_by)
    if op == "$derivative":
        dy = F.last(y).over(w) - F.first(y).over(w)
        dx = (F.last(x).over(w) - F.first(x).over(w)) / unit_div
        return df.withColumn(field, F.when(dx != 0, dy / dx))
    # $integral — per-row trapezoid increment summed over the frame
    if window is not None:
        for kind in ("documents", "range"):
            if kind in window and window[kind][0] != "unbounded":
                raise MQLTranslationError(
                    "$integral supports frames starting at 'unbounded' only"
                )
    inc = (y + F.lag(y).over(base)) * (x - F.lag(x).over(base)) / (2 * unit_div)
    return df.withColumn(field, F.coalesce(F.sum(inc).over(w), F.lit(0.0)))


def _window_agg(op, arg, w) -> Column:
    """Fully-windowed Column for an accumulator-style window function.

    Root-aggregate accumulators delegate to the $group translator and
    attach the frame directly. COMPOSED accumulators (post-processing
    around a collect — $minN/$maxN/$firstN/$lastN/$top(N)/$bottom(N)/
    $mergeObjects) must window the INNER collect: .over() on the outer
    expression is not an aggregate root and fails analysis."""
    if op in ("$minN", "$maxN"):
        inp = translate_expr(arg["input"])
        n = int(arg["n"])
        return F.slice(
            F.sort_array(F.collect_list(inp).over(w), asc=op == "$minN"),
            1,
            n,
        )
    if op in ("$firstN", "$lastN"):
        inp = translate_expr(arg["input"])
        n = int(arg["n"])
        col = F.collect_list(F.struct(inp.alias("v"))).over(w)
        if op == "$firstN":
            sliced = F.slice(col, 1, n)
        else:
            sliced = F.slice(
                col, F.greatest(F.size(col) - n + 1, F.lit(1)), n
            )
        return F.transform(sliced, lambda s: s.getField("v"))
    if op in ("$top", "$bottom", "$topN", "$bottomN"):
        return _top_bottom(op, arg, over=w)
    if op == "$mergeObjects":
        return _merge_objects_acc(arg, over=w)
    if op == "$covariancePop":
        a, b = arg
        return F.covar_pop(translate_expr(a), translate_expr(b)).over(w)
    if op == "$covarianceSamp":
        a, b = arg
        return F.covar_samp(translate_expr(a), translate_expr(b)).over(w)
    if op == "$accumulator":
        # the python-callable form runs as a pandas UDAF — not legal
        # over a window frame
        raise MQLTranslationError(
            "$accumulator is not supported as a window function"
        )
    # every remaining accumulator ($sum/$avg/$min/$max/$count/$push/
    # $addToSet/$first/$last/$stdDev*/$median/$percentile) is a ROOT
    # aggregate — MQL 7.0 exposes them as window functions too
    return _accumulator({op: arg}).over(w)


_BOUND = {"unbounded": None, "current": 0}


def _frame(base, window, sort_by):
    if window is None:
        # MQL default for order-sensitive aggs: unbounded preceding → current
        if sort_by:
            return base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return base.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    if "documents" in window:
        lo, hi = window["documents"]
        lo = Window.unboundedPreceding if lo == "unbounded" else int(lo) if lo != "current" else 0
        hi = Window.unboundedFollowing if hi == "unbounded" else int(hi) if hi != "current" else 0
        return base.rowsBetween(lo, hi)
    if "range" in window:
        lo, hi = window["range"]
        unit = window.get("unit")
        mult = 1
        if unit:
            secs = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}
            if unit not in secs:
                raise MQLTranslationError(f"range unit {unit} unsupported")
            mult = secs[unit]
        lo = Window.unboundedPreceding if lo == "unbounded" else (0 if lo == "current" else int(lo) * mult)
        hi = Window.unboundedFollowing if hi == "unbounded" else (0 if hi == "current" else int(hi) * mult)
        return base.rangeBetween(lo, hi)
    raise MQLTranslationError(f"bad window spec: {window!r}")


@_stage("$fill")
def _fill(df, args, resolve):
    part = args.get("partitionBy")
    sort_by = args.get("sortBy")
    base = Window.partitionBy(translate_expr(part)) if part else Window.partitionBy()
    if sort_by:
        base = base.orderBy(*_sort_cols(sort_by))
    w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for field, spec in args["output"].items():
        if "value" in spec:
            df = df.withColumn(
                field, F.coalesce(F.col(field), translate_expr(spec["value"]))
            )
        elif spec.get("method") == "locf":
            df = df.withColumn(
                field, F.last(F.col(field), ignorenulls=True).over(w)
            )
        else:
            raise MQLTranslationError(f"unsupported $fill spec: {spec!r}")
    return df


@_stage("$densify")
def _densify(df, args, resolve):
    """Fill gaps in a numeric/time series: per-partition (or global)
    min/max → sequence() → explode → left join original rows back on.
    The sequence generation is distributed with the partition keys; only
    'full' bounds need a 1-row broadcast of the global min/max."""
    field = args["field"]
    rng = args["range"]
    step = rng["step"]
    unit = rng.get("unit")
    bounds = rng.get("bounds", "full")
    part_fields = args.get("partitionByFields", [])
    if unit:
        step_expr = F.expr(f"INTERVAL {int(step)} {unit}")
    else:
        step_expr = F.lit(step)

    if isinstance(bounds, list):
        lo, hi = F.lit(bounds[0]), F.lit(bounds[1])
        if part_fields:
            base = df.select(*part_fields).distinct()
        else:
            base = df.limit(1).select(F.lit(1).alias("__one")).drop("__one")
            base = df.sparkSession.range(1).select()
        grid = base.select(
            *part_fields, F.explode(F.sequence(lo, hi, step_expr)).alias(field)
        )
    elif bounds == "partition" and part_fields:
        grid = (
            df.groupBy(*part_fields)
            .agg(F.min(field).alias("__lo"), F.max(field).alias("__hi"))
            .select(
                *part_fields,
                F.explode(
                    F.sequence(F.col("__lo"), F.col("__hi"), step_expr)
                ).alias(field),
            )
        )
    else:  # full
        b = df.agg(F.min(field).alias("__lo"), F.max(field).alias("__hi"))
        if part_fields:
            base = df.select(*part_fields).distinct().crossJoin(F.broadcast(b))
        else:
            base = b
        grid = base.select(
            *part_fields,
            F.explode(F.sequence(F.col("__lo"), F.col("__hi"), step_expr)).alias(
                field
            ),
        )
    return grid.join(df, on=[*part_fields, field], how="left")


@_stage("$geoNear")
def _geo_near(df, args, resolve):
    """$geoNear with spherical (haversine) distance — must be expressible
    without a geo index, so every document gets an exact distance (the
    index in MQL is a performance detail, not a semantic one).

    Supported: near [lng, lat] (or {type: Point, coordinates}), key (a
    [lng, lat] array column or a struct with lng/lat fields),
    distanceField, maxDistance / minDistance (meters), query (pre-filter),
    distanceMultiplier. Output is sorted nearest-first like MQL.

    Plan: pre-filter → one codegen'd trig projection → range filter →
    sort (follow with $limit for TakeOrdered). Zero shuffle before the
    sort; at scale bound the candidate set with maxDistance or a
    geohash-bucket pre-filter before sorting.
    """
    near = args["near"]
    if isinstance(near, dict):
        near = near["coordinates"]
    lng0, lat0 = float(near[0]), float(near[1])
    key = args.get("key", "location")
    dist_field = args["distanceField"]
    if args.get("query"):
        df = df.filter(translate_match(args["query"]))
    loc = F.col(key)
    kt = df.schema[key].dataType if key in df.columns else None
    import pyspark.sql.types as T_

    if isinstance(kt, T_.StructType):
        lng, lat = loc.getField("lng"), loc.getField("lat")
    else:
        lng, lat = F.element_at(loc, 1), F.element_at(loc, 2)
    R = 6378137.0  # MQL uses the WGS84 equatorial radius for legacy/spherical
    rlat0, rlng0 = F.lit(lat0 * 3.141592653589793 / 180), F.lit(
        lng0 * 3.141592653589793 / 180
    )
    rlat, rlng = F.radians(lat.cast("double")), F.radians(lng.cast("double"))
    a = (
        F.pow(F.sin((rlat - rlat0) / 2), 2)
        + F.cos(rlat0) * F.cos(rlat) * F.pow(F.sin((rlng - rlng0) / 2), 2)
    )
    dist = F.lit(2 * R) * F.asin(F.least(F.lit(1.0), F.sqrt(a)))
    mult = float(args.get("distanceMultiplier", 1.0))
    out = df.withColumn(dist_field, (dist * mult).cast("double"))
    if "maxDistance" in args:
        out = out.filter(F.col(dist_field) <= float(args["maxDistance"]) * mult)
    if "minDistance" in args:
        out = out.filter(F.col(dist_field) >= float(args["minDistance"]) * mult)
    return out.orderBy(F.col(dist_field))


@_stage("$graphLookup")
def _graph_lookup(df, args, resolve):
    """Recursive traversal (MQL $graphLookup) as iterative distributed
    joins: frontier ⋈ foreign per depth, visited-set dedup to terminate on
    cycles. Driver loop only coordinates; each step is a shuffle join (the
    standard Spark pattern for bounded-depth graph expansion; unbounded
    depth requires a fixpoint count() per iteration)."""
    foreign = resolve(args["from"])
    start = translate_expr(args["startWith"])
    from_field = args["connectFromField"]
    to_field = args["connectToField"]
    as_field = args["as"]
    depth_field = args.get("depthField")
    max_depth = args.get("maxDepth", 20)

    # normalize scalar/array startWith into an array (schema introspection)
    from pyspark.sql import types as T

    start_type = df.select(start.alias("__s")).schema[0].dataType
    start_arr = start if isinstance(start_type, T.ArrayType) else F.array(start)
    # __gid correlates each input row with its traversal results, and
    # `left` feeds BOTH the seeds branch and the final join-back. A
    # positional id (monotonically_increasing_id) can diverge between
    # those two evaluations after an upstream shuffle (the probe_bloom
    # hazard, membership.py), so the default key is CONTENT — r7: the
    # composite ``struct(_id, startWith)``, not ``_id`` alone. On a real
    # collection _id is unique and the struct changes nothing; but a
    # mid-pipeline frame can legally carry duplicate _id (e.g. $unwind
    # before $graphLookup), and the startWith component then keys each
    # row's OWN reachability instead of silently unioning all traversals
    # that share the _id. Rows agreeing on both fields have identical
    # traversals by definition, so sharing one key row is exact. Struct
    # join keys also compare null fields as EQUAL (Spark's complex-type
    # ordering), so a NULL _id still joins its results back — unlike a
    # bare-column equi-join where null never matches. Only genuinely
    # _id-less frames fall back to a positional id pinned by one eager
    # localCheckpoint.
    if "_id" in df.columns:
        left = df.withColumn(
            "__gid",
            F.struct(F.col("_id").alias("i"), start_arr.alias("s")),
        )
    else:
        left = df.withColumn(
            "__gid", F.monotonically_increasing_id()
        ).localCheckpoint(eager=True)
    seeds = left.select(
        "__gid", F.explode(start_arr).alias("__val")
    ).distinct()

    # rename the foreign side so traversals over the SAME table (the
    # common case: org charts, bom trees) don't trip self-join ambiguity
    fr = foreign.select(
        *[F.col(c).alias(f"__f_{c}") for c in foreign.columns]
    )
    doc_struct = F.struct(
        *[F.col(f"__f_{c}").alias(c) for c in foreign.columns]
    )
    matched_all = None
    seen = seeds
    for depth in range(int(max_depth) + 1):
        matched = (
            seeds.join(fr, seeds["__val"] == fr[f"__f_{to_field}"])
            .select(
                "__gid",
                doc_struct.alias("__doc"),
                F.col(f"__f_{from_field}").alias("__next"),
            )
            .withColumn("__depth", F.lit(depth).cast("long"))
        )
        matched = matched.localCheckpoint(eager=True)
        if matched.isEmpty():
            break
        matched_all = (
            matched if matched_all is None else matched_all.unionByName(matched)
        )
        nxt = matched.select("__gid", F.col("__next").alias("__val")).distinct()
        seeds = nxt.join(seen, ["__gid", "__val"], "left_anti").localCheckpoint(
            eager=True
        )
        seen = seen.unionByName(seeds)
        if seeds.isEmpty():
            break

    if matched_all is None:
        return left.withColumn(as_field, F.array()).drop("__gid")
    doc = F.col("__doc")
    if depth_field:
        doc = doc.withField(depth_field, F.col("__depth"))
    grouped = (
        matched_all.select("__gid", doc.alias("__doc"), "__depth")
        .dropDuplicates(["__gid", "__doc"])
        .groupBy("__gid")
        .agg(F.collect_list("__doc").alias(as_field))
    )
    out = left.join(grouped, "__gid", "left").withColumn(
        as_field, F.coalesce(F.col(as_field), F.array())
    )
    return out.drop("__gid")


@_stage("$rankFusion")
def _rank_fusion(df, args, resolve):
    """Hybrid search (MongoDB 8.1 ``$rankFusion``): reciprocal-rank
    fusion over ranked input pipelines — the canonical $search +
    $vectorSearch combiner.

    ``score(d) = Σ_i wᵢ / (60 + rankᵢ(d))``, fused on ``_id`` (the server
    requires input pipelines to return unmodified collection documents,
    so the base frame must carry ``_id``). Each sub-result's rank is its
    own output order, captured with monotonically_increasing_id (order-
    preserving after a global sort: partition index occupies the high
    bits) and densified by one row_number window — single-partition, but
    over top-k lists only, since ranking pipelines end with $limit.
    Output: base documents + ``__fusion_score`` (readable downstream as
    ``{"$meta": "score"}``), sorted by fused score desc, _id tiebreak.
    """
    if "_id" not in df.columns:
        raise MQLTranslationError("$rankFusion requires an _id column")
    want_details = bool(args.get("scoreDetails"))
    pipes = (args.get("input") or {}).get("pipelines") or {}
    if not isinstance(pipes, dict) or not pipes:
        raise MQLTranslationError("$rankFusion requires input.pipelines")
    weights = (args.get("combination") or {}).get("weights") or {}
    unknown = set(weights) - set(pipes)
    if unknown:
        raise MQLTranslationError(
            f"$rankFusion weights for unknown pipelines: {sorted(unknown)}"
        )
    fused = None
    for name, stages in pipes.items():
        w = float(weights.get(name, 1.0))
        sub = apply_pipeline(df, stages, resolve)
        if "_id" not in sub.columns:
            raise MQLTranslationError(
                f"$rankFusion pipeline {name!r} must keep _id"
            )
        # _mono captures the sub-pipeline's own output order. Audit note
        # (r6): this positional id is NOT branch-correlation — `ranked`
        # is evaluated on one path (union → groupBy), and MQL requires
        # ranking pipelines to be deterministically ordered ($sort +
        # $limit), so the captured order is the defined one.
        proj = [
            F.col("_id"),
            (F.lit(w) / (F.lit(60) + F.col("_rank"))).alias("_rrf"),
        ]
        if want_details:
            # Atlas scoreDetails detail node per input pipeline:
            # inputPipelineName / rank / weight / this pipeline's RRF
            # contribution. inputPipelineName leads the struct so
            # array_sort gives a deterministic pipeline order.
            proj.append(
                F.struct(
                    F.lit(name).alias("inputPipelineName"),
                    F.col("_rank").cast("long").alias("rank"),
                    F.lit(w).alias("weight"),
                    (F.lit(w) / (F.lit(60) + F.col("_rank")))
                    .cast("double")
                    .alias("value"),
                ).alias("_detail")
            )
        ranked = (
            sub.select("_id")
            .withColumn("_mono", F.monotonically_increasing_id())
            .withColumn(
                "_rank", F.row_number().over(Window.orderBy("_mono"))
            )
            .select(*proj)
        )
        fused = ranked if fused is None else fused.unionByName(ranked)
    aggs = [F.sum("_rrf").alias("__fusion_score")]
    if want_details:
        aggs.append(F.array_sort(F.collect_list("_detail")).alias("__details"))
    scores = fused.groupBy("_id").agg(*aggs)
    # the score set is at most Σ top-k rows — broadcast it onto the base
    # scan rather than shuffling the collection for a sort-merge join
    out = df.join(F.broadcast(scores), "_id")
    if want_details:
        # value == fused score, pinned like $search's scoreDetails
        out = out.withColumn(
            "__fusion_score_details",
            F.struct(
                F.col("__fusion_score").cast("double").alias("value"),
                F.lit(
                    "value output by reciprocal rank fusion algorithm, "
                    "computed as sum over input pipelines of "
                    "weight / (60 + rank)"
                ).alias("description"),
                F.col("__details").alias("details"),
            ),
        ).drop("__details")
    return out.orderBy(F.col("__fusion_score").desc(), F.col("_id"))


#: score columns the search stages attach, in detection order
_SCORE_COLS = ("__search_score", "__vector_score", "__fusion_score")


@_stage("$scoreFusion")
def _score_fusion(df, args, resolve):
    """``$scoreFusion`` (MongoDB 8.1): combine the NORMALIZED SCORES of
    score-producing pipelines ($search / $vectorSearch / nested fusions),
    vs $rankFusion's rank-only view.

    normalization: "none" | "sigmoid" (1/(1+e^-s), per row) |
    "minMaxScaler" (per-pipeline global min/max — a 1-row broadcast onto
    the top-k list). combination.method "avg" (the default) averages the
    weighted scores over ALL pipelines, docs absent from a pipeline
    contributing 0, matching the server. Fusion identity is ``_id``;
    fused score surfaces as ``{"$meta": "score"}``.
    """
    if "_id" not in df.columns:
        raise MQLTranslationError("$scoreFusion requires an _id column")
    want_details = bool(args.get("scoreDetails"))
    spec = args.get("input") or {}
    pipes = spec.get("pipelines") or {}
    if not isinstance(pipes, dict) or not pipes:
        raise MQLTranslationError("$scoreFusion requires input.pipelines")
    norm = spec.get("normalization", "none")
    if norm not in ("none", "sigmoid", "minMaxScaler"):
        raise MQLTranslationError(f"unsupported normalization: {norm!r}")
    comb = args.get("combination") or {}
    if comb.get("method", "avg") != "avg":
        raise MQLTranslationError("$scoreFusion supports method: avg")
    weights = comb.get("weights") or {}
    unknown = set(weights) - set(pipes)
    if unknown:
        raise MQLTranslationError(
            f"$scoreFusion weights for unknown pipelines: {sorted(unknown)}"
        )
    fused = None
    for name, stages in pipes.items():
        w = float(weights.get(name, 1.0))
        sub = apply_pipeline(df, stages, resolve)
        score_col = next((c for c in _SCORE_COLS if c in sub.columns), None)
        if score_col is None or "_id" not in sub.columns:
            raise MQLTranslationError(
                f"$scoreFusion pipeline {name!r} must be score-producing "
                "($search/$vectorSearch) and keep _id"
            )
        raw = F.col(score_col).cast("double")
        s = raw
        base = sub
        if norm == "sigmoid":
            s = F.lit(1.0) / (F.lit(1.0) + F.exp(-s))
        elif norm == "minMaxScaler":
            mm = sub.agg(F.min(s).alias("__lo"), F.max(s).alias("__hi"))
            base = sub.crossJoin(F.broadcast(mm))
            s = F.when(
                F.col("__hi") > F.col("__lo"),
                (s - F.col("__lo")) / (F.col("__hi") - F.col("__lo")),
            ).otherwise(F.lit(0.0))
        proj = [F.col("_id"), (F.lit(w) * s).alias("_ws")]
        if want_details:
            # Atlas scoreDetails detail node per input pipeline:
            # inputPipelineName / inputPipelineRawScore (pre-
            # normalization) / weight / value (weighted normalized
            # contribution). Name leads the struct for array_sort order.
            proj.append(
                F.struct(
                    F.lit(name).alias("inputPipelineName"),
                    raw.alias("inputPipelineRawScore"),
                    F.lit(w).alias("weight"),
                    (F.lit(w) * s).cast("double").alias("value"),
                ).alias("_detail")
            )
        scored = base.select(*proj)
        fused = scored if fused is None else fused.unionByName(scored)
    aggs = [
        (F.sum("_ws") / F.lit(float(len(pipes)))).alias("__fusion_score")
    ]
    if want_details:
        aggs.append(F.array_sort(F.collect_list("_detail")).alias("__details"))
    scores = fused.groupBy("_id").agg(*aggs)
    out = df.join(F.broadcast(scores), "_id")
    if want_details:
        # value == fused score, pinned like $search's scoreDetails
        out = out.withColumn(
            "__fusion_score_details",
            F.struct(
                F.col("__fusion_score").cast("double").alias("value"),
                F.lit(
                    "average of weighted "
                    + ("raw" if norm == "none" else norm)
                    + " scores across input pipelines; absent docs "
                    "contribute 0"
                ).alias("description"),
                F.col("__details").alias("details"),
            ),
        ).drop("__details")
    return out.orderBy(F.col("__fusion_score").desc(), F.col("_id"))


@_stage("$vectorSearch")
def _vector_search(df, args, resolve):
    """Atlas ``$vectorSearch`` executed natively (the reference can only
    reach this through an Atlas server — SURVEY 2.E "vector search" row).

    Supported: path, queryVector, limit, filter (MQL match, applied
    BEFORE scoring like Atlas pre-filters), similarity ("cosine" default,
    "dotProduct", "euclidean") with Atlas score normalization
    (cosine/dot: (1+s)/2; euclidean: 1/(1+d)). The score is exposed to
    later stages as {"$meta": "vectorSearchScore"}.

    ANN vs ENN follows Atlas: ``numCandidates`` without ``exact: true``
    routes through sign-bucket LSH pruning (prune_candidates_lsh) — only
    the smallest Hamming ring holding ≥ numCandidates rows is scored, so
    recall rises with numCandidates exactly like Atlas's knob. ``exact:
    true`` (or omitting numCandidates) keeps the exact scan, recall 1.
    The angular buckets approximate cosine/dotProduct ranking; euclidean
    always scores exactly (documented delta — Atlas uses HNSW for all).

    ``index`` (r9): in Atlas this NAMES the persisted vector index — the
    engine's equivalent is a ``build_ivf_pq_index`` artifact, so when
    ``index`` is a path to one (and ``exact`` is not set), candidate
    generation runs through the index: ``ivf_pq_index_topk`` reads only
    the ``nProbe`` (extension knob, default 4) nearest cell DIRECTORIES
    and ADC-scores ``numCandidates`` candidate ids (default
    ``10 × limit``), which broadcast-semi-join back to the collection
    for EXACT scoring and the final TakeOrdered(limit) — the standard
    two-stage retrieve-then-rerank, scores always true. The artifact is
    named by the explicit ``indexPath`` extension key, or by ``index``
    when it is an ABSOLUTE path; a relative ``index`` value (an Atlas
    index NAME like ``'default'``) is always accepted and ignored, even
    if a same-named directory exists under the CWD (r10: semantics must
    not depend on ambient filesystem state). Probing the artifact is
    partition pruning against its cell
    layout — the 100 TB shape where the corpus scan never happens.
    Route limits (each falls back to the LSH/exact paths): the index's
    L2 retrieval serves ``cosine`` (normalized-embeddings convention)
    and ``euclidean`` only — never ``dotProduct``; and a stage with a
    ``filter`` uses the index only when ``numCandidates`` is explicit,
    because index candidates intersect the filter AFTER retrieval.

    Plan: [ANN: bucket-distance histogram (≤9-row agg) + pruned scan,]
    codegen dot product against the broadcast-literal query vector,
    TakeOrdered(limit) — no shuffle of the data.
    """
    import os as _os

    from mongo_arrow_spark.operators.similarity import (
        dot,
        norm,
        prune_candidates_lsh,
    )

    path = args["path"]
    qv = [float(x) for x in args["queryVector"]]
    k = int(args["limit"])
    if args.get("filter"):
        df = df.filter(translate_match(args["filter"]))
    sim = args.get("similarity", "cosine")
    num_cand = args.get("numCandidates")
    # `indexPath` (extension key) routes explicitly; `index` (Atlas's
    # index NAME) routes only when it is an ABSOLUTE path to an
    # artifact. A relative name like 'default' must stay
    # accepted-and-ignored even when a same-named directory happens to
    # exist under the process CWD — otherwise result semantics flip on
    # ambient filesystem state (r9 advice fix).
    # routing permission follows the SOURCE of idx: an explicit truthy
    # indexPath routes as-is; a value that fell back to `index` (Atlas's
    # NAME — including when indexPath is present but null/empty) routes
    # only when absolute (r10 review fix: key-presence would have let a
    # template's "indexPath": null re-enable CWD-relative routing)
    idx = args.get("indexPath") or args.get("index")
    use_index = (
        isinstance(idx, str)
        and not args.get("exact", False)
        and (bool(args.get("indexPath")) or _os.path.isabs(idx))
        and _os.path.exists(_os.path.join(idx, "_ivf_pq_index.json"))
        # the index's IVF routing and ADC candidates rank by (squared)
        # L2 — aligned with euclidean, and with cosine under the
        # normalized-embeddings convention Atlas itself recommends for
        # cosine indexes; a dotProduct query's top match can be a
        # high-norm vector in an L2-far cell that NO n_probe reaches,
        # so dotProduct falls through to the LSH/exact paths (r9 review
        # fix)
        and sim in ("cosine", "euclidean")
        # candidates come from the WHOLE index; a pre-filter then
        # intersects AFTER retrieval, so a selective filter with the
        # default numCandidates=10*limit would collapse the result
        # (post-filter ANN). With a filter present the index route runs
        # only when the caller sized numCandidates explicitly —
        # otherwise exact scoring over the (already filtered, hence
        # smaller) collection is both correct and cheap (r9 review fix)
        and (not args.get("filter") or num_cand is not None)
    )
    if use_index:
        import json as _json

        from mongo_arrow_spark.operators.similarity import (
            ivf_pq_index_topk,
        )

        with open(_os.path.join(idx, "_ivf_pq_index.json")) as fh:
            id_col = _json.load(fh)["id_col"]
        if id_col not in df.columns:
            raise MQLTranslationError(
                f"$vectorSearch index {idx!r} keys on {id_col!r}, which "
                "the collection does not carry"
            )
        cand = ivf_pq_index_topk(
            df.sparkSession,
            idx,
            qv,
            k=int(num_cand or 10 * k),
            n_probe=int(args.get("nProbe", 4)),
        ).select(id_col)
        df = df.join(F.broadcast(cand), id_col, "left_semi")
    elif (
        num_cand is not None
        and not args.get("exact", False)
        and sim in ("cosine", "dotProduct")
    ):
        df = prune_candidates_lsh(df, qv, int(num_cand), vec_col=path)
    v = F.col(path)
    q = F.array(*[F.lit(x) for x in qv])
    if sim == "cosine":
        score = (1 + dot(v, q) / (norm(v) * norm(q))) / 2
    elif sim == "dotProduct":
        score = (1 + dot(v, q)) / 2
    elif sim == "euclidean":
        dist = F.sqrt(
            F.aggregate(
                F.zip_with(v, q, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        score = 1 / (1 + dist)
    else:
        raise MQLTranslationError(f"unsupported $vectorSearch similarity: {sim}")
    return (
        df.withColumn("__vector_score", score.cast("double"))
        .orderBy(F.col("__vector_score").desc())
        .limit(k)
    )


#: operator kinds the $search / $searchMeta clause parser accepts
_SEARCH_OPERATORS = (
    "text",
    "phrase",
    "range",
    "equals",
    "exists",
    "wildcard",
    "autocomplete",
    "near",
    "moreLikeThis",
    "in",
    "regex",
    "embeddedDocument",
    "queryString",
    "geoWithin",
    "geoShape",
)


def _parse_query_string(query: str, default_path: str):
    """Lucene-lite queryString → (must, mustNot, should) text/wildcard
    clause specs. Supported subset (documented): bare terms, field:term,
    quoted phrases, ``*``/``?`` wildcards in terms, AND/OR/NOT (AND binds
    tighter than OR; NOT prefixes one term). No parentheses, boosts,
    ranges or fuzzed terms — raise on those so callers know."""
    import shlex

    try:
        tokens_ = shlex.split(query)
    except ValueError as exc:
        raise MQLTranslationError(f"unparseable queryString: {exc}") from exc
    if any("(" in t or ")" in t or "^" in t for t in tokens_):
        raise MQLTranslationError("queryString parens/boosts unsupported")

    def to_clause(tok):
        path, _, term = tok.rpartition(":")
        path = path or default_path
        if not term:
            raise MQLTranslationError(f"queryString empty term in {tok!r}")
        if "*" in term or "?" in term:
            return {"wildcard": {"path": path, "query": term, "tokenLevel": True}}
        if " " in term:
            return {"phrase": {"path": path, "query": term}}
        return {"text": {"path": path, "query": term}}

    groups = [[]]  # OR-separated groups of (negated, clause)
    negate = False
    for tok in tokens_:
        up = tok.upper()
        if up == "OR":
            groups.append([])
            continue
        if up == "AND":
            continue
        if up == "NOT":
            negate = True
            continue
        groups[-1].append((negate, to_clause(tok)))
        negate = False
    groups = [g for g in groups if g]
    if not groups:
        raise MQLTranslationError("queryString has no terms")
    if len(groups) == 1:
        must = [c for neg, c in groups[0] if not neg]
        must_not = [c for neg, c in groups[0] if neg]
        return must, must_not, []
    # pure OR across groups: only single-positive-clause groups supported
    should = []
    for g in groups:
        if len(g) != 1 or g[0][0]:
            raise MQLTranslationError(
                "queryString OR of compound/negated groups unsupported"
            )
        should.append(g[0][1])
    return [], [], should


def _more_like_this_terms(like, max_terms=12):
    """Top-TF terms across the ``like`` documents' string values — the
    static analogue of Lucene's MLT term selection (the like docs are
    inline query constants, so extraction happens at translate time, not
    on data). Single-character tokens are dropped like Lucene's default
    minimum term length."""
    docs = like if isinstance(like, list) else [like]
    counts = {}
    for d in docs:
        values = d.values() if isinstance(d, dict) else [d]
        for v in values:
            if isinstance(v, str):
                for w in v.lower().split():
                    w = "".join(ch for ch in w if ch.isalnum())
                    if len(w) > 1:
                        counts[w] = counts.get(w, 0) + 1
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [w for w, _ in ranked[:max_terms]]


def _parse_fuzzy(spec):
    """Atlas ``fuzzy`` option → {maxEdits, prefixLength} (None if absent).
    Defaults follow Atlas: maxEdits 2, prefixLength 0. maxExpansions is
    accepted and ignored (it bounds Lucene's term-expansion search; the
    engine scans tokens directly, so there is nothing to cap)."""
    fz = spec.get("fuzzy")
    if fz is None:
        return None
    if fz is True:
        fz = {}
    max_edits = int(fz.get("maxEdits", 2))
    if max_edits not in (1, 2):
        raise MQLTranslationError("$search fuzzy.maxEdits must be 1 or 2")
    if "maxExpansions" in fz:
        warnings.warn(
            "$search fuzzy.maxExpansions accepted but ignored "
            "(no term-expansion phase to bound)",
            stacklevel=2,
        )
    return {"maxEdits": max_edits, "prefixLength": int(fz.get("prefixLength", 0))}


def _term_pred(term, fuzzy):
    """Token-level match predicate for a query term: exact equality, or
    Damerau-free Levenshtein ≤ maxEdits with a required shared prefix."""

    def pred(w):
        if not fuzzy:
            return w == F.lit(term)
        m = F.levenshtein(w, F.lit(term)) <= F.lit(fuzzy["maxEdits"])
        pl = fuzzy["prefixLength"]
        if pl:
            m = m & (F.substring(w, 1, pl) == F.lit(term[:pl]))
        return m

    return pred


def _expand_synonyms(terms, name, resolve):
    """Expand query terms through a synonym mapping collection (Atlas
    ``text.synonyms``). The mapping name resolves like any collection
    reference; docs follow Atlas's shape — ``{mappingType: "equivalent",
    synonyms: [...]}`` (any listed term matches all of them) or
    ``{mappingType: "explicit", input: [...], synonyms: [...]}`` (a query
    term in ``input`` matches exactly the ``synonyms`` list — itself only
    if listed there, per Atlas). Synonym tables are dimension-sized by
    construction, so the rows are collected driver-side once per query —
    O(mappings), never O(corpus). Returns one sorted term-group per
    original term (the group an ``all`` matchCriteria must satisfy)."""
    if resolve is None:
        raise MQLTranslationError(
            "$search text.synonyms requires a collections resolver"
        )
    rows = [r.asDict() for r in resolve(name).collect()]
    for d in rows:
        if d.get("mappingType") not in ("equivalent", "explicit"):
            raise MQLTranslationError(
                "synonym mappingType must be 'equivalent' or 'explicit', "
                f"got {d.get('mappingType')!r}"
            )
    groups = []
    for t in terms:
        matched: set = set()
        for d in rows:
            syns = [str(s) for s in (d.get("synonyms") or [])]
            if d["mappingType"] == "equivalent":
                if t in syns:
                    matched.update(syns)
            else:  # explicit
                if t in [str(s) for s in (d.get("input") or [])]:
                    matched.update(syns)
        groups.append(sorted(matched) if matched else [t])
    return groups


def _parse_search_clauses(args, resolve=None):
    """Operator spec (standalone or under ``compound``) →
    {must/should/mustNot/filter: [typed clause dicts]}. Shared by
    ``$search`` and ``$searchMeta``. ``resolve`` (collections resolver)
    is needed only when a text clause carries ``synonyms``."""
    if "queryString" in args:
        qs = args["queryString"]
        must, must_not, should = _parse_query_string(
            str(qs["query"]), qs.get("defaultPath")
        )
        if any(
            c[k]["path"] is None for c in must + must_not + should for k in c
        ):
            raise MQLTranslationError(
                "queryString bare terms need defaultPath"
            )
        clauses = {"must": must, "should": should, "mustNot": must_not,
                   "filter": []}
    elif any(k in args for k in _SEARCH_OPERATORS):
        clauses = {"must": [args], "should": [], "mustNot": [], "filter": []}
    elif "compound" in args:
        comp = args["compound"]
        unknown = set(comp) - {"must", "should", "mustNot", "filter"}
        if unknown:
            raise MQLTranslationError(f"unsupported compound keys: {unknown}")
        clauses = {
            k: list(comp.get(k, [])) for k in ("must", "should", "mustNot", "filter")
        }
    else:
        raise MQLTranslationError(
            "$search supports the text/phrase/range/equals/exists/"
            "wildcard/autocomplete and compound operators"
        )

    def parse_clause(clause):
        kinds = [k for k in clause if k in _SEARCH_OPERATORS]
        if len(kinds) != 1:
            raise MQLTranslationError(
                "compound clauses support exactly one of text/phrase/"
                "range/equals/exists/wildcard/autocomplete"
            )
        kind = kinds[0]
        if kind == "queryString":
            raise MQLTranslationError(
                "queryString is a top-level $search form, not a compound clause"
            )
        spec = clause[kind]
        path = spec.get("path")
        if not isinstance(path, str):
            raise MQLTranslationError(f"$search {kind}.path must be a single field")
        if kind == "text":
            fuzzy = _parse_fuzzy(spec)
            raw_terms = spec["query"].split()
            mc = spec.get("matchCriteria", "any")
            if mc not in ("any", "all"):
                raise MQLTranslationError(
                    f"text.matchCriteria must be 'any' or 'all', got {mc!r}"
                )
            syn = spec.get("synonyms")
            if syn is not None:
                if fuzzy is not None:
                    # Atlas rule: synonyms and fuzzy are mutually exclusive
                    raise MQLTranslationError(
                        "text.synonyms cannot be combined with fuzzy"
                    )
                groups = _expand_synonyms(raw_terms, str(syn), resolve)
            else:
                groups = [[t] for t in raw_terms]
            # flat dedup (first-occurrence order) feeds df/scoring; the
            # groups drive matchCriteria: "all" (each original term — or
            # one of its synonyms — must be present)
            flat = list(dict.fromkeys(t for g in groups for t in g))
            return {
                "kind": kind,
                "path": path,
                "terms": flat,
                "groups": groups,
                "match_all": mc == "all",
                "fuzzy": fuzzy,
            }
        if kind == "phrase":
            return {"kind": kind, "path": path, "terms": spec["query"].split()}
        if kind == "autocomplete":
            return {
                "kind": kind,
                "path": path,
                "query": str(spec["query"]),
                "fuzzy": _parse_fuzzy(spec),
            }
        if kind == "near":
            if "pivot" not in spec or "origin" not in spec:
                raise MQLTranslationError("$search near needs origin and pivot")
            return {
                "kind": kind,
                "path": path,
                "origin": spec["origin"],
                "pivot": spec["pivot"],
            }
        if kind == "embeddedDocument":
            inner_spec = spec["operator"]
            if "compound" in inner_spec:
                comp = inner_spec["compound"]
                inner = [parse_clause(cl) for cl in comp.get("must", [])]
                inner += [parse_clause(cl) for cl in comp.get("filter", [])]
                if not inner:
                    raise MQLTranslationError(
                        "embeddedDocument compound needs must/filter clauses"
                    )
            else:
                inner = [parse_clause(inner_spec)]
            return {"kind": "embedded", "path": path, "inner": inner}
        if kind == "in":
            vals = spec["value"]
            if not isinstance(vals, list):
                vals = [vals]
            return {"kind": "in", "path": path, "values": vals}
        if kind == "regex":
            # Atlas regex matches the ENTIRE field term — anchor it
            return {"kind": "wildcard", "path": path,
                    "regex": f"^(?:{spec['query']})$"}
        if kind == "moreLikeThis":
            # Atlas MLT needs no path (it searches the index); the engine
            # scans a column, so path is required here (documented delta)
            terms = _more_like_this_terms(
                spec["like"], int(spec.get("maxQueryTerms", 12))
            )
            if not terms:
                raise MQLTranslationError(
                    "$search moreLikeThis found no usable terms in 'like'"
                )
            return {"kind": "text", "path": path, "terms": terms, "fuzzy": None}
        if kind == "geoWithin":
            # Atlas geoWithin: exactly one of circle / box / geometry,
            # reusing the find-side containment machinery (match.py:176)
            shapes = [k for k in ("circle", "box", "geometry") if k in spec]
            if len(shapes) != 1:
                raise MQLTranslationError(
                    "$search geoWithin needs exactly one of circle/box/geometry"
                )
            s = shapes[0]
            if s == "circle":
                cx, cy = spec["circle"]["center"]["coordinates"]
                # Atlas radius is meters; $centerSphere takes radians
                rad = float(spec["circle"]["radius"]) / 6378137.0
                shape = {"$centerSphere": [[float(cx), float(cy)], rad]}
            elif s == "box":
                bl = spec["box"]["bottomLeft"]["coordinates"]
                tr = spec["box"]["topRight"]["coordinates"]
                shape = {"$box": [[float(bl[0]), float(bl[1])],
                                  [float(tr[0]), float(tr[1])]]}
            else:
                shape = {"$geometry": spec["geometry"]}
            return {"kind": "geo", "path": path, "shape": shape,
                    "relation": "within"}
        if kind == "geoShape":
            rel = spec.get("relation")
            if rel not in ("contains", "disjoint", "intersects", "within"):
                raise MQLTranslationError(
                    "$search geoShape relation must be one of "
                    "contains/disjoint/intersects/within"
                )
            geom = spec["geometry"]
            gtype = geom.get("type")
            if rel == "contains" and gtype != "Point":
                # document columns are [lng, lat] points: a point only
                # contains a Point query geometry (equality)
                raise MQLTranslationError(
                    "geoShape relation=contains over point columns "
                    "supports Point query geometry only"
                )
            if gtype not in ("Polygon", "MultiPolygon", "Point"):
                raise MQLTranslationError(
                    "geoShape geometry supports Point/Polygon/MultiPolygon"
                )
            return {"kind": "geo", "path": path,
                    "shape": {"$geometry": geom}, "relation": rel}
        if kind == "range":
            bounds = {k: spec[k] for k in ("gt", "gte", "lt", "lte") if k in spec}
            if not bounds:
                raise MQLTranslationError("$search range needs gt/gte/lt/lte")
            return {"kind": kind, "path": path, "bounds": bounds}
        if kind == "equals":
            return {"kind": kind, "path": path, "value": spec["value"]}
        if kind == "exists":
            return {"kind": kind, "path": path}
        # wildcard: * and ? over the whole field value; queryString sets
        # tokenLevel (Lucene wildcards apply per term, not per field)
        if spec.get("tokenLevel"):
            pat = "".join(
                r"\S*" if ch == "*" else r"\S" if ch == "?" else _re.escape(ch)
                for ch in str(spec["query"])
            )
            return {
                "kind": kind,
                "path": path,
                "regex": rf"(^|.*\s){pat}(\s.*|$)",
            }
        pat = "".join(
            ".*" if ch == "*" else "." if ch == "?" else _re.escape(ch)
            for ch in str(spec["query"])
        )
        return {"kind": kind, "path": path, "regex": f"^{pat}$"}

    return {k: [parse_clause(c) for c in cs] for k, cs in clauses.items()}


def _search_phrase_count(path, terms):
    """Occurrences of `terms` as consecutive tokens of `path` — a sliding
    window over F.sequence start positions, all JVM-side HOFs."""
    from mongo_arrow_spark.operators.text import tokens

    toks = tokens(path)
    L = len(terms)

    def window_hits(i):
        m = F.lit(True)
        for j, t in enumerate(terms):
            m = m & (F.element_at(toks, i + F.lit(j)) == F.lit(t))
        return m

    starts = F.sequence(F.lit(1), F.size(toks) - F.lit(L - 1))
    return F.when(
        F.size(toks) >= F.lit(L),
        F.size(F.filter(starts, window_hits)),
    ).otherwise(F.lit(0))


def _search_clause_match(c, col=F.col):
    """Boolean match Column for one parsed clause (no scoring). ``col``
    resolves a path to a Column — F.col at document level, an
    element-field accessor inside embeddedDocument."""
    from mongo_arrow_spark.operators.text import tokens

    if c["kind"] == "text":
        toks = tokens(col(c["path"]))
        if c.get("match_all"):
            # matchCriteria "all": every original term (or one of its
            # synonym-group members) must appear
            m = F.lit(True)
            for group in c.get("groups") or [[t] for t in c["terms"]]:
                gm = F.lit(False)
                for t in group:
                    gm = gm | F.exists(toks, _term_pred(t, c.get("fuzzy")))
                m = m & gm
            return m
        m = F.lit(False)
        for t in c["terms"]:
            m = m | F.exists(toks, _term_pred(t, c.get("fuzzy")))
        return m
    if c["kind"] == "autocomplete":
        # prefix match on any token; with fuzzy, the token's same-length
        # prefix may sit within maxEdits of the query
        toks = tokens(col(c["path"]))
        q = c["query"]
        fz = c.get("fuzzy")
        if not fz:
            return F.exists(toks, lambda w: w.startswith(q))
        return F.exists(
            toks,
            lambda w: F.levenshtein(F.substring(w, 1, len(q)), F.lit(q))
            <= F.lit(fz["maxEdits"]),
        )
    if c["kind"] == "phrase":
        return _search_phrase_count(col(c["path"]), c["terms"]) > 0
    if c["kind"] == "range":
        ops = {"gt": Column.__gt__, "gte": Column.__ge__,
               "lt": Column.__lt__, "lte": Column.__le__}
        m = F.lit(True)
        for k, v in c["bounds"].items():
            m = m & ops[k](col(c["path"]), F.lit(v))
        return m
    if c["kind"] == "equals":
        return col(c["path"]).eqNullSafe(F.lit(c["value"]))
    if c["kind"] == "exists":
        return col(c["path"]).isNotNull()
    if c["kind"] == "near":
        # near matches every document with a value; scoring does the work
        return col(c["path"]).isNotNull()
    if c["kind"] == "in":
        return col(c["path"]).isin(c["values"])
    if c["kind"] == "geo":
        # geoWithin / geoShape over [lng, lat] point columns — the same
        # exact codegen'd containment the find-side $geoWithin uses
        # (match.py:176); constant-score, like Atlas's geo operators
        from mongo_arrow_spark.mql.match import _geo_within

        target = col(c["path"])
        shape = c["shape"]
        geom = shape.get("$geometry")
        if geom is not None and geom.get("type") == "MultiPolygon":
            m = F.lit(False)
            for poly in geom["coordinates"]:
                m = m | _geo_within(
                    target, {"$geometry": {"type": "Polygon",
                                           "coordinates": poly}}
                )
        elif geom is not None and geom.get("type") == "Point":
            qx, qy = geom["coordinates"]
            m = (
                F.element_at(target, 1).cast("double") == F.lit(float(qx))
            ) & (F.element_at(target, 2).cast("double") == F.lit(float(qy)))
        else:
            m = _geo_within(target, shape)
        if c.get("relation") == "disjoint":
            # a document must HAVE a location to be disjoint from the query
            return target.isNotNull() & ~m
        return m  # within / intersects / contains(Point) for point columns
    if c["kind"] == "embedded":
        # any array element satisfying ALL inner clauses (Atlas matches
        # per element); constant-score like the other structured
        # operators — per-element BM25 aggregation is Atlas-index-only
        prefix = c["path"] + "."

        def inner_match(el):
            def rel(p):
                return el[p[len(prefix):]] if p.startswith(prefix) else el[p]

            m = F.lit(True)
            for ic in c["inner"]:
                m = m & _search_clause_match(ic, rel)
            return m

        return F.exists(col(c["path"]), inner_match)
    return col(c["path"]).rlike(c["regex"])  # wildcard


def _near_score(c):
    """Atlas ``near`` scoring: pivot / (pivot + |value − origin|) — 1.0 at
    the origin, 0.5 at pivot distance, decaying hyperbolically. Numeric
    and date paths; date origins may be ISO strings (distance in ms, as
    Atlas specifies pivot in milliseconds for dates)."""
    val = F.col(c["path"])
    origin = c["origin"]
    if isinstance(origin, str):
        dist = F.abs(
            (F.unix_micros(val.cast("timestamp"))
             - F.unix_micros(F.to_timestamp(F.lit(origin)))) / 1000.0
        )
    else:
        dist = F.abs(val.cast("double") - F.lit(float(origin)))
    pivot = F.lit(float(c["pivot"]))
    return F.when(val.isNotNull(), pivot / (pivot + dist)).otherwise(F.lit(0.0))


def _search_match_pred(parsed):
    """Combined predicate: must and filter conjoin, mustNot negates, and
    when only should clauses exist at least one must match."""
    pred = F.lit(True)
    for c in parsed["must"] + parsed["filter"]:
        pred = pred & _search_clause_match(c)
    for c in parsed["mustNot"]:
        pred = pred & ~_search_clause_match(c)
    if not parsed["must"] and not parsed["filter"] and parsed["should"]:
        any_should = F.lit(False)
        for c in parsed["should"]:
            any_should = any_should | _search_clause_match(c)
        pred = pred & any_should
    return pred


@_stage("$search")
def _search(df, args, resolve):
    """Atlas ``$search`` with the ``text`` (incl. ``fuzzy``, ``synonyms``
    via a mapping collection — equivalent/explicit, mutually exclusive
    with fuzzy like Atlas — and ``matchCriteria`` any/all), ``phrase``,
    ``range``, ``equals``, ``exists``, ``wildcard``, ``autocomplete``,
    ``near``, ``moreLikeThis``, ``in``, ``regex``, ``embeddedDocument``,
    ``queryString``, ``geoWithin`` (circle/box/geometry) and ``geoShape``
    (contains/disjoint/intersects/within over point columns) operators,
    standalone or under ``compound`` (must/should/mustNot/filter). text scores by tf·ln(N/df)
    per query term and phrase by occurrence-count·ln(N/phrase-df) (the
    engine's TF-IDF model — SURVEY 2.E "text search" row; Atlas's BM25
    constants are not public, so the scoring function differs while
    ranking semantics — term-frequency × rarity — match);
    range/equals/exists/wildcard are constant-score (1.0), as Atlas
    scores non-text operators. Matching documents only, ordered by
    descending score; {"$meta": "searchScore"} exposes the score
    downstream.

    Compound semantics mirror Atlas: must and filter clauses are
    conjunctive, mustNot clauses are negated, should clauses add score
    (and, when no must/filter exists, at least one should must match);
    filter and mustNot contribute no score.

    Plan: ONE aggregate computes document frequencies for every term of
    every clause (broadcast 1 row), then a map-side score + predicate;
    ordering is a global sort only if the caller keeps it (follow with
    $limit for TakeOrdered).
    """
    from mongo_arrow_spark.operators.text import tokens

    # option surface: sort (field order instead of score), count (attach
    # $$SEARCH_META), scoring (engine extension), index (accepted — index
    # names don't change results here). Anything else fails fast instead
    # of silently altering semantics.
    _opts = set(args) - set(_SEARCH_OPERATORS) - {"compound"}
    unsupported = _opts - {"sort", "count", "scoring", "index", "highlight",
                           "scoreDetails"}
    if unsupported:
        raise MQLTranslationError(
            f"unsupported $search options: {sorted(unsupported)} "
            "(supported: sort, count, highlight, scoreDetails, scoring, index)"
        )
    parsed = _parse_search_clauses(args, resolve)
    every = [c for cs in parsed.values() for c in cs]
    # one DF-stats pass: term dfs for text clauses, phrase dfs for phrases.
    # Term keys carry the fuzzy knobs: the same term matched exactly and
    # fuzzily has different document frequencies.
    def _fz_key(fz):
        return (fz["maxEdits"], fz["prefixLength"]) if fz else None

    all_terms = sorted(
        {
            (c["path"], t, _fz_key(c.get("fuzzy")))
            for c in every
            if c["kind"] == "text"
            for t in c["terms"]
        },
        key=str,
    )
    fz_of = {k: ({"maxEdits": k[2][0], "prefixLength": k[2][1]} if k[2] else None)
             for k in all_terms}
    idx = {pt: i for i, pt in enumerate(all_terms)}
    phrase_count = _search_phrase_count
    phrases = [c for c in every if c["kind"] == "phrase"]
    # engine extension: scoring="bm25" uses Lucene's published BM25
    # (k1=1.2, b=0.75, idf = ln(1 + (N−df+0.5)/(df+0.5))) — Atlas's
    # actual model. Default stays the tf·ln(N/df) documented in the
    # battery oracle (reproducible in plain SQL); ranking order is the
    # same monotone tf×rarity family either way.
    scoring = str(args.get("scoring", "tfidf")).lower()
    if scoring not in ("tfidf", "bm25"):
        raise MQLTranslationError("$search scoring must be 'tfidf' or 'bm25'")
    text_paths = sorted({c["path"] for c in every if c["kind"] == "text"})
    path_idx = {p: j for j, p in enumerate(text_paths)}
    stats = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(
                F.when(
                    F.exists(tokens(p), _term_pred(t, fz_of[(p, t, fzk)])),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias(f"__df_{i}")
            for i, (p, t, fzk) in enumerate(all_terms)
        ],
        *[
            F.sum(
                F.when(phrase_count(c["path"], c["terms"]) > 0, F.lit(1))
                .otherwise(F.lit(0))
            ).alias(f"__pdf_{i}")
            for i, c in enumerate(phrases)
        ],
        *[
            F.avg(F.size(tokens(p))).alias(f"__adl_{j}")
            for j, p in enumerate(text_paths)
        ],
    )
    pidx = {id(c): i for i, c in enumerate(phrases)}

    def term_count(path, term, fuzzy):
        return F.size(F.filter(tokens(path), _term_pred(term, fuzzy)))

    clause_match = _search_clause_match
    _K1, _B = 1.2, 0.75

    def clause_score(c):
        if c["kind"] == "text":
            score = F.lit(0.0)
            for t in c["terms"]:
                i = idx[(c["path"], t, _fz_key(c.get("fuzzy")))]
                tf = term_count(c["path"], t, c.get("fuzzy")).cast("double")
                df_col = F.col(f"__df_{i}")
                if scoring == "bm25":
                    dl = F.size(tokens(c["path"])).cast("double")
                    avgdl = F.col(f"__adl_{path_idx[c['path']]}")
                    idf = F.log(
                        F.lit(1.0)
                        + (F.col("__n") - df_col + 0.5) / (df_col + 0.5)
                    )
                    term_score = (
                        idf
                        * tf
                        * (_K1 + 1)
                        / (tf + _K1 * (1 - _B + _B * dl / avgdl))
                    )
                else:
                    term_score = tf * F.log(F.col("__n") / df_col)
                score = score + F.when(df_col > 0, term_score).otherwise(
                    F.lit(0.0)
                )
            return score
        if c["kind"] == "phrase":
            i = pidx[id(c)]
            return F.when(
                F.col(f"__pdf_{i}") > 0,
                phrase_count(c["path"], c["terms"]).cast("double")
                * F.log(F.col("__n") / F.col(f"__pdf_{i}")),
            ).otherwise(F.lit(0.0))
        if c["kind"] == "near":
            return _near_score(c)
        # constant-score operators contribute 1.0 when they match
        return F.when(clause_match(c), F.lit(1.0)).otherwise(F.lit(0.0))

    def _clause_desc(c):
        kind = c["kind"]
        path = c.get("path", "")
        if kind == "text":
            return (
                f"text:{path}:{' '.join(c['terms'])} "
                + ("bm25" if scoring == "bm25" else "tf*ln(N/df)")
            )
        if kind == "phrase":
            return f"phrase:{path}:{' '.join(c['terms'])} count*ln(N/df)"
        if kind == "near":
            return f"near:{path} pivot/(pivot+|value-origin|)"
        return f"{kind}:{path} constant"

    score = F.lit(0.0)
    scoring_clauses = parsed["must"] + parsed["should"]
    for c in scoring_clauses:
        score = score + clause_score(c)
    pred = _search_match_pred(parsed)

    drop = (
        ["__n"]
        + [f"__df_{i}" for i in range(len(all_terms))]
        + [f"__pdf_{i}" for i in range(len(phrases))]
        + [f"__adl_{j}" for j in range(len(text_paths))]
    )
    out = (
        df.crossJoin(F.broadcast(stats))
        .withColumn("__search_score", score.cast("double"))
        .filter(pred)
    )
    if args.get("scoreDetails"):
        # Atlas scoreDetails: the scoring breakdown via {"$meta":
        # "searchScoreDetails"} — one node per scoring clause with its
        # contribution and formula. Our formulas are the engine's
        # documented TF-IDF/BM25 (Atlas's Lucene trace has more depth;
        # the shape — value/description/details — matches). Built before
        # the stat columns drop: clause_score reads the __df_*/__n
        # broadcast stats.
        out = out.withColumn(
            "__search_score_details",
            F.struct(
                F.col("__search_score").alias("value"),
                F.lit(
                    "sum of clause scores ("
                    + ("bm25" if scoring == "bm25" else "tfidf")
                    + ")"
                ).alias("description"),
                F.array(
                    *[
                        F.struct(
                            clause_score(c).cast("double").alias("value"),
                            F.lit(_clause_desc(c)).alias("description"),
                        )
                        for c in scoring_clauses
                    ]
                ).alias("details"),
            ),
        )
    out = out.drop(*drop)
    hl = args.get("highlight")
    if hl is not None:
        # Atlas highlight: matched passages for a path, exposed via
        # {"$meta": "searchHighlights"} as [{path, score, texts:
        # [{value, type: text|hit}]}]. Passages here are hit tokens with
        # ±3 tokens of context, capped at maxNumPassages (default 5) —
        # all higher-order functions, no extra scan. Passage score is a
        # constant 1.0 (Atlas's per-passage relevance model is
        # index-internal and unpublished).
        hpath = hl["path"]
        max_passages = int(hl.get("maxNumPassages", 5))
        hterms = [
            (t, c.get("fuzzy"))
            for c in every
            if c["kind"] in ("text", "phrase") and c["path"] == hpath
            for t in c["terms"]
        ]
        if not hterms:
            raise MQLTranslationError(
                "highlight.path must appear in a text or phrase clause"
            )

        def _is_hit(w):
            m = F.lit(False)
            for t, fz in hterms:
                m = m | _term_pred(t, fz)(w)
            return m

        htoks = tokens(F.col(hpath))

        def _ctx(value_col):
            return F.struct(
                value_col.alias("value"), F.lit("text").alias("type")
            )

        def _passage(i):
            before = F.concat_ws(
                " ",
                F.slice(
                    htoks,
                    F.greatest(i - 3, F.lit(1)),
                    F.greatest(F.least(i - F.lit(1), F.lit(3)), F.lit(0)),
                ),
            )
            after = F.concat_ws(" ", F.slice(htoks, i + 1, 3))
            texts = F.filter(
                F.array(
                    _ctx(before),
                    F.struct(
                        F.element_at(htoks, i).alias("value"),
                        F.lit("hit").alias("type"),
                    ),
                    _ctx(after),
                ),
                lambda t: t["value"] != "",
            )
            return F.struct(
                F.lit(hpath).alias("path"),
                F.lit(1.0).alias("score"),
                texts.alias("texts"),
            )

        positions = F.filter(
            F.sequence(F.lit(1), F.size(htoks)),
            lambda i: _is_hit(F.element_at(htoks, i)),
        )
        out = out.withColumn(
            "__search_highlights",
            F.slice(F.transform(positions, _passage), 1, max_passages),
        )
    cnt = args.get("count")
    if cnt is not None:
        # $$SEARCH_META.count over the MATCHED set: one extra broadcast
        # agg pass (Atlas's lowerBound short-circuits on the index; exact
        # counting here costs one scan either way, so total == lowerBound)
        ctype = str(cnt.get("type", "lowerBound")) if isinstance(cnt, dict) else str(cnt)
        if ctype not in ("total", "lowerBound"):
            raise MQLTranslationError(
                "$search count.type must be 'total' or 'lowerBound'"
            )
        meta = out.agg(F.count(F.lit(1)).alias("__c")).select(
            F.struct(
                F.struct(F.col("__c").alias(ctype)).alias("count")
            ).alias("__SEARCH_META")
        )
        out = out.crossJoin(F.broadcast(meta))
    sort_spec = args.get("sort")
    if sort_spec:
        order = []
        for fld, d in sort_spec.items():
            if isinstance(d, dict) and d.get("$meta") == "searchScore":
                order.append(F.col("__search_score").desc())
            elif d in (1, -1):
                c = F.col(fld)
                order.append(c.asc() if d == 1 else c.desc())
            else:
                raise MQLTranslationError(
                    "$search sort values must be 1, -1 or "
                    '{"$meta": "searchScore"}'
                )
        return out.orderBy(*order)
    return out.orderBy(F.col("__search_score").desc())


@_stage("$searchMeta")
def _search_meta(df, args, resolve):
    """Atlas ``$searchMeta``: metadata about a search predicate without
    returning the documents — one row ``{count: {lowerBound}}`` plus, for
    the ``facet`` collector, ``{facet: {name: {buckets: [{_id, count}]}}}``.

    Forms::

        {"$searchMeta": {<operator>: ...}}                     # count only
        {"$searchMeta": {"compound": {...}}}                   # count only
        {"$searchMeta": {"facet": {"operator": <spec>,         # optional
                                   "facets": {name: <facet>}}}}

    Facet collectors (the Atlas spec):
    ``{"type": "string", "path": p, "numBuckets": k}`` (default 10),
    ``{"type": "number"|"date", "path": p, "boundaries": [...],
    "default": label}``. Counts are exact — ``count.lowerBound`` equals
    the true total (Atlas reports a lower bound only because its index
    may skip counting; exact is a valid lower bound). String buckets
    order by count desc then _id asc (deterministic tie-break; Atlas
    leaves ties unspecified); number/date buckets keep boundary order
    with the default bucket last.

    Plan: one filter, then per facet a hash groupBy reduced to a
    single-row array; the single rows combine via broadcast crossJoin —
    nothing data-sized survives the aggregations.
    """
    spec = {k: v for k, v in args.items() if k not in ("index", "count")}
    facets_spec = None
    if "facet" in spec:
        op = spec["facet"].get("operator")
        facets_spec = spec["facet"].get("facets") or {}
        pred = _search_match_pred(_parse_search_clauses(op, resolve)) if op else F.lit(True)
    else:
        pred = _search_match_pred(_parse_search_clauses(spec, resolve))
    matched = df.filter(pred)

    out = matched.agg(
        F.struct(F.count(F.lit(1)).alias("lowerBound")).alias("count")
    )
    if facets_spec is None:
        return out

    def by_ord(left, right):
        return (
            F.when(left["__ord"] < right["__ord"], -1)
            .when(left["__ord"] > right["__ord"], 1)
            .otherwise(0)
            .cast("int")
        )

    def strip_ord(b):
        return F.struct(b["_id"].alias("_id"), b["count"].alias("count"))

    for i, (name, fs) in enumerate(facets_spec.items()):
        ftype = fs.get("type")
        path = fs["path"]
        if ftype == "string":
            k = int(fs.get("numBuckets", 10))
            grouped = (
                matched.filter(F.col(path).isNotNull())
                .groupBy(F.col(path).alias("_id"))
                .agg(F.count(F.lit(1)).alias("count"))
            )

            def by_count_desc(left, right):
                return (
                    F.when(left["count"] > right["count"], -1)
                    .when(left["count"] < right["count"], 1)
                    .when(left["_id"] < right["_id"], -1)
                    .when(left["_id"] > right["_id"], 1)
                    .otherwise(0)
                    .cast("int")
                )

            buckets = F.slice(
                F.array_sort(
                    F.collect_list(F.struct("_id", "count")), by_count_desc
                ),
                1,
                k,
            )
            one = grouped.agg(
                F.struct(buckets.alias("buckets")).alias(f"__facet_{i}")
            )
        elif ftype in ("number", "date"):
            bounds = fs["boundaries"]
            if len(bounds) < 2:
                raise MQLTranslationError(
                    f"$searchMeta facet '{name}' needs >= 2 boundaries"
                )
            c = F.col(path)
            # a default label is usually a string next to numeric/date
            # boundary ids; ANSI mode refuses that coercion, so the whole
            # _id column goes string when a default exists
            def blit(v):
                lit = F.lit(v)
                return lit.cast("string") if "default" in fs else lit

            lab, ordc = None, None
            for j, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
                cond = (c >= F.lit(lo)) & (c < F.lit(hi))
                lab = (
                    F.when(cond, blit(lo))
                    if lab is None
                    else lab.when(cond, blit(lo))
                )
                ordc = (
                    F.when(cond, F.lit(j))
                    if ordc is None
                    else ordc.when(cond, F.lit(j))
                )
            if "default" in fs:
                lab = lab.otherwise(blit(fs["default"]))
                ordc = ordc.otherwise(F.lit(len(bounds)))
            grouped = (
                matched.withColumn("__fb", lab)
                .withColumn("__fo", ordc)
                .filter(F.col("__fb").isNotNull())
                .groupBy(F.col("__fb").alias("_id"), F.col("__fo").alias("__ord"))
                .agg(F.count(F.lit(1)).alias("count"))
            )
            buckets = F.transform(
                F.array_sort(
                    F.collect_list(F.struct("_id", "count", "__ord")), by_ord
                ),
                strip_ord,
            )
            one = grouped.agg(
                F.struct(buckets.alias("buckets")).alias(f"__facet_{i}")
            )
        else:
            raise MQLTranslationError(
                f"$searchMeta facet type must be string/number/date, got {ftype!r}"
            )
        out = out.crossJoin(F.broadcast(one))

    return out.select(
        "count",
        F.struct(
            *[
                F.col(f"__facet_{i}").alias(name)
                for i, name in enumerate(facets_spec)
            ]
        ).alias("facet"),
    )


@_stage("$out")
def _out(df, args, resolve):
    """$out materializes the result. The reference rejects it outright
    (api.py:235-240); we route to sinks: a dict `collections` registry
    gets the DataFrame under the target name; {"path": ..., "format": ...}
    writes through the Spark writer."""
    if isinstance(args, dict) and "path" in args:
        df.write.format(args.get("format", "parquet")).mode(
            args.get("mode", "overwrite")
        ).save(args["path"])
        return df
    name = args if isinstance(args, str) else args.get("coll")
    df.createOrReplaceTempView(name)
    return df


#: the stages MQL permits inside a whenMatched update pipeline
_MERGE_PIPE_STAGES = {
    "$addFields", "$set", "$project", "$unset", "$replaceRoot", "$replaceWith"
}


def _rewrite_new_refs(node):
    """``$$new``/"$$new.f" → the ``__new`` struct column's field paths."""
    if isinstance(node, str):
        if node == "$$new":
            return "$__new"
        if node.startswith("$$new."):
            return "$__new." + node[len("$$new."):]
        return node
    if isinstance(node, list):
        return [_rewrite_new_refs(x) for x in node]
    if isinstance(node, dict):
        return {k: _rewrite_new_refs(v) for k, v in node.items()}
    return node


@_stage("$merge")
def _merge(df, args, resolve):
    """$merge upsert into the target view. Modes (MQL semantics):

    whenMatched: "replace" (default — incoming row wins), "keepExisting"
    (target row wins), "merge" (field-wise: incoming non-null fields
    overwrite, target fills the rest), "fail" (raise if any key matches).
    whenNotMatched: "insert" (default), "discard" (drop unmatched
    incoming rows), "fail" (raise if any incoming row has no match).

    Plan: one equi-join on the `on` keys per mode; everything else is
    projections — the same MERGE shape a lakehouse upsert compiles to.
    """
    if isinstance(args, str):
        args = {"into": args}
    on = args.get("on", "_id")
    on = [on] if isinstance(on, str) else list(on)
    matched = args.get("whenMatched", "replace")
    not_matched = args.get("whenNotMatched", "insert")
    if not isinstance(matched, list) and matched not in (
        "replace", "keepExisting", "merge", "fail"
    ):
        raise MQLTranslationError(f"unsupported whenMatched: {matched}")
    if not_matched not in ("insert", "discard", "fail"):
        raise MQLTranslationError(f"unsupported whenNotMatched: {not_matched}")
    target_name = args["into"] if isinstance(args["into"], str) else args["into"]["coll"]
    target = resolve(target_name)
    keys = df.select(*on).distinct()
    if matched == "fail":
        if target.join(keys, on, "left_semi").limit(1).count():
            raise MQLTranslationError("$merge whenMatched=fail: key collision")
    if not_matched == "fail":
        if df.join(target.select(*on).distinct(), on, "left_anti").limit(1).count():
            raise MQLTranslationError("$merge whenNotMatched=fail: unmatched row")
    incoming = df
    if not_matched == "discard":
        incoming = incoming.join(target.select(*on).distinct(), on, "left_semi")
    if isinstance(matched, list):
        # custom-update pipeline form: runs over the EXISTING document
        # (target fields as columns) with the incoming document bound as
        # $$new. Binding is a pure rewrite — the incoming row rides along
        # as one struct column, so "$$new.f" becomes the ordinary field
        # path "$__new.f" and the stock stage translators apply untouched.
        bad = [
            next(iter(s)) for s in matched
            if next(iter(s)) not in _MERGE_PIPE_STAGES
        ]
        if bad:
            raise MQLTranslationError(
                f"$merge whenMatched pipeline allows only "
                f"{sorted(_MERGE_PIPE_STAGES)}, got {bad}"
            )
        packed = incoming.select(
            *on,
            F.struct(
                *[F.col(c) for c in incoming.columns if c not in on]
            ).alias("__new"),
        )
        pairs = target.join(packed, on, "inner")
        updated = apply_pipeline(
            pairs, _rewrite_new_refs(matched), resolve
        ).drop("__new")
        kept = target.join(keys, on, "left_anti")
        fresh = incoming.join(target.select(*on).distinct(), on, "left_anti")
        merged = kept.unionByName(updated, allowMissingColumns=True)
        if not_matched == "insert":
            merged = merged.unionByName(fresh, allowMissingColumns=True)
        merged.createOrReplaceTempView(target_name)
        return merged
    if matched in ("replace",):
        kept = target.join(keys, on, "left_anti")
        merged = kept.unionByName(incoming, allowMissingColumns=True)
    elif matched == "keepExisting":
        fresh = incoming.join(target.select(*on).distinct(), on, "left_anti")
        merged = target.unionByName(fresh, allowMissingColumns=True)
    elif matched == "merge":
        # field-wise: coalesce(incoming, target) on matches
        t_pref = target.select(
            *[F.col(c).alias(c if c in on else f"__t_{c}") for c in target.columns]
        )
        joined = incoming.join(t_pref, on, "full")
        cols = []
        for c in dict.fromkeys(list(incoming.columns) + list(target.columns)):
            if c in on:
                cols.append(F.col(c))
            elif c in incoming.columns and f"__t_{c}" in joined.columns:
                cols.append(F.coalesce(F.col(c), F.col(f"__t_{c}")).alias(c))
            elif c in incoming.columns:
                cols.append(F.col(c))
            else:
                cols.append(F.col(f"__t_{c}").alias(c))
        merged = joined.select(*cols)
    else:  # "fail" passed the guard: no matches exist, plain union
        merged = target.unionByName(incoming, allowMissingColumns=True)
    merged.createOrReplaceTempView(target_name)
    return merged
