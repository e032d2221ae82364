"""Corpus selection operators: token-budget selection and per-group caps.

The last mile of a training-data pipeline: after scoring (quality /
classifier / LM tiers) the corpus must be CUT — "take the best N billion
tokens", "at most K documents per domain". Both ops here are pure
DataFrame plans with exact SQL oracles, and both are designed around the
one hazard a naive spelling hits at 100 TB: a global ``Window.orderBy``
with no ``partitionBy`` collapses the whole corpus into ONE task.

Design notes (100 TB posture):

- ``select_token_budget`` computes an exact global running token total
  with the classic two-pass distributed prefix sum: range-partition on
  the total order, per-partition subtotal (one row per partition,
  collected — bounded by the partition count), broadcast the exclusive
  prefix offsets back, then a per-partition window cumsum that runs
  every partition in parallel. Result is identical to the single-task
  ``SUM() OVER (ORDER BY ...)`` — the oracle — at any partition count.
- ``cap_per_group`` is one hash shuffle on the group key plus a
  rank-within-group cut; with ``n=1`` it is also every dedup operator's
  survivor pick. Heavy-hitter groups are the skew hazard and the
  docstring says what to do about them.

No reference counterpart: mongo-arrow delegates server-side selection to
mongod pipelines; these are the Spark-native equivalents of the $setWindowFields
/ $rank + $match idioms at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mongo_arrow_spark.execution import partition_count
from mongo_arrow_spark.operators.text import token_count


def cap_per_group(
    df: DataFrame,
    group_col: str | list[str],
    n: int,
    order_by: list[Column] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``n`` rows per group — the RefinedWeb/C4-style
    per-domain cap (no single source may dominate the corpus), and with
    ``n=1`` the package's one survivor pick: every dedup operator keeps
    its best row per key through this call.

    ``group_col`` is one column name or a list of them. ``order_by``
    decides WHICH rows survive (defaults to ``id_col`` ascending —
    deterministic, oracle-stable); pass e.g.
    ``[F.desc("quality"), F.asc("doc_id")]`` to keep the best-scoring
    documents per domain. The id contract, stated once for every
    caller: the order must be total — end it on a unique id — because
    rows that tie on the whole order are interchangeable and the cut
    picks an arbitrary one of them (under retries, possibly a
    different one). Ascending sorts put NULLs first, so a NULL id or
    NULL score ranks ahead of every value unless the caller filters or
    coalesces it.

    Scale shape: because the cut is expressed declaratively
    (``row_number() <= n``), Catalyst's InferWindowGroupLimit rewrites
    it into a Partial ``WindowGroupLimit`` BEFORE the exchange plus a
    Final one after — every input partition pre-cuts to its local
    top-``n`` per group map-side, so the one hash shuffle on
    ``group_col`` moves at most ``n × groups`` rows per input
    partition, never the corpus (the plan gate pins the Partial stage).
    The surviving rows travel whole: payload columns cross the wire
    once, in the same pass that picks them, and the input is read once.
    That also defuses most heavy-hitter skew: a group that dominates
    the input still arrives at its reduce task pre-cut to
    ``n × input_partitions`` rows. NULL group keys form their own group
    (SQL ``PARTITION BY`` semantics — Spark and the oracle agree).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    order = order_by if order_by is not None else [F.col(id_col).asc()]
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= n)
        .drop("__rk")
    )


def select_token_budget_per_group(
    df: DataFrame,
    budget: int,
    group_col: str,
    score_col: str = "quality",
    token_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group token budgets: within EACH ``group_col`` value, keep the
    best-scoring prefix whose running token total stays ≤ ``budget`` —
    "2 B tokens per language", the stratified form of
    ``select_token_budget``.

    Scale shape: the GROUPED distributed prefix sum (``_grouped_prefix_
    offsets``): range-partition on ``(group, order)``, per-(group,
    partition) subtotals reduced to exclusive offsets over a tiny
    boundary frame, then a per-(group, partition) window cumsum — so a
    heavy-hitter group (English ≈ 90 % of a multilingual corpus) spans
    MANY range partitions and its cumsum runs in parallel, where a plain
    ``Window.partitionBy(group)`` would stream the whole group through
    one task (r8 verdict fix; the "inherent to an exact per-group
    prefix" claim the old docstring made was wrong — this is the same
    machinery ``select_token_budget`` already used globally). Result is
    bit-identical to the one-task-per-group window at any partition
    count. Output adds ``n_tokens`` and ``cum_tokens`` (running total
    WITHIN the group)."""
    if budget < 0:
        raise ValueError("budget must be >= 0")
    tok = (
        F.col(token_col).cast("long")
        if token_col
        else token_count(text_col).cast("long")
    )
    order = [F.col(score_col).desc(), F.col(id_col).asc()]
    joined = grouped_prefix_join(
        df.withColumn("n_tokens", tok), [group_col], order, "n_tokens",
        num_partitions,
    )
    w = (
        Window.partitionBy(group_col, "__pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        joined.withColumn(
            "cum_tokens",
            (F.sum("n_tokens").over(w) + F.col("__off")).cast("long"),
        )
        .where(F.col("cum_tokens") <= budget)
        .drop("__pid", "__off")
    )


def select_token_budget(
    df: DataFrame,
    budget: int,
    score_col: str = "quality",
    token_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Greedy token-budget selection: rank documents by ``score_col``
    descending (ties broken by ``id_col`` ascending — a total order)
    and keep the prefix whose running token total stays ≤ ``budget``.
    "Give me the best 2 B tokens" as one DataFrame plan.

    Output: the surviving rows plus ``n_tokens`` (per-doc count, from
    ``token_col`` if given else whitespace ``token_count(text_col)``)
    and ``cum_tokens`` (exact global running total, this row included).
    A document that would push the total past the budget is excluded,
    as is everything after it — standard greedy prefix semantics,
    equivalent to ``SUM(tok) OVER (ORDER BY score DESC, id)`` ≤ budget.

    Scale shape — exact global cumsum WITHOUT a one-task global window:

    1. ``repartitionByRange`` on the total order — Spark's range
       partitioner keeps partitions balanced and order-aligned (the
       same machinery a global ``orderBy`` uses); the partitioning is
       materialized ONCE via localCheckpoint (see ``prefix_join``).
    2. Per-partition token subtotals: ``num_partitions`` rows, collected
       to the driver (bounded by the partition count, NOT the corpus)
       and turned into exclusive prefix offsets.
    3. Broadcast the offsets back; each partition adds its offset to a
       window cumsum partitioned BY PARTITION ID — every partition
       computes in parallel, no single-task stage anywhere.

    The result is bit-identical to the naive global window at any
    partition count (range boundaries only move rows between tasks;
    the total order, and therefore every prefix sum, is unchanged).
    """
    if budget < 0:
        raise ValueError("budget must be >= 0")
    tok = (
        F.col(token_col).cast("long")
        if token_col
        else token_count(text_col).cast("long")
    )
    order = [F.col(score_col).desc(), F.col(id_col).asc()]
    joined = prefix_join(
        df.withColumn("n_tokens", tok), order, "n_tokens", num_partitions
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        joined.withColumn(
            "cum_tokens", (F.sum("n_tokens").over(w) + F.col("__off")).cast("long")
        )
        .where(F.col("cum_tokens") <= budget)
        .drop("__pid", "__off")
    )


def prefix_join(
    df: DataFrame,
    order_by: list,
    weight_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Shared scaffold of the distributed prefix ops: range-partition on
    the total order, materialize ONE fixed partitioning, compute the
    exclusive per-partition prefix offsets (``weight_col=None`` counts
    rows) and broadcast them back: returns the ranged frame with
    ``__pid`` and ``__off`` attached.

    MUST materialize one partitioning: ``repartitionByRange`` SAMPLES
    its boundaries with a per-evaluation seed, so the offsets collect
    and the caller's final join would otherwise see slightly different
    partitionings and boundary rows get stale offsets (r8 fix, caught by
    the curriculum_rank sf0.1 gate). ``localCheckpoint`` rather than
    ``persist``: a cache-manager pin from inside an operator is released
    only by an enclosing ``execution.scope()`` (unpersist on the derived
    result is a no-op), while checkpoint blocks are freed by the
    ContextCleaner once the returned frames are garbage-collected. No sortWithinPartitions —
    the caller's partitioned window re-sorts anyway; __pid depends only
    on the range boundaries."""
    spark = df.sparkSession
    nparts = partition_count(spark, num_partitions)
    ranged = (
        df.repartitionByRange(nparts, *order_by)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    agg = (
        F.sum(weight_col).alias("s")
        if weight_col
        else F.count("*").alias("s")
    )
    totals = {
        r["__pid"]: r["s"]
        for r in ranged.groupBy("__pid").agg(agg).collect()
    }
    offsets, acc = [], 0
    for pid in range(nparts):
        offsets.append((pid, acc))
        acc += int(totals.get(pid, 0) or 0)
    off = spark.createDataFrame(offsets, "__pid int, __off long")
    return ranged.join(F.broadcast(off), "__pid")


def _grouped_prefix_offsets(
    df: DataFrame,
    group_cols: list[str],
    order_by: list,
    nparts: int,
    weight_col: str | None,
):
    """The GROUP dimension of the distributed prefix machinery (r8
    verdict fix): range-partition on ``(group…, order…)`` — the group
    keys lead, so each group occupies a CONTIGUOUS run of range
    partitions and a heavy-hitter group spans many of them — then
    reduce per-(group, partition) subtotals to exclusive per-group
    prefix offsets. Returns ``(ranged, offsets_df)`` where offsets
    carry ``(group…, __pid, __off)``.

    The subtotal frame has at most ``nparts + n_groups − 1`` rows (a
    group/partition pair exists only where a group overlaps a
    partition, and contiguity bounds the overlaps by cuts + groups), so
    the offsets are computed DISTRIBUTED with a per-group window over
    that tiny frame — no driver collect at all, and the per-group
    window serializes ≤ nparts boundary rows per group, never data.
    Same materialize-once contract as ``prefix_join`` (range
    boundaries are sampled per evaluation — localCheckpoint pins ONE
    partitioning). NULL group keys form their own group (SQL PARTITION
    BY semantics); the caller's join-back must be null-safe —
    ``grouped_prefix_join`` handles both."""
    ranged = (
        df.repartitionByRange(
            nparts, *[F.col(g) for g in group_cols], *order_by
        )
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    agg = (
        F.sum(weight_col).alias("s")
        if weight_col
        else F.count("*").alias("s")
    )
    sub = ranged.groupBy(*group_cols, "__pid").agg(agg)
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = sub.select(
        *group_cols,
        "__pid",
        F.coalesce(F.sum("s").over(w), F.lit(0)).cast("long").alias("__off"),
    )
    return ranged, off


def grouped_prefix_join(
    df: DataFrame,
    group_cols: list[str],
    order_by: list,
    weight_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """``_grouped_prefix_offsets`` + the null-safe offsets join-back:
    returns the ranged frame with ``__pid`` and ``__off`` attached. The
    offsets side is broadcast — ≤ nparts + n_groups − 1 rows; for
    group cardinalities where that broadcast would matter (millions),
    every group is small and a plain ``Window.partitionBy(group)`` is
    the right tool instead of this machinery."""
    ranged, off = _grouped_prefix_offsets(
        df, group_cols, order_by,
        partition_count(df.sparkSession, num_partitions), weight_col,
    )
    renamed = off.select(
        *[F.col(g).alias(f"__g{i}") for i, g in enumerate(group_cols)],
        F.col("__pid").alias("__opid"),
        "__off",
    )
    cond = ranged["__pid"] == renamed["__opid"]
    for i, g in enumerate(group_cols):
        # eqNullSafe: a NULL group key is a real group — a plain equi
        # condition would drop its rows from the result (r8 review
        # class (a))
        cond = cond & ranged[g].eqNullSafe(renamed[f"__g{i}"])
    return ranged.join(F.broadcast(renamed), cond).drop(
        "__opid", *[f"__g{i}" for i in range(len(group_cols))]
    )


def assign_group_rank(
    df: DataFrame,
    group_cols: list[str],
    order_by: list,
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based rank WITHIN each group over a total order, without
    serializing any group into one task — the grouped twin of
    ``assign_global_rank`` and the shared base of ``upsample_to_mix``'s
    fractional cut and ``interleave_sources``' per-source positions.
    Bit-identical to ``row_number() OVER (PARTITION BY group ORDER BY
    …)`` at any partition count (pinned by the skew + invariance
    tests). ``order_by`` must be total within each group."""
    joined = grouped_prefix_join(
        df, group_cols, order_by, num_partitions=num_partitions
    )
    w = Window.partitionBy(*group_cols, "__pid").orderBy(*order_by)
    return (
        joined.withColumn(
            rank_col, (F.row_number().over(w) + F.col("__off")).cast("long")
        )
        .drop("__pid", "__off")
    )


def temperature_weights(
    df: DataFrame, key_col: str = "source", alpha: float = 0.5
) -> dict:
    """Temperature-flattened mixing weights ``p_k ∝ n_k^alpha`` (the
    multilingual-sampling rule of mBERT/mT5, Conneau & Lample 2019):
    ``alpha=1`` is proportional, ``alpha=0`` uniform; 0.3–0.7 boosts
    scarce domains without letting them dominate. One K-row aggregate
    collected to the driver (K = distinct domains — bounded by nature);
    feed the dict to ``quality.mix_sources`` (downsampling) or
    ``upsample_to_mix`` (repeat-factor upsampling)."""
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    counts = df.groupBy(key_col).count().collect()
    # a NULL domain is dirty metadata, not a mixable source — dropped
    # (and it would break the cosmetic sorted() below)
    raw = {
        r[key_col]: float(r["count"]) ** alpha
        for r in counts
        if r[key_col] is not None
    }
    if not raw:
        raise ValueError(f"no non-NULL {key_col!r} values to weight")
    total = sum(raw.values())
    return {k: v / total for k, v in sorted(raw.items())}


def upsample_to_mix(
    df: DataFrame,
    weights: dict,
    n_total: int,
    key_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Resample a corpus to target domain proportions WITH repetition —
    the data-recipe form (LLaMA-style "epochs per source"): domain ``k``
    contributes exactly ``floor(w_k · n_total)`` rows, repeating its
    documents ``target_k // n_k`` full epochs plus an md5-ranked prefix
    of size ``target_k mod n_k`` for the fractional epoch. Every output
    row carries ``epoch_col`` (0-based copy index) so downstream packing
    / shuffling treats repeats as distinct training rows.

    Deterministic across engines and partitionings: the fractional
    prefix is rank-by-``md5(salt‖id)`` (ties impossible — id is unique),
    exactly SQL-replayable. Domains absent from ``weights`` are dropped;
    a weight that demands more than the domain has simply repeats it
    (that is the point).

    Plan shape: a K-row count aggregate collected to the driver decides
    per-domain (repeats, remainder) — bounded coordination; the
    expansion is a map-only ``explode(sequence(...))`` sized per domain
    via a literal map (no join), and the fractional cut is the grouped
    distributed prefix rank (``assign_group_rank``) — a dominant domain
    (English ≈ 90 %) spans many range partitions and ranks in parallel
    instead of streaming through one task (r8 verdict fix). The corpus
    payload is read once and shuffles only for that ranged rank."""
    if n_total <= 0:
        raise ValueError("n_total must be positive")
    if not weights or any(w <= 0 for w in weights.values()):
        raise ValueError(
            "weights must be a non-empty dict of positive values, got "
            f"{weights!r}"
        )
    total_w = float(sum(weights.values()))
    counts = {
        r[key_col]: r["count"]
        for r in df.filter(
            F.col(key_col).isin(list(weights))
        )
        .groupBy(key_col)
        .count()
        .collect()
    }
    missing = sorted(str(k) for k in weights if counts.get(k, 0) == 0)
    if missing:
        # silent under-delivery is the "silent cap" failure mode: a
        # weighted domain with zero rows would quietly shrink the output
        # by its share of n_total — refuse instead (intersect `weights`
        # with the domains actually present, or derive them from the
        # data via temperature_weights)
        raise ValueError(
            f"weighted domains have no rows in {key_col!r}: {missing}"
        )
    plan: dict = {}
    for k, w in weights.items():
        n_k = counts[k]
        target = int(n_total * (float(w) / total_w))
        plan[k] = (target // n_k, target % n_k)

    full_map = F.create_map(
        *[F.lit(x) for k, (full, _r) in plan.items() for x in (k, full)]
    )
    rem_map = F.create_map(
        *[F.lit(x) for k, (_f, rem) in plan.items() for x in (k, rem)]
    )
    base = df.filter(F.col(key_col).isin(list(plan)))
    ranked = assign_group_rank(
        base.withColumn(
            "__h",
            F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))),
        ),
        [key_col],
        [F.col("__h").asc(), F.col(id_col).asc()],
        rank_col="__rank",
    ).drop("__h")
    n_copies = full_map[F.col(key_col)] + F.when(
        F.col("__rank") <= rem_map[F.col(key_col)], 1
    ).otherwise(0)
    # guard: Spark's sequence(0, -1) is DESCENDING, not empty — a
    # zero-copy row must produce a NULL array so explode drops it
    epochs = F.when(
        n_copies > 0, F.sequence(F.lit(0), n_copies.cast("int") - 1)
    )
    return ranked.withColumn(epoch_col, F.explode(epochs)).drop("__rank")


def assign_global_rank(
    df: DataFrame,
    order_by: list[Column],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global 1-based rank over an arbitrary total order, WITHOUT
    a one-task global window — the trainer-facing ordering primitive:
    curriculum schedules (``order_by=[difficulty.asc(), id.asc()]``),
    resumable shard assignment (``rank // shard_size``), deterministic
    replay cursors.

    Same machinery as ``select_token_budget`` with a token of 1:
    range-partition on the order, count per partition (``nparts`` rows
    collected — bounded by partition count, never the corpus),
    broadcast the exclusive offsets, per-partition ``row_number`` adds
    its offset — every partition ranks in parallel, bit-identical to
    ``row_number() OVER (ORDER BY ...)`` at any partition count.

    ``order_by`` must be a TOTAL order (tie-break on a unique id), or
    ranks are nondeterministic under retries."""
    w = Window.partitionBy("__pid").orderBy(*order_by)
    return (
        prefix_join(df, order_by, num_partitions=num_partitions)
        .withColumn(
            rank_col, (F.row_number().over(w) + F.col("__off")).cast("long")
        )
        .drop("__pid", "__off")
    )


def interleave_sources(
    df: DataFrame,
    weights: dict,
    source_col: str = "source",
    id_col: str = "doc_id",
    order_by: list | None = None,
    rank_col: str = "train_order",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic stride-scheduled interleave of weighted sources
    into ONE training order: source s with integer weight w_s emits its
    i-th row (0-based, md5-shuffled within the source by default) at
    virtual time ``vt = (i+1)·(L // w_s)`` with ``L = lcm(weights)``,
    and the global order is ascending vt (ties: source name, then
    position). Classic stride scheduling — EVERY prefix of the schedule
    carries each source in proportion w_s/Σw to within one row per
    source, unlike a global hash shuffle of the mixed corpus whose
    local proportions are only binomial. That local exactness is what
    curriculum/recipe replays want: "2 parts web, 1 part code,
    everywhere in the stream". The lcm stride keeps every ratio exact
    with the SMALLEST integers (vt stays far inside int64 — a fixed
    1e12 stride would overflow once a source passes ~9.2M rows).

    Rows whose source is missing from ``weights`` are DROPPED (a
    recipe is a whitelist; weight 0 would divide by zero anyway) —
    mirror of ``mix_sources``. Weights must be positive ints — floats
    are rejected, not truncated (scale ratios up, e.g. {web: 2,
    code: 1}). The input must not already carry ``pos``/``vt``/the
    rank column (loud error — they are documented outputs).

    Plan: per-source positions come from the GROUPED distributed
    prefix rank (``assign_group_rank`` — a dominant source spans many
    range partitions and ranks in parallel, where a
    ``Window.partitionBy(source)`` would stream the whole source
    through one task; r8 verdict fix), a map-only vt projection, then
    ``assign_global_rank``'s distributed prefix rank over (vt, source,
    pos) — no one-task window anywhere. Returns the input plus ``pos``
    (within-source), ``vt``, and ``rank_col`` (1-based global order).
    """
    import math as _math

    if not weights:
        raise ValueError("weights must be non-empty")
    for s, w in weights.items():
        if not isinstance(w, int) or isinstance(w, bool) or w < 1:
            raise ValueError(f"weight for {s!r} must be a positive int")
    taken = {"pos", "vt", rank_col} & set(df.columns)
    if taken:
        raise ValueError(
            f"input already carries output column(s) {sorted(taken)}"
        )
    lcm = _math.lcm(*weights.values())
    src = F.col(source_col)
    kept = df.filter(src.isin(list(weights)))
    order = order_by or [
        F.md5(F.concat(F.lit("interleave"), F.col(id_col).cast("string"))),
        F.col(id_col).asc(),
    ]
    # per-source stride literals: L // w_s exactly (w_s divides L)
    s_map = F.create_map(
        *[
            x
            for s, w in weights.items()
            for x in (F.lit(s), F.lit(lcm // int(w)))
        ]
    )
    staged = (
        assign_group_rank(
            kept,
            [source_col],
            order,
            rank_col="pos",
            num_partitions=num_partitions,
        )
        .withColumn("pos", F.col("pos") - 1)
        .withColumn("__s", s_map[src].cast("long"))
        .withColumn("vt", (F.col("pos") + 1).cast("long") * F.col("__s"))
        .drop("__s")
    )
    return assign_global_rank(
        staged,
        [F.col("vt").asc(), src.asc(), F.col("pos").asc()],
        rank_col=rank_col,
        num_partitions=num_partitions,
    )


def ensemble_rank(
    df: DataFrame,
    score_cols: list[str],
    weights: list[int] | None = None,
    id_col: str = "doc_id",
    rank_col: str = "ens_rank",
    keep_ranks: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Rank-fusion quality ensemble (the FineWeb/RefinedWeb practice of
    combining several imperfect quality signals): each score column gets
    an EXACT global rank (1 = best, score descending, ties by ``id_col``
    ascending), the ensemble key is the weighted SUM of ranks (Borda
    fusion — integer weights keep it integer-exact and therefore
    engine-portable, unlike z-score averaging whose float means drift),
    and ``rank_col`` is the exact global rank of that key ascending.
    Rank fusion is scale-free: signals with wildly different units
    (log-odds, chars, token counts) combine without calibration, and a
    single score's outliers can't dominate the way raw-value averaging
    lets them.

    Scale shape (r10, verdict #5): every ranking pass runs over a SLIM
    ``(id, key)`` projection, never the widening payload frame — each of
    the ``len(score_cols) + 1`` ``assign_global_rank`` passes is a
    distributed prefix rank (range partition → bounded per-partition
    counts → parallel windows, never a one-task global window), and each
    pass's internal ``localCheckpoint`` now materializes two columns
    instead of the full corpus width (the r9 form re-checkpointed the
    ENTIRE running frame N+1 times, carrying every previously appended
    rank column — ~4 corpus-width copies to executor-local disk for a
    3-signal ensemble). The bounded rank columns join back on ``id_col``
    at the end: id-keyed hash shuffles of (id, long) pairs, orders of
    magnitude cheaper than full-width checkpoints at corpus scale.

    Contract: ``id_col`` must be unique and non-NULL — it is the
    tie-break of every total order here (NULL/duplicate ids made ranks
    nondeterministic in the r9 form too; now they would also drop or
    duplicate rows in the id join-back). Output adds ``__rank_<col>``
    per score (``keep_ranks=False`` drops them) plus ``__wsum`` and
    ``rank_col``; inputs already carrying any of those names are
    rejected loudly (they are documented outputs — silently replacing
    a caller's column flips semantics; r10 advice fix, matching the
    ``interleave_sources`` guard).
    """
    if not score_cols:
        raise ValueError("score_cols must be non-empty")
    w = list(weights or [1] * len(score_cols))
    for x in w:
        # Borda fusion is integer-exact by contract — silently flooring
        # a 0.5 weight to 0 would drop that signal with no error (r10
        # review fix); scale ratios up instead (e.g. [1, 2], not [0.5, 1])
        if not isinstance(x, int) or isinstance(x, bool):
            raise ValueError(
                f"weights must be ints (got {x!r}); scale ratios to "
                "integers — rank fusion is integer-exact by contract"
            )
    if len(w) != len(score_cols):
        raise ValueError("weights must match score_cols")
    rank_names = [f"__rank_{c}" for c in score_cols]
    taken = ({"__wsum", rank_col} | set(rank_names)) & set(df.columns)
    if taken:
        raise ValueError(
            f"input already carries output column(s) {sorted(taken)}"
        )
    # materialize the score projection ONCE (r14): each rank pass used
    # to re-evaluate its signal expression from the caller's lineage
    # (for computed signals — stopword counts, distinct-word sizes —
    # that re-ran the text scan per pass), and the passes ran
    # sequentially even though the len(score_cols) signal orders are
    # independent. One slim (id, scores) localCheckpoint feeds every
    # pass, and the independent passes are submitted from a small
    # thread pool so their jobs overlap (each pass is internally eager
    # — range-partition checkpoint + offsets collect — so sequential
    # calls serialize those barriers; concurrent jobs back-fill each
    # other's stragglers instead).
    slim = df.select(id_col, *score_cols).localCheckpoint(eager=True)

    def _rank_one(c: str, rn: str):
        return assign_global_rank(
            slim.select(id_col, c),
            [F.col(c).desc(), F.col(id_col).asc()],
            rank_col=rn,
            num_partitions=num_partitions,
        ).select(id_col, rn)

    if len(score_cols) > 1:
        from concurrent.futures import ThreadPoolExecutor

        # bounded pool (r15 ADVICE): 2-3 concurrent jobs are enough to
        # back-fill each other's barrier tails (guide §2.6); a
        # many-signal ensemble must not launch one eager
        # checkpoint-per-signal job storm against the scheduler
        with ThreadPoolExecutor(
            max_workers=min(len(score_cols), 4)
        ) as pool:
            ranked_all = list(
                pool.map(lambda a: _rank_one(*a), zip(score_cols, rank_names))
            )
    else:
        ranked_all = [_rank_one(score_cols[0], rank_names[0])]
    fused = None
    for ranked in ranked_all:
        fused = ranked if fused is None else fused.join(ranked, id_col)
    wsum = None
    for rn, wt in zip(rank_names, w):
        term = F.col(rn) * F.lit(wt)
        wsum = term if wsum is None else wsum + term
    fused = fused.withColumn("__wsum", wsum.cast("long"))
    fused = assign_global_rank(
        fused,
        [F.col("__wsum").asc(), F.col(id_col).asc()],
        rank_col=rank_col,
        num_partitions=num_partitions,
    )
    if not keep_ranks:
        fused = fused.drop(*rank_names)
    # single id-keyed join re-attaches the payload, evaluated once; the
    # trailing select restores the INPUT column order (a USING join
    # moves the key first — positional consumers like insertInto would
    # silently misalign; r10 review fix) with the rank columns appended.
    # When the input carries ONLY (id, scores) — the common gate shape —
    # the join-back reads the checkpoint instead, so computed signal
    # expressions are evaluated exactly once end to end; with extra
    # payload columns the original frame joins (ONE full-width shuffle —
    # attaching payload via the checkpoint would shuffle it twice).
    score_only = not [
        c for c in df.columns if c != id_col and c not in score_cols
    ]
    joined = (slim if score_only else df).join(fused, id_col)
    added = [c for c in joined.columns if c not in df.columns]
    return joined.select(*df.columns, *added)
