"""Corpus selection operators: token budgets, ranks, caps and mixes.

The last mile of a training-data pipeline: after scoring (quality /
classifier / LM tiers) the corpus must be CUT and ORDERED — "take the
best N billion tokens", "at most K documents per domain", "curriculum
rank", "2 parts web to 1 part code". Every op here is a pure DataFrame
plan with an exact SQL oracle, designed around the one hazard a naive
spelling hits at 100 TB: a global ``Window.orderBy`` with no
``partitionBy`` collapses the whole corpus into ONE task, and a
``Window.partitionBy(group)`` streams a heavy-hitter group through one.

Design notes (100 TB posture):

- ``running_total`` is the one exact prefix machinery — the classic
  two-pass distributed prefix sum, global or per group: range-partition
  on ``(group…, order…)``, per-(group, partition) subtotals (bounded by
  partitions + groups, collected), broadcast the exclusive offsets
  back, then a per-partition window that runs every partition in
  parallel. ``select_token_budget`` (weighted by tokens), ``assign_rank``
  (unweighted: the row number), ``upsample_to_mix``,
  ``interleave_sources``, ``ensemble_rank`` and packing's token shards
  and length-bucketed batches all run on it; each is identical to the
  single-task ``SUM() / row_number() OVER (...)`` oracle at any
  partition count.
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
from pyspark.sql import types as T

from mongo_arrow_spark.execution import local_frame, partition_count
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


def select_token_budget(
    df: DataFrame,
    budget: int,
    score_col: str = "quality",
    token_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = None,
) -> DataFrame:
    """Greedy token-budget selection: rank documents by ``score_col``
    descending (ties broken by ``id_col`` ascending — a total order)
    and keep the prefix whose running token total stays ≤ ``budget``.
    "Give me the best 2 B tokens" as one DataFrame plan; with
    ``group_col`` the budget applies WITHIN each group ("2 B tokens per
    language").

    Output: the surviving rows plus ``n_tokens`` (per-doc count, from
    ``token_col`` if given else whitespace ``token_count(text_col)``;
    NULL counts 0) and ``cum_tokens`` (exact running total, this row
    included, within the group when grouped). A document that would
    push the total past the budget is excluded, as is everything after
    it — standard greedy prefix semantics, equivalent to ``SUM(tok)
    OVER ([PARTITION BY group] ORDER BY score DESC, id)`` ≤ budget. The
    running total is ``running_total``: no one-task window, and a
    heavy-hitter group spans many tasks."""
    if budget < 0:
        raise ValueError("budget must be >= 0")
    tok = F.col(token_col) if token_col else token_count(text_col)
    return running_total(
        df.withColumn("n_tokens", tok.cast("long")),
        [F.col(score_col).desc(), F.col(id_col).asc()],
        "n_tokens",
        [group_col] if group_col else (),
        "cum_tokens",
    ).where(F.col("cum_tokens") <= budget)


def running_total(
    df: DataFrame,
    order_by: list,
    weight_col: str | None = None,
    group_cols: list[str] | tuple = (),
    out_col: str = "running_total",
) -> DataFrame:
    """The package's one exact prefix machinery: adds ``out_col``, the
    inclusive running sum of ``weight_col`` over ``order_by`` (within
    each ``group_cols`` group), or with ``weight_col=None`` the 1-based
    row number — the rank. Bit-identical to ``SUM(w) OVER ([PARTITION
    BY group] ORDER BY …)`` / ``row_number()`` at any partition count;
    ``order_by`` must be total (within each group) and the weight
    integral. A NULL weight counts 0 and the row is kept
    (``weight_col`` is rewritten so).

    Scale shape — no one-task window, for the whole corpus or for a
    heavy-hitter group (English ≈ 90 % of a multilingual corpus):

    1. ``repartitionByRange`` on ``(group…, order…)`` into
       ``partition_count`` partitions: the group keys lead, so each
       group occupies a CONTIGUOUS run of range partitions and a large
       group spans many of them.
    2. Per-(group, partition) subtotals, collected to the driver: at
       most ``nparts + n_groups − 1`` rows (contiguity bounds the
       group/partition overlaps by cuts + groups), turned into exclusive
       per-group offsets. A window over the subtotals would need an
       ``Exchange SinglePartition`` in the ungrouped case.
    3. The offsets broadcast back (null-safe: a NULL group key is a
       group, SQL ``PARTITION BY`` semantics); a window partitioned by
       (group, partition id) adds each partition's offset, every
       partition in parallel.

    The partitioning is materialized ONCE: ``repartitionByRange``
    SAMPLES its boundaries with a per-evaluation seed, so the subtotal
    collect and the final join would otherwise see different
    partitionings and boundary rows get stale offsets. ``localCheckpoint``
    rather than ``persist``: a cache-manager pin from inside an operator
    is released only by an enclosing ``execution.scope()``, while
    checkpoint blocks are freed by the ContextCleaner once the returned
    frames are garbage-collected. For group cardinalities in the
    millions every group is small and ``Window.partitionBy(group)`` is
    the right tool instead."""
    spark = df.sparkSession
    groups = list(group_cols)
    if weight_col:
        df = df.withColumn(weight_col, F.coalesce(F.col(weight_col), F.lit(0)))
    ranged = (
        df.repartitionByRange(
            partition_count(spark), *[F.col(g) for g in groups], *order_by
        )
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    sub = ranged.groupBy(*groups, "__pid").agg(
        (F.sum(weight_col) if weight_col else F.count("*")).alias("s")
    )
    acc: dict = {}
    offsets = []
    for r in sorted(sub.collect(), key=lambda r: r["__pid"]):
        key = tuple(r[g] for g in groups)
        base = acc.get(key, 0)
        offsets.append((*key, r["__pid"], base))
        acc[key] = base + r["s"]
    gkeys = [f"__g{i}" for i in range(len(groups))]
    schema = T.StructType(
        [T.StructField(k, df.schema[g].dataType) for k, g in zip(gkeys, groups)]
        + [
            T.StructField("__opid", T.IntegerType()),
            T.StructField("__off", T.LongType()),
        ]
    )
    off = local_frame(spark, offsets, schema)
    cond = ranged["__pid"] == off["__opid"]
    for g, k in zip(groups, gkeys):
        cond = cond & ranged[g].eqNullSafe(off[k])
    w = Window.partitionBy(*groups, "__pid").orderBy(*order_by)
    running = (
        F.sum(weight_col).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        if weight_col
        else F.row_number().over(w)
    )
    return (
        ranged.join(F.broadcast(off), cond)
        .withColumn(out_col, (running + F.col("__off")).cast("long"))
        .drop("__pid", "__opid", "__off", *gkeys)
    )


def assign_rank(
    df: DataFrame,
    order_by: list[Column],
    rank_col: str = "rank",
    group_cols: list[str] | tuple = (),
) -> DataFrame:
    """Exact 1-based rank over a total order, within each ``group_cols``
    group (or globally) — the trainer-facing ordering primitive:
    curriculum schedules (``order_by=[difficulty.asc(), id.asc()]``),
    resumable shard assignment (``rank // shard_size``), deterministic
    replay cursors, and the per-source positions of
    ``interleave_sources`` / the fractional cut of ``upsample_to_mix``.
    ``running_total`` with no weight: bit-identical to ``row_number()
    OVER ([PARTITION BY group] ORDER BY …)`` at any partition count,
    without a one-task window. ``order_by`` must be TOTAL (tie-break on
    a unique id), or ranks are nondeterministic under retries."""
    return running_total(df, order_by, group_cols=group_cols, out_col=rank_col)


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
    ``assign_rank`` — a dominant domain (English ≈ 90 %) spans many
    range partitions and ranks in parallel instead of streaming through
    one task. The corpus payload is read once and shuffles only for
    that ranged rank."""
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
    ranked = assign_rank(
        base.withColumn(
            "__h",
            F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))),
        ),
        [F.col("__h").asc(), F.col(id_col).asc()],
        "__rank",
        [key_col],
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


def interleave_sources(
    df: DataFrame,
    weights: dict,
    source_col: str = "source",
    id_col: str = "doc_id",
    order_by: list | None = None,
    rank_col: str = "train_order",
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

    Plan: per-source positions come from the grouped ``assign_rank``
    (a dominant source spans many range partitions and ranks in
    parallel, where a ``Window.partitionBy(source)`` would stream the
    whole source through one task), a map-only vt projection, then the
    global ``assign_rank`` over (vt, source, pos) — no one-task window
    anywhere. Returns the input plus ``pos``
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
        assign_rank(kept, order, "pos", [source_col])
        .withColumn("pos", F.col("pos") - 1)
        .withColumn("__s", s_map[src].cast("long"))
        .withColumn("vt", (F.col("pos") + 1).cast("long") * F.col("__s"))
        .drop("__s")
    )
    return assign_rank(
        staged, [F.col("vt").asc(), src.asc(), F.col("pos").asc()], rank_col
    )


def ensemble_rank(
    df: DataFrame,
    score_cols: list[str],
    weights: list[int] | None = None,
    id_col: str = "doc_id",
    rank_col: str = "ens_rank",
    keep_ranks: bool = True,
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
    the ``len(score_cols) + 1`` ``assign_rank`` passes is a
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
        return assign_rank(
            slim.select(id_col, c), [F.col(c).desc(), F.col(id_col).asc()], rn
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
    fused = assign_rank(
        fused, [F.col("__wsum").asc(), F.col(id_col).asc()], rank_col
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
