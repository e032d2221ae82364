"""Sequence packing and deterministic corpus shuffling — the last mile of
an LLM training-data pipeline: curated documents become fixed-length
training sequences in a reproducible order.

These extend the reference's surface (it stops at Arrow tables —
SURVEY.md §2 has no trainer-facing ops); the shapes follow the standard
GPT-style concat-then-split packing and hash-ordered corpus shuffling
used by published data pipelines.

Scale design: there is NO global order anywhere. Both operators first
assign each document to one of ``n_streams`` independent hash streams
(packing) / ``n_shards`` shards (shuffling); every window computation is
partitioned by that stream, so the 100 TB plan is one hash shuffle into
n buckets plus a per-bucket sort — embarrassingly parallel, and the
result is byte-identical regardless of input partitioning because the
order inside a stream is md5-determined, never RNG- or arrival-order-
determined. md5 (not xxhash64) so the same assignment reproduces on any
engine — the DuckDB oracles re-derive it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mongo_arrow_spark.operators.selection import running_total
from mongo_arrow_spark.operators.text import token_count

__all__ = [
    "hash_bucket",
    "pack_sequences",
    "pack_manifest",
    "shuffle_corpus",
    "materialize_sequences",
    "assign_token_shards",
    "bucket_batches",
    "write_training_shards",
]

_HEX = "0123456789abcdef"


def hash_bucket(id_col: Column | str, n: int, salt: str) -> Column:
    """Engine-portable uniform bucket in ``[0, n)``: leading hex digits of
    md5(salt ‖ id) decoded positionally (``instr`` over the hex alphabet —
    both Spark and DuckDB spell it the same way), mod ``n``. Two digits
    (256 base buckets) for ``n`` ≤ 256; four digits (65 536) above that,
    so a 100 TB packing run can fan out thousands of streams and stay
    uniform. Pure projection."""
    if not 1 <= n <= 65536:
        raise ValueError("n must be in [1, 65536]")
    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string") if isinstance(id_col, str) else id_col.cast("string")))
    digits = 2 if n <= 256 else 4
    out = F.lit(0)
    for i in range(digits):
        out = out * 16 + (F.instr(F.lit(_HEX), F.substring(h, i + 1, 1)) - 1)
    return (out % F.lit(n)).cast("int")


def _order_hash(id_col: str, salt: str) -> Column:
    return F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))


def pack_sequences(
    df: DataFrame,
    seq_len: int = 2048,
    n_streams: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "pack",
    n_tokens_col: str | None = None,
    group_cols: list | None = None,
) -> DataFrame:
    """Concat-then-split sequence packing: documents are concatenated in a
    deterministic hash order and the token stream is cut every
    ``seq_len`` tokens — the standard GPT-style packing (no padding, docs
    may straddle sequence boundaries).

    ``n_tokens_col`` switches the token accounting from the default
    whitespace ``token_count(text_col)`` to a precomputed column —
    pipe ``tokenizer.bpe_token_count`` output in to pack by the
    TRAINER'S tokens instead of the whitespace estimate (whitespace
    undercounts morphology-rich and OOV-heavy text, so sequences
    packed by it overflow the real context window).

    ``group_cols`` packs each group's documents into its OWN sequences
    (the sequence identity becomes ``(*group_cols, stream, seq_id)``) —
    pass ``["split"]`` so no packed sequence ever mixes train and
    validation text (a sequence straddling splits leaks eval text into
    training batches). Each group packs exactly as if it were passed
    alone (pinned by test); the group columns ride through to the
    output.

    Output, one row per document: ``(id, stream, seq_id, seq_offset,
    n_tokens)`` — the document's tokens begin at ``seq_offset`` inside
    sequence ``seq_id`` of its stream and run for ``n_tokens`` (possibly
    into the following sequences; ``pack_manifest`` expands the spans).

    Plan: token counts are a map-side projection; the only shuffle is the
    hash partition into ``n_streams`` independent streams, inside which a
    running-sum window assigns offsets. Streams pack independently — no
    global order, no single-partition sort, and adding executors splits
    the same streams across more machines. Deterministic: stream, order,
    and offsets all derive from md5(salt ‖ id).
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    n_tok = (
        F.col(n_tokens_col).cast("long")
        if n_tokens_col
        else token_count(text_col).cast("long")
    )
    groups = list(group_cols or [])
    stream = hash_bucket(id_col, n_streams, salt)
    w = (
        Window.partitionBy(*groups, "stream")
        .orderBy(_order_hash(id_col, salt), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.select(
            F.col(id_col),
            *[F.col(g) for g in groups],
            stream.alias("stream"),
            n_tok.alias("n_tokens"),
        )
        .withColumn("__end", F.sum("n_tokens").over(w))
        .select(
            id_col,
            *groups,
            "stream",
            F.floor((F.col("__end") - F.col("n_tokens")) / seq_len).alias("seq_id"),
            ((F.col("__end") - F.col("n_tokens")) % seq_len).alias("seq_offset"),
            "n_tokens",
        )
    )


def pack_manifest(
    packed: DataFrame,
    seq_len: int = 2048,
    group_cols: list | None = None,
) -> DataFrame:
    """Expand ``pack_sequences`` output into the per-sequence manifest a
    trainer consumes: one row per (stream, seq_id) with ``n_docs`` (docs
    contributing tokens), ``n_tokens`` (tokens landing in the sequence)
    and ``fill`` (n_tokens / seq_len; every sequence except each stream's
    last is exactly full by construction).

    When the packing ran with ``group_cols``, pass the same list here —
    the sequence identity is ``(*group_cols, stream, seq_id)`` and an
    ungrouped manifest would merge same-numbered sequences across
    groups.

    A document starting at ``seq_offset`` with ``n_tokens`` tokens spans
    sequences ``seq_id .. seq_id + (seq_offset + n_tokens - 1) ÷
    seq_len`` — expanded row-locally with ``posexplode(sequence(...))``,
    then one partial-aggregated group-by. Empty docs contribute to their
    start sequence only."""
    groups = list(group_cols or [])
    extra = F.floor(
        (F.col("seq_offset") + F.greatest(F.col("n_tokens") - 1, F.lit(0))) / seq_len
    )
    exploded = packed.select(
        *groups,
        "stream",
        F.col("n_tokens"),
        F.col("seq_offset"),
        F.posexplode(
            F.sequence(F.col("seq_id"), F.col("seq_id") + extra)
        ).alias("__i", "seq_id"),
        extra.alias("__nspan"),
    )
    # tokens this doc lands in sequence __i of its span
    in_seq = (
        F.when(F.col("__nspan") == 0, F.col("n_tokens"))
        .when(F.col("__i") == 0, seq_len - F.col("seq_offset"))
        .when(
            F.col("__i") == F.col("__nspan"),
            F.col("n_tokens") - (seq_len - F.col("seq_offset")) - (F.col("__i") - 1) * seq_len,
        )
        .otherwise(F.lit(seq_len))
    )
    return (
        exploded.select(*groups, "stream", "seq_id", in_seq.alias("__t"))
        .groupBy(*groups, "stream", "seq_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("__t").cast("long").alias("n_tokens"),
            F.round(F.sum("__t") / seq_len, 4).alias("fill"),
        )
    )


def shuffle_corpus(
    df: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global shuffle for training order: every row gets a
    ``(shard, pos)`` such that reading shards in order, each sorted by
    ``pos``, visits the corpus in a uniform pseudo-random order that is
    identical on every run, every engine, and every input partitioning —
    the reproducible alternative to ``df.orderBy(rand())``.

    shard = md5 bucket; pos = rank of md5(salt ‖ id) inside the shard.
    One hash shuffle + per-shard sort — at 100 TB this is exactly the
    write-side of a shuffle-into-shards job, and shards can be written
    as independent files for streaming training readers."""
    w = Window.partitionBy("shard").orderBy(_order_hash(id_col, salt), F.col(id_col))
    return (
        df.withColumn("shard", hash_bucket(id_col, n_shards, salt))
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
    )


def materialize_sequences(
    df: DataFrame,
    seq_len: int = 2048,
    n_streams: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "pack",
) -> DataFrame:
    """Assemble the actual training sequences: one row per (stream,
    seq_id) carrying ``seq_text`` (the concatenated token window) and
    ``n_tokens`` — the materialization step after ``pack_sequences``
    decides placement. Every sequence except each stream's last is
    exactly ``seq_len`` tokens; a doc straddling a boundary contributes
    its head to one sequence and its tail to the next.

    Shape: the payload joins ONCE onto the (id → slot) assignment, each
    doc row-locally slices its token array into per-sequence parts
    (posexplode of the span arithmetic — no Python), and one groupBy
    (stream, seq_id) concatenates parts in offset order via array_sort
    over (offset, part) structs. Shuffle mass = the corpus payload once
    — the unavoidable cost of physically building sequences, paid here
    and nowhere else in the packing path.
    """
    from mongo_arrow_spark.operators.text import bind, tokens

    packed = pack_sequences(df, seq_len, n_streams, id_col, text_col, salt)
    joined = packed.join(df.select(F.col(id_col), F.col(text_col)), id_col)

    extra = F.floor(
        (F.col("seq_offset") + F.greatest(F.col("n_tokens") - 1, F.lit(0))) / seq_len
    )
    parts = joined.select(
        "stream",
        "seq_offset",
        F.col("n_tokens").alias("__n"),
        bind(tokens(text_col), lambda t: t).alias("__toks"),
        F.posexplode(F.sequence(F.col("seq_id"), F.col("seq_id") + extra)).alias(
            "__i", "seq_id"
        ),
        extra.alias("__nspan"),
    )
    # tokens this part contributes and where its slice starts (1-based)
    in_seq = (
        F.when(F.col("__nspan") == 0, F.col("__n"))
        .when(F.col("__i") == 0, seq_len - F.col("seq_offset"))
        .when(
            F.col("__i") == F.col("__nspan"),
            F.col("__n") - (seq_len - F.col("seq_offset")) - (F.col("__i") - 1) * seq_len,
        )
        .otherwise(F.lit(seq_len))
    )
    slice_start = (
        F.when(F.col("__i") == 0, F.lit(1))
        .otherwise((seq_len - F.col("seq_offset")) + (F.col("__i") - 1) * seq_len + 1)
    )
    part_offset = F.when(F.col("__i") == 0, F.col("seq_offset")).otherwise(F.lit(0))
    sliced = parts.select(
        "stream",
        "seq_id",
        F.struct(
            part_offset.cast("long").alias("o"),
            F.concat_ws(
                " ", F.slice(F.col("__toks"), slice_start, in_seq.cast("int"))
            ).alias("p"),
            in_seq.cast("long").alias("n"),
        ).alias("__part"),
    )
    return (
        sliced.groupBy("stream", "seq_id")
        .agg(F.array_sort(F.collect_list("__part")).alias("__ps"))
        .select(
            "stream",
            "seq_id",
            F.concat_ws(
                " ", F.filter(F.col("__ps.p"), lambda s: F.length(s) > 0)
            ).alias("seq_text"),
            F.aggregate(
                F.col("__ps.n"), F.lit(0).cast("long"), lambda a, x: a + x
            ).alias("n_tokens"),
        )
    )


def assign_token_shards(
    df: DataFrame,
    tokens_per_shard: int,
    order_by: list | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens_col: str | None = None,
    shard_col: str = "shard",
) -> DataFrame:
    """Token-BALANCED shard assignment: shard ``i`` holds the documents
    whose exclusive running token total lands in
    ``[i·tokens_per_shard, (i+1)·tokens_per_shard)`` under a
    deterministic total order (default: the md5 shuffle order
    ``shuffle_corpus`` uses, so shards are also well-mixed). Trainers
    want equal-TOKEN shards, not equal-row ones — a shard of long
    documents otherwise carries several times the optimizer steps of a
    shard of short ones. Every shard except the last carries within one
    max-document of the budget (a long document overshooting a boundary
    delays the next shard's first start by the overshoot).

    The running total is ``selection.running_total`` (range partition
    on the order → bounded per-partition subtotal collect → broadcast
    offsets → per-partition windows) — the exact global cumsum with NO
    single-task window, bit-identical to the one-task ``SUM() OVER
    (ORDER BY …)`` the oracle runs. A document never splits: the shard
    boundary falls between documents (pack first with
    ``pack_sequences`` when sequence-exact budgets matter).

    Returns the input plus ``n_tokens`` and ``shard`` (0-based). NULL
    text — and a NULL precomputed ``n_tokens_col`` — counts 0 tokens
    and the row is KEPT with a real shard id (dropping rows is a
    selection decision, not a sharding one; an un-coalesced NULL count
    would give the row a NULL shard and hive-write it into
    __HIVE_DEFAULT_PARTITION__, invisible to shard=k pruning).
    """
    if tokens_per_shard < 1:
        raise ValueError("tokens_per_shard must be >= 1")
    order = order_by or [
        _order_hash(id_col, "shard").asc(),
        F.col(id_col).asc(),
    ]
    tok = F.col(n_tokens_col) if n_tokens_col else token_count(text_col)
    return (
        running_total(
            df.withColumn("n_tokens", tok.cast("long")),
            order,
            "n_tokens",
            out_col="__cum",
        )
        # exclusive prefix: the shard a document STARTS in
        .withColumn(
            shard_col,
            F.expr(
                f"(__cum - n_tokens) div CAST({tokens_per_shard} AS BIGINT)"
            ).cast("long"),
        )
        .drop("__cum")
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    tokens_per_shard: int,
    order_by: list | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens_col: str | None = None,
) -> None:
    """Materialize token-balanced shards as a hive layout
    (``path/shard=N/``): ``assign_token_shards`` then one hash shuffle
    on the shard id so each shard writes from its own tasks. Readers
    get partition pruning per shard (resume training at shard k without
    listing the rest) and every shard carries ~``tokens_per_shard``
    tokens regardless of document-length skew."""
    out = assign_token_shards(
        df,
        tokens_per_shard,
        order_by=order_by,
        id_col=id_col,
        text_col=text_col,
        n_tokens_col=n_tokens_col,
    )
    out.repartition(F.col("shard")).write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(path)


def bucket_batches(
    df: DataFrame,
    capacity: int,
    bucket_width: int = 64,
    bucket_col: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens_col: str | None = None,
    salt: str = "batch",
    batch_col: str = "batch_id",
) -> DataFrame:
    """Length-bucketed dynamic batching (the fairseq/NeMo
    ``--max-tokens`` scheme): documents are grouped into LENGTH buckets
    (``n_tokens div bucket_width``, or a caller-supplied ``bucket_col``)
    so a batch pads every member to roughly the same length, then each
    bucket is cut into batches of ~``capacity`` tokens under the
    deterministic md5 order. Padding waste is bounded by the bucket
    width instead of the corpus-max length; batch token sums land below
    ``capacity`` + one bucket-max document (a document never splits —
    the batch boundary falls between documents, ``assign_token_shards``
    semantics per bucket).

    Scale shape: the grouped ``selection.running_total`` — range
    partition on (bucket, order), bounded per-(bucket, partition)
    offsets, parallel windows — so the one giant bucket every real
    corpus has (most documents are short) never serializes into one
    task, unlike a plain ``Window.partitionBy(bucket)``. Bit-identical
    to the one-task per-bucket window at any partition count.

    Returns the input plus ``n_tokens``, ``len_bucket`` and
    ``batch_col`` (0-based WITHIN the bucket — the global batch key is
    the pair ``(len_bucket, batch_id)``). NULL text / NULL counts batch
    as 0-token rows in bucket 0, kept (dropping is a selection
    decision, not a batching one)."""
    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    if bucket_col is None and bucket_width < 1:
        raise ValueError("bucket_width must be >= 1")
    tok = F.coalesce(
        (
            F.col(n_tokens_col) if n_tokens_col else token_count(text_col)
        ).cast("long"),
        F.lit(0).cast("long"),
    )
    staged = df.withColumn("n_tokens", tok).withColumn(
        "len_bucket",
        F.col(bucket_col).cast("long")
        if bucket_col
        else F.expr(f"n_tokens div CAST({bucket_width} AS BIGINT)"),
    )
    order = [_order_hash(id_col, salt).asc(), F.col(id_col).asc()]
    return (
        running_total(staged, order, "n_tokens", ["len_bucket"], "__cum")
        .withColumn(
            batch_col,
            F.expr(
                f"(__cum - n_tokens) div CAST({capacity} AS BIGINT)"
            ).cast("long"),
        )
        .drop("__cum")
    )
