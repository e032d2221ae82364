"""Data-layout optimization: Z-order clustering for multi-column scan
pruning.

At 100 TB the fastest scan is the one that never happens: parquet file
and row-group min/max statistics prune I/O only when the file layout
correlates with the predicate columns. Sorting by ONE column gives
perfect pruning on it and none on any other; interleaving the bits of
several columns' ranks (a Z-order / Morton curve) clusters the data so
EVERY interleaved column's per-file value range stays narrow — the same
technique behind Delta Lake's ``OPTIMIZE ZORDER BY`` and Iceberg's
sort-order rewrite, expressed here as plain Catalyst integer arithmetic
plus ``repartitionByRange``.

Scale shape: rank quantization is a broadcast of 2^bits−1 cutpoints per
column (driver-held, from one ``approxQuantile`` pass); the Z-key is a
pure per-row projection (whole-stage codegen); the write is one range
shuffle on the key — exactly the cost of a global sort by any single
column, but the stats benefit lands on every clustered column at once.

No reference counterpart (mongo-arrow delegates layout to mongod's
storage engine); this is the Spark-native layout tier for the corpus
sinks. The interleave math is engine-portable integer arithmetic, so the
Z-key itself is DuckDB-oracle-gradeable bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongo_arrow_spark.execution import partition_count


def interleave_bits(cols: list, bits: int = 8) -> Column:
    """Morton interleave of already-quantized integer ranks: bit ``b`` of
    column ``i`` lands at output bit ``b·n + i``. Inputs must lie in
    ``[0, 2^bits)``; values are clamped (NULL → 0, the curve origin —
    NULLs cluster together at the low end, mirroring NULLS FIRST).

    Pure integer projection (shifts spelled as multiplication/division
    so the identical expression runs in DuckDB for the oracle); output
    fits a BIGINT for ``n_cols × bits ≤ 63``."""
    n = len(cols)
    if n < 2:
        raise ValueError("interleave_bits needs >= 2 columns")
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a signed 64-bit key")
    hi = (1 << bits) - 1
    out = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        col = F.col(c) if isinstance(c, str) else c
        clamped = F.least(
            F.greatest(F.coalesce(col.cast("long"), F.lit(0)), F.lit(0)),
            F.lit(hi),
        )
        for b in range(bits):
            bit = (clamped / F.lit(1 << b)).cast("long") % 2
            out = out + bit * F.lit(1 << (b * n + i))
    return out


def quantile_ranks(
    df: DataFrame, cols: list, bits: int = 8, relative_error: float = 0.001
) -> tuple[DataFrame, dict]:
    """Quantize each column to its ``2^bits``-bucket quantile rank —
    the value-skew-proof normalization Z-ordering needs (linear min/max
    scaling collapses under heavy-tailed columns; quantile ranks give
    equal-population buckets by construction).

    One ``approxQuantile`` pass computes ``2^bits − 1`` cutpoints per
    column (Greenwald-Khanna sketch, single scan, driver memory ∝
    buckets not rows). Ranks are then an in-row fold over the cutpoint
    array literal: ``aggregate(cuts, 0, (acc, c) -> acc + int(x > c))``
    — O(buckets) per row inside whole-stage codegen, no join and no
    broadcast, fine for ``bits ≤ 8``.

    Returns ``(df + <col>__rank columns, {col: cutpoints})``; feed the
    rank columns to ``interleave_bits``."""
    if not 1 <= bits <= 16:
        raise ValueError("bits must be in [1, 16]")
    cuts_by_col = {}
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    for c in cols:
        cuts = df.approxQuantile(c, probs, relative_error)
        cuts_by_col[c] = cuts
    out = df
    for c in cols:
        arr = F.array(*[F.lit(float(v)) for v in cuts_by_col[c]])
        x = F.col(c).cast("double")
        rank = F.aggregate(
            arr,
            F.lit(0),
            lambda acc, cut: acc + F.when(x > cut, 1).otherwise(0),
        )
        out = out.withColumn(f"{c}__rank", F.coalesce(rank, F.lit(0)))
    return out, cuts_by_col


def zorder_key(df: DataFrame, cols: list, bits: int = 8) -> DataFrame:
    """Attach ``zkey``: quantile-rank each column, Morton-interleave the
    ranks. One stats pass + one projection; no shuffle."""
    ranked, _ = quantile_ranks(df, cols, bits)
    key = interleave_bits([f"{c}__rank" for c in cols], bits)
    return ranked.withColumn("zkey", key).drop(
        *[f"{c}__rank" for c in cols]
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list,
    bits: int = 8,
    num_files: int | None = None,
    file_format: str = "parquet",
) -> None:
    """Cluster-and-write: range-partition on the Z-key (each output file
    owns a contiguous curve segment, so every clustered column's
    per-file min/max range is narrow), sort within partitions for
    row-group-level stats, drop the key, write.

    ``num_files`` defaults to the session's shuffle parallelism. The
    efficacy contract — per-file bounding boxes shrink on EVERY
    clustered column vs a single-column sort — is pinned by
    tests/test_layout.py's pruning measurement rather than asserted
    here."""
    keyed = zorder_key(df, cols, bits)
    n = partition_count(df.sparkSession, num_files)
    (
        keyed.repartitionByRange(n, "zkey")
        .sortWithinPartitions("zkey")
        .drop("zkey")
        .write.mode("overwrite")
        .format(file_format)
        .save(path)
    )


def file_stats(df_read: DataFrame, cols: list) -> DataFrame:
    """Per-file min/max of each column for a read-back dataset — the
    observable a layout optimizes. Used by the efficacy tests and as a
    user-facing audit: narrow per-file ranges == prunable files."""
    aggs = []
    for c in cols:
        aggs += [
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
        ]
    return (
        df_read.withColumn("__file", F.input_file_name())
        .groupBy("__file")
        .agg(*aggs)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list,
    num_buckets: int = 64,
    path: str | None = None,
    sort: bool = True,
) -> None:
    """Write ``df`` as a bucketed (hash-clustered) table: rows are hash-
    partitioned into ``num_buckets`` files per partition on
    ``bucket_cols``, optionally sorted within buckets.

    This is the CO-LOCATION half of the layout tier (Z-order optimizes
    min/max pruning; bucketing optimizes joins): two tables bucketed the
    same way on the same key join with ZERO exchange on either side —
    at 100 TB that deletes the single largest shuffle a fact-fact join
    plans, and the within-bucket sort upgrades it to a zero-sort
    SortMergeJoin. The bucket layout is recorded in the catalog, so
    every later reader gets the exchange-free plan for free
    (``tests/test_layout.py`` pins Exchange-absence on a bucketed
    self-family join).

    ``path`` makes it an external table (data at ``path``, metadata in
    the catalog); default is a managed table under the session
    warehouse. Spark bucketing requires ``saveAsTable`` — a bare
    ``.parquet(path)`` write cannot record bucket metadata.
    """
    if not bucket_cols:
        raise ValueError("bucket_cols must be non-empty")
    w = df.write.mode("overwrite").bucketBy(
        int(num_buckets), bucket_cols[0], *bucket_cols[1:]
    )
    if sort:
        w = w.sortBy(bucket_cols[0], *bucket_cols[1:])
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def payload_digest(payload_cols: list[str]):
    """md5 over a PREFIX-FREE serialization of the payload columns — the
    one digest contract shared by the content-addressed store and
    ``operators.versioning`` (two copies would silently diverge). Each
    column contributes ``<nullness tag><byte length>:<value>``: the tag
    makes (NULL) ≠ (''), and the explicit length makes the encoding
    unambiguous even when values CONTAIN the join byte (('a\\x001b','c')
    vs ('a','b\\x001c') hash differently — a plain NUL-join conflates
    them, r9 review fix)."""
    return F.md5(
        F.concat_ws(
            "\x00",
            *[
                F.concat(
                    F.when(F.col(c).isNull(), F.lit("0")).otherwise(
                        F.lit("1")
                    ),
                    F.octet_length(
                        F.coalesce(F.col(c).cast("string"), F.lit(""))
                    ).cast("string"),
                    F.lit(":"),
                    F.coalesce(F.col(c).cast("string"), F.lit("")),
                )
                for c in payload_cols
            ],
        )
    )


def write_content_addressed(
    df: DataFrame,
    name: str,
    payload_cols: list[str],
    id_cols: list[str] | None = None,
    num_buckets: int = 16,
    path: str | None = None,
) -> dict:
    """Content-addressed payload store: the deduplicated STORAGE layout.
    Real corpora carry 1.3–3× exact duplication (CommonCrawl snapshots,
    mirrored docs, boilerplate) — storing every copy wastes that factor
    of disk AND of every downstream scan. This splits the frame into

    - ``<name>_payloads``: ONE row per distinct payload
      (``__digest`` + ``payload_cols``), and
    - ``<name>_manifest``: one row per document (``id_cols`` +
      ``__digest``) — the cheap, payload-free side every metadata
      operation (counting, splitting, sampling, diffing) can use alone,

    both bucketed on ``__digest`` by ``write_bucketed``, so
    ``read_content_addressed`` reconstructs the full frame with a
    ZERO-EXCHANGE sorted bucket join (plan-gated in tests) — at 100 TB
    the reconstruction join moves nothing. The digest is md5 over the
    null-tagged concat of ``payload_cols`` (a NULL payload is a real,
    distinct value — tagged so (NULL) ≠ ('')). Dedup here is EXACT
    bytes; near-dup reduction stays a curation decision upstream.

    Returns ``{"n_rows", "n_payloads", "dedup_ratio"}`` — the measured
    storage saving (ratio 1.0 = no duplication).
    """
    if not payload_cols:
        raise ValueError("payload_cols must be non-empty")
    ids = list(id_cols or ["doc_id"])
    overlap = set(ids) & set(payload_cols)
    if overlap:
        raise ValueError(f"id/payload overlap: {sorted(overlap)}")
    tagged = df.withColumn("__digest", payload_digest(payload_cols))
    payloads = tagged.select("__digest", *payload_cols).dropDuplicates(
        ["__digest"]
    )
    manifest = tagged.select(*ids, "__digest")
    write_bucketed(
        payloads,
        f"{name}_payloads",
        ["__digest"],
        num_buckets=num_buckets,
        path=None if path is None else f"{path}/payloads",
    )
    write_bucketed(
        manifest,
        f"{name}_manifest",
        ["__digest"],
        num_buckets=num_buckets,
        path=None if path is None else f"{path}/manifest",
    )
    spark = df.sparkSession
    n_rows = spark.table(f"{name}_manifest").count()
    n_payloads = spark.table(f"{name}_payloads").count()
    return {
        "n_rows": n_rows,
        "n_payloads": n_payloads,
        "dedup_ratio": round(n_rows / max(n_payloads, 1), 4),
    }


def read_content_addressed(spark, name: str) -> DataFrame:
    """Reconstruct the full frame from a ``write_content_addressed``
    store: manifest ⋈ payloads on ``__digest`` — both sides bucketed and
    sorted on the key, so the plan is an exchange-free (and sort-free)
    SortMergeJoin; the ``__digest`` column is dropped from the result."""
    manifest = spark.table(f"{name}_manifest")
    payloads = spark.table(f"{name}_payloads")
    return manifest.join(payloads, "__digest").drop("__digest")
