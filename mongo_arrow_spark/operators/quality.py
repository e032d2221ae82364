"""Corpus-quality operators for LLM training-data pipelines: repetition
metrics (Gopher-rule shapes), PII scan/redaction, token-window chunking,
and deterministic train/val/test splitting.

Everything except the per-doc top-n-gram frequency is a narrow per-row
projection in pure ``pyspark.sql.functions`` — no shuffle, no Python on
the data path, identical plan at 60 kB and 100 TB. The top-n-gram metric
is the one aggregation (explode → per-(doc, gram) count → per-doc max),
which partial-aggregates map-side before its single shuffle.

These extend the reference's surface (it has no corpus ops — SURVEY.md
§2.E rows "text search"/"vector search" are Atlas-server-only there);
the shapes follow the published Gopher/C4 filtering rules.
"""

from __future__ import annotations

import math
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongo_arrow_spark.execution import materialize
from mongo_arrow_spark.operators.text import bind, tokens

# --------------------------------------------------------------- repetition


def _ngrams(toks: Column, n: int) -> Column:
    """All (overlapping, non-distinct) word n-grams of a token array.

    ``toks`` must be a cheap reference (a bound lambda variable or a real
    column) — it is re-read inside the per-gram lambda; callers wrap
    expensive expressions with ``text.bind`` first.
    """
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )


def repetition_metrics(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ngram_n: int = 2,
) -> DataFrame:
    """Gopher-style repetition signals per document:

    - ``dup_token_fraction``: 1 − distinct_tokens/tokens — bulk repetition.
    - ``top_ngram_char_fraction``: chars covered by the single most
      frequent word ``top_ngram_n``-gram ÷ total chars. The Gopher rule
      drops docs where the top 2-gram covers > 0.20 of the text.
    - ``max_ngram_count``: occurrences of that most frequent n-gram.

    Plan: **zero shuffles**. The most-frequent n-gram is a per-document
    statistic, so it never needs a (doc, gram) aggregation across rows:
    grams are xxhash64-folded to ``(hash, length)`` structs, sorted
    row-locally (``array_sort`` groups equal grams adjacently), and a
    single ``F.aggregate`` run-length scan finds the best (count, length)
    pair — all inside whole-stage codegen. The winner is max by
    (count, gram length), matching the relational
    ``max(struct(c, glen))`` tie-break. At 100 TB this is a map-only
    pass: same plan, no exchange, no skew surface. (Through round 3 this
    exploded grams into a per-(doc, gram) count shuffle — correct but
    moving ~tokens×16 bytes through the wire for a row-local answer.)
    """
    zero = F.lit(0).cast("long")
    acc0 = F.struct(
        F.lit(None).cast("long").alias("ph"),
        zero.alias("run"),
        zero.alias("bc"),
        zero.alias("bglen"),
    )

    def step(acc, x):
        run = (
            F.when(x["h"] == acc["ph"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .cast("long")
        )
        better = (run > acc["bc"]) | (
            (run == acc["bc"]) & (x["glen"] > acc["bglen"])
        )
        return F.struct(
            x["h"].alias("ph"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["bc"]).alias("bc"),
            F.when(better, x["glen"]).otherwise(acc["bglen"]).alias("bglen"),
        )

    def doc_stats(t):
        # equal grams have equal hashes AND equal lengths, so sorting the
        # (hash, len) structs clusters duplicates; the scan tracks the
        # current run and the best-so-far (count, len) lexicographically
        gr = F.array_sort(
            F.transform(
                _ngrams(t, top_ngram_n),
                lambda g: F.struct(
                    F.xxhash64(g).alias("h"),
                    F.length(g).cast("long").alias("glen"),
                ),
            )
        )
        top = F.aggregate(gr, acc0, step)
        return F.struct(
            F.size(t).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(t)).cast("long").alias("n_distinct"),
            top["bc"].alias("bc"),
            top["bglen"].alias("bglen"),
        )

    stats = bind(tokens(text_col), doc_stats)
    return df.select(
        F.col(id_col),
        F.length(text_col).cast("long").alias("n_chars_q"),
        stats.alias("__s"),
    ).select(
        id_col,
        F.col("__s.n_tokens").alias("n_tokens"),
        (1.0 - F.col("__s.n_distinct") / F.col("__s.n_tokens"))
        .cast("double")
        .alias("dup_token_fraction"),
        F.col("__s.bc").alias("max_ngram_count"),
        (F.col("__s.bc") * F.col("__s.bglen") / F.col("n_chars_q"))
        .cast("double")
        .alias("top_ngram_char_fraction"),
    )


#: Gopher's stop-word list (Rae et al. 2021, appendix A1.1): a document
#: must contain at least ``min_stop_words`` of these to pass the rule.
GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    max_mean_word_len: float = 10.0,
    min_mean_word_len: float = 2.0,
    max_symbol_word_ratio: float = 0.1,
    min_stop_words: int | None = None,
    min_alpha_word_ratio: float | None = None,
    max_bullet_line_ratio: float | None = None,
    max_ellipsis_line_ratio: float | None = None,
) -> DataFrame:
    """Boolean keep/drop flags per the published Gopher heuristics: token
    count bounds, mean word length bounds, symbol-to-word ratio
    (``#``/``…`` per token), and — opt-in so existing oracle-pinned
    pipelines are unchanged — the remaining four published rules: stop
    word presence (≥2 of Gopher's 8-word list), alphabetic-word ratio
    (≥0.8 of words contain a letter), bullet-started line ratio (<0.9)
    and ellipsis-ended line ratio (<0.3). Pure projection; every rule is
    a JVM expression.
    """
    toks = tokens(text_col)
    n_tok = F.size(toks)
    n_chars = F.length(text_col)
    mean_wl = (n_chars - n_tok + 1) / n_tok
    symbols = F.length(F.regexp_replace(text_col, r"[^#…]", ""))
    keep = (
        (n_tok >= min_tokens)
        & (n_tok <= max_tokens)
        & (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len)
        & ((symbols / n_tok) <= max_symbol_word_ratio)
    )
    cols = {
        "q_n_tokens": n_tok.cast("long"),
        "q_mean_word_len": mean_wl.cast("double"),
        "q_symbol_word_ratio": (symbols / n_tok).cast("double"),
    }
    if min_stop_words is not None:
        low = F.lower(F.col(text_col) if isinstance(text_col, str) else text_col)
        stop_hits = None
        for w in GOPHER_STOP_WORDS:
            hit = F.when(low.rlike(rf"\b{w}\b"), 1).otherwise(0)
            stop_hits = hit if stop_hits is None else stop_hits + hit
        cols["q_stop_words"] = stop_hits.cast("long")
        keep = keep & (stop_hits >= min_stop_words)
    if min_alpha_word_ratio is not None:
        alpha = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
        ratio = alpha / F.greatest(n_tok, F.lit(1))
        cols["q_alpha_word_ratio"] = ratio.cast("double")
        keep = keep & (ratio >= min_alpha_word_ratio)
    if max_bullet_line_ratio is not None or max_ellipsis_line_ratio is not None:
        lines = F.split(F.col(text_col), "\n")
        n_lines = F.greatest(F.size(lines), F.lit(1))
        if max_bullet_line_ratio is not None:
            bullets = F.size(
                F.filter(lines, lambda l: l.rlike(r"^\s*([\-\*•]|\d+[.)])\s"))
            )
            cols["q_bullet_line_ratio"] = (bullets / n_lines).cast("double")
            keep = keep & ((bullets / n_lines) <= max_bullet_line_ratio)
        if max_ellipsis_line_ratio is not None:
            ell = F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
            cols["q_ellipsis_line_ratio"] = (ell / n_lines).cast("double")
            keep = keep & ((ell / n_lines) <= max_ellipsis_line_ratio)
    cols["q_keep"] = keep
    return df.withColumns(cols)


def c4_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4's published page-level drops (Raffel et al. 2020 §2.2), the
    subset that is corpus-independent: contains "lorem ipsum", contains a
    curly brace (code), fewer than 3 sentences. The "javascript" rule is
    a LINE filter in the paper ("we removed any line with the word
    Javascript") and lives in ``c4_clean_lines``; it is not a page drop.
    Pure projection."""
    low = F.lower(F.col(text_col))
    n_sentences = F.size(F.split(F.col(text_col), r"[.!?](\s|$)")) - 1
    return df.withColumns(
        {
            "c4_has_lorem": low.contains("lorem ipsum"),
            "c4_has_brace": F.col(text_col).contains("{"),
            "c4_n_sentences": n_sentences.cast("long"),
            "c4_keep": (
                ~low.contains("lorem ipsum")
                & ~F.col(text_col).contains("{")
                & (n_sentences >= 3)
            ),
        }
    )


def c4_clean_lines(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4's line-level filters (Raffel et al. 2020 §2.2): keep only lines
    that end in terminal punctuation, have at least 5 words, and do not
    mention "javascript" (the paper removes the offending LINE, not the
    page). Rewrites ``text_col`` in place; rows whose every line is
    dropped come out empty — follow with a length filter or
    ``c4_quality_flags``. Zero shuffle."""
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        lines,
        lambda l: l.rlike(r"[.!?\"']\s*$")
        & (F.size(F.split(F.trim(l), r"\s+")) >= 5)
        & ~F.lower(l).rlike(r"\bjavascript\b"),
    )
    return df.withColumn(text_col, F.concat_ws("\n", kept))


# --------------------------------------------------------------------- PII

#: Detection patterns restricted to the syntax subset that means the same
#: thing in Java regex (Spark) and RE2 (DuckDB oracle): no backrefs, no
#: lookaround.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b",
}


def pii_metrics(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document PII hit counts (one ``regexp_count`` per class) plus a
    total. Narrow projection, no shuffle."""
    counts = {
        f"n_{name}": F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
        for name, pat in PII_PATTERNS.items()
    }
    out = df.select(F.col(id_col), F.col(text_col), *[c.alias(n) for n, c in counts.items()])
    total = None
    for n in counts:
        total = F.col(n) if total is None else total + F.col(n)
    return out.withColumn("n_pii_total", total.cast("long")).drop(text_col)


def pii_redact(
    col: Column | str, replacement: str = "[PII]", classes: list[str] | None = None
) -> Column:
    """Replace every PII match with ``replacement`` — chained
    ``regexp_replace``, still one codegen'd projection."""
    out = F.col(col) if isinstance(col, str) else col
    for name in classes or list(PII_PATTERNS):
        out = F.regexp_replace(out, PII_PATTERNS[name], replacement)
    return out


# ---------------------------------------------------------------- chunking


def chunk_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Split each document into overlapping token windows — the standard
    pre-tokenizer packing step. Output: (id, chunk_id, chunk_text,
    n_chunk_tokens), one row per window, windows start every ``stride``
    tokens and carry ``chunk_size`` tokens (the last may be short).

    Pure Catalyst: sequence of 1-based starts → slice → posexplode. Rows
    fan out ~n_tokens/stride ×; no shuffle — chunking is embarrassingly
    parallel and the 100 TB plan is the same map-only pass.
    """
    if stride <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and stride must be positive")

    def chunks_of(t):
        # the sequence end extends a full stride past the last full-window
        # start so the tail window always exists: stopping at n-chunk+1
        # drops up to stride-1 trailing tokens whenever (n-chunk) % stride
        # != 0 (caught by the chunk-coverage property test)
        starts = F.sequence(
            F.lit(1),
            # clamp to n so stride > chunk_size can't emit empty windows
            F.least(
                F.greatest(F.size(t) - chunk_size, F.lit(0)) + F.lit(stride),
                F.size(t),
            ),
            F.lit(stride),
        )
        return F.transform(starts, lambda s: F.slice(t, s, chunk_size))

    # token array let-bound: the regex split must not re-run per window
    chunks = bind(tokens(text_col), chunks_of)
    return df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "__c"),
    ).select(
        id_col,
        "chunk_id",
        F.concat_ws(" ", "__c").alias("chunk_text"),
        F.size("__c").cast("long").alias("n_chunk_tokens"),
    )


# ------------------------------------------------------------------ splits


def train_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train: float = 0.8,
    val: float = 0.1,
    salt: str = "split",
) -> DataFrame:
    """Deterministic, engine-portable train/val/test assignment: the first
    4 hex digits of md5(salt ‖ id) are compared against hex thresholds
    (65536 buckets). md5 hex is identical across engines (unlike seeded
    RNG or xxhash64) and lexicographic order on fixed-width lowercase hex
    is numeric order, so the same row lands in the same split — on Spark,
    on the DuckDB oracle, on a re-run, and after any repartitioning. Pure
    projection, no shuffle, no RNG state.
    """
    return df.withColumn(
        "split", _split_label(F.col(id_col), train, val, salt)
    )


def _split_label(key: Column, train: float, val: float, salt: str) -> Column:
    """The md5-bucket split assignment over an arbitrary key column
    (shared by train_split and cluster_safe_split so the two can never
    disagree on bucket arithmetic)."""
    if not (0 <= train and 0 <= val and train + val <= 1):
        raise ValueError("train/val must be >= 0 with train + val <= 1")
    t_train = format(int(train * 65536), "04x")
    t_val = format(int((train + val) * 65536), "04x")
    bucket = F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 4)
    return (
        F.when(bucket < t_train, "train")
        .when(bucket < t_val, "val")
        .otherwise("test")
    )


def cluster_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    train: float = 0.8,
    val: float = 0.1,
    salt: str = "split",
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: near-dup CLUSTERS are
    assigned whole, so a document and its near-duplicates can never
    straddle splits — the classic eval leak where test answers sit in the
    training set as near-copies. ``pairs`` is any candidate-pair table
    (ngram_jaccard_pairs / minhash_lsh_pairs / semantic_dedup_pairs);
    documents in no pair split independently on their own id.

    Plan: connected components over the pairs (the same post-pair step
    every dedup pipeline runs), one LEFT join of the (id, component)
    table onto the corpus, then the shared md5-bucket label computed on
    ``coalesce(component, id)`` — every member of a cluster hashes the
    identical key. The component table is bounded by docs appearing in
    any pair (typically ≪ corpus, where AQE demotes the join to
    broadcast; on a dirty corpus it can approach corpus size, so the
    join is left to the optimizer rather than force-broadcast). The
    label itself is a pure projection.
    """
    from mongo_arrow_spark.operators import dedup as _dedup

    comp = _dedup.connected_components(pairs, a_col, b_col).select(
        F.col("id").alias(id_col), F.col("component")
    )
    out = df.join(comp, id_col, "left")
    key = F.coalesce(F.col("component"), F.col(id_col))
    return out.withColumn("split", _split_label(key, train, val, salt))


def stratified_sample(
    df: DataFrame,
    key_col: str,
    n_per_key: int,
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Deterministic per-key sample: the ``n_per_key`` rows with the
    smallest md5(salt ‖ id) in each key group. A hash order is a uniform
    random order that every engine and every re-run agrees on — the
    reproducible alternative to rand()-based sampleBy for eval-set
    construction. One window shuffle on the key column."""
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(key_col).orderBy(h, F.col(id_col))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_per_key)
        .drop("__rk")
    )


def compression_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """zlib compression ratio per document (compressed/raw bytes) — the
    classic boilerplate/repetition detector: templated or repetitive text
    compresses far below ~0.4 while natural prose sits higher.

    This is the one quality signal that genuinely needs Python (no JVM
    zlib in Spark SQL), so it runs as Arrow-batched ``mapInPandas``:
    executor-local batches, narrow (id, n_raw, n_compressed, ratio)
    output, throughput = cores × zlib speed — the documented pattern for
    the rare non-expressible metric.
    """
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("n_raw_bytes", T.LongType()),
            T.StructField("n_compressed_bytes", T.LongType()),
            T.StructField("compression_ratio", T.DoubleType()),
        ]
    )

    def run(batches):
        import zlib

        for pdf in batches:
            raw = pdf[text_col].fillna("").map(lambda s: s.encode("utf-8"))
            nraw = raw.map(len)
            ncmp = raw.map(lambda b: len(zlib.compress(b, level)))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_raw_bytes": nraw,
                    "n_compressed_bytes": ncmp,
                    "compression_ratio": (
                        ncmp / nraw.where(nraw > 0, 1)
                    ).astype(float),
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, schema=out_schema)


def mix_sources(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Resample a corpus to target domain proportions — the data-mixing
    step of a training pipeline (e.g. 60 % web / 30 % code / 10 % books).

    Picks the largest output size the corpus supports (N_out =
    min_k count_k / w_k, so the scarcest domain is kept whole) and
    downsamples every other domain to w_k·N_out rows via the engine-
    portable md5-threshold rule (same recipe as train_split): a row
    survives when the first 8 hex digits of md5(salt ‖ id) fall under the
    per-domain fraction. Deterministic across engines, re-runs, and
    repartitioning.

    Plan shape: one tiny groupBy(count) on the key (K domains), a 1-row
    global min, broadcast back onto the scan — the corpus itself is never
    shuffled, only filtered. Domains absent from ``weights`` are dropped.
    """
    total_w = sum(weights.values())
    wmap = F.create_map(
        *[
            F.lit(x)
            for k, w in weights.items()
            for x in (k, float(w) / total_w)
        ]
    )
    counts = (
        df.groupBy(key_col)
        .agg(F.count("*").alias("_n"))
        .withColumn("_w", wmap[F.col(key_col)])
        .filter(F.col("_w").isNotNull())
    )
    n_out = counts.select(
        F.min(F.col("_n") / F.col("_w")).alias("_n_out")
    )
    frac = F.least(
        F.lit(1.0), F.col("_w") * F.col("_n_out") / F.col("_n")
    )
    plan = (
        counts.crossJoin(F.broadcast(n_out))
        .select(
            F.col(key_col),
            F.lower(
                F.lpad(
                    F.hex(F.round(frac * F.lit(float(16**8))).cast("bigint")),
                    9,
                    "0",
                )
            ).alias("_thr"),
        )
    )
    # thresholds are 9 hex chars ("100000000" when a domain is kept whole);
    # pad the 8-char bucket to the same width so lexicographic == numeric
    bucket = F.concat(
        F.lit("0"),
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8
        ),
    )
    return (
        df.join(F.broadcast(plan), key_col)
        .filter(bucket < F.col("_thr"))
        .drop("_thr")
    )


# ---------------------------------------------------- model-based scoring

#: Default linear quality model: hand-set, deterministic weights over the
#: closed-form signals ``text.quality_metrics`` computes. The shape (not
#: the weights) is the point — FineWeb-Edu / DCLM-style pipelines score
#: documents with a small trained classifier and filter on the score;
#: swap these weights for trained ones and the plan is unchanged.
DEFAULT_QUALITY_WEIGHTS = {
    "bias": -1.0,
    "log_tokens": 0.55,        # longer docs are likelier to be real prose
    "stopword_ratio": 4.0,     # function words ⇒ natural language
    "mean_word_len": 0.15,     # penalizes symbol soup via the bias offset
    "punct_ratio": -3.0,       # heavy punctuation ⇒ markup/boilerplate
    "dup_token_fraction": -2.5 # bulk repetition ⇒ template/spam
}


def quality_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Model-based quality score per document: a logistic score over the
    engine's closed-form text signals (token count, stopword ratio, mean
    word length, punctuation ratio, duplicate-token fraction).

    score = sigmoid(w · x + b), all features computed JVM-side in one
    projection — the plan is a map-only pass at any corpus size, exactly
    how a broadcast linear classifier runs at 100 TB (a trained model's
    weights arrive the same way: a few floats in the closure).
    Deterministic and engine-portable; the battery grades it against a
    DuckDB re-derivation.
    """
    from mongo_arrow_spark.operators.text import (
        DEFAULT_STOPWORDS,
        bind,
        stopword_hits,
        tokens,
    )

    w = {**DEFAULT_QUALITY_WEIGHTS, **(weights or {})}
    t = tokens(text_col)
    n_tok = F.size(t)
    n_chars = F.length(text_col)
    dup_frac = bind(
        tokens(text_col),
        lambda tt: 1.0 - F.size(F.array_distinct(tt)) / F.size(tt),
    )
    z = (
        F.lit(w["bias"])
        + F.lit(w["log_tokens"]) * F.log(n_tok.cast("double") + 1.0)
        + F.lit(w["stopword_ratio"])
        * (stopword_hits(text_col, DEFAULT_STOPWORDS) / n_tok)
        + F.lit(w["mean_word_len"]) * ((n_chars - n_tok + 1) / n_tok)
        + F.lit(w["punct_ratio"])
        * (F.length(F.regexp_replace(text_col, r"[^\p{Punct}]", "")) / n_chars)
        + F.lit(w["dup_token_fraction"]) * dup_frac
    )
    return df.select(
        F.col(id_col),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).cast("double").alias("q_score"),
    )


def quality_filter(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Keep documents scoring ≥ threshold under the linear quality model.
    Semi-join on ids — the score never rides past the filter."""
    keep = quality_score(df, id_col, text_col, weights).filter(
        F.col("q_score") >= threshold
    )
    return df.join(keep.select(id_col), id_col, "left_semi")


# ----------------------------------------------------- boilerplate lines


def boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 3,
    sep: str = "\n",
) -> DataFrame:
    """Lines (newline-delimited segments) that repeat across ≥ ``min_df``
    documents — nav menus, cookie banners, footers: the line-level
    boilerplate C4/RefinedWeb strip before any document-level dedup can
    see it. Output: (line_hash, df) for joining or auditing.

    Shape: explode distinct lines per doc → count by 8-byte xxhash64
    (partial agg, one shuffle of hashed keys — line text never shuffles).
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(F.split(F.col(text_col), sep))
        ).alias("line"),
    ).filter(F.trim("line") != "")
    return (
        lines.select("id", F.xxhash64(F.trim("line")).alias("line_hash"))
        .groupBy("line_hash")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.col("df") >= min_df)
    )


def strip_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 3,
    sep: str = "\n",
) -> DataFrame:
    """Remove boilerplate lines in place: a doc's lines are filtered
    against the corpus's repeated-line set and re-joined. The repeated
    set rides as one hash-array column via a broadcast-sized aggregation
    (boilerplate vocabularies are small by nature — cap ``min_df`` lower
    only with a lexicon-size check at true corpus scale); the filter is
    a row-local HOF, no Python on the data path."""
    hot = boilerplate_lines(df, id_col, text_col, min_df, sep)
    hot_arr = hot.agg(F.collect_list("line_hash").alias("__hot"))
    cleaned = F.concat_ws(
        sep,
        F.filter(
            F.split(F.col(text_col), sep),
            lambda ln: (F.trim(ln) == "")
            | ~F.array_contains(F.col("__hot"), F.xxhash64(F.trim(ln))),
        ),
    )
    return (
        df.crossJoin(F.broadcast(hot_arr))
        .withColumn(text_col, cleaned)
        .drop("__hot")
    )


def line_repetition_metrics(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher's within-document duplicate-line signals (Rae et al. 2021:
    drop when duplicate-line fraction > 0.30 or duplicate-line char
    fraction > 0.20): per doc,

    - ``dup_line_fraction``: lines whose text already appeared earlier in
      the same document ÷ total lines;
    - ``dup_line_char_fraction``: characters in those repeated occurrences
      ÷ total line characters.

    Row-local like repetition_metrics: lines fold to (xxhash64, length)
    structs, array_sort clusters duplicates, one F.aggregate run-length
    scan counts repeats — zero shuffle, whole-stage codegen.
    """
    zero = F.lit(0).cast("long")
    acc0 = F.struct(
        F.lit(None).cast("long").alias("ph"),
        zero.alias("dl"),
        zero.alias("dc"),
        zero.alias("nl"),
        zero.alias("nc"),
    )

    def step(acc, x):
        rep = x["h"] == acc["ph"]
        return F.struct(
            x["h"].alias("ph"),
            F.when(rep, acc["dl"] + 1).otherwise(acc["dl"]).alias("dl"),
            F.when(rep, acc["dc"] + x["ln"]).otherwise(acc["dc"]).alias("dc"),
            (acc["nl"] + 1).alias("nl"),
            (acc["nc"] + x["ln"]).alias("nc"),
        )

    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    hashed = F.array_sort(
        F.transform(
            lines,
            lambda l: F.struct(
                F.xxhash64(l).alias("h"), F.length(l).cast("long").alias("ln")
            ),
        )
    )
    st = F.aggregate(hashed, acc0, step)
    return df.select(
        F.col(id_col),
        F.when(st["nl"] > 0, st["dl"] / st["nl"]).otherwise(F.lit(0.0)).cast(
            "double"
        ).alias("dup_line_fraction"),
        F.when(st["nc"] > 0, st["dc"] / st["nc"]).otherwise(F.lit(0.0)).cast(
            "double"
        ).alias("dup_line_char_fraction"),
    )


# ------------------------------------------- supervised token-level scoring


class TokenLogOddsModel(NamedTuple):
    """Fitted Naive-Bayes token log-odds model.

    ``tokens`` is a small (vocab-sized) DataFrame ``(w, log_odds)`` meant
    to be broadcast at scoring time; ``default_log_odds`` is the smoothed
    score of a token never seen at fit time. The totals ride along so a
    persisted model can be re-materialized without refitting —
    ``save_token_logodds`` / ``load_token_logodds`` round-trip the whole
    model (table + scalars) through one parquet artifact.
    """

    tokens: "DataFrame"
    default_log_odds: float
    pos_token_total: float
    neg_token_total: float
    vocab_size: float

    def unpersist(self) -> "TokenLogOddsModel":
        """Release the cached model table — the teardown for long-lived
        sessions that refit per batch (each fit caches exactly one
        vocab-sized table; without this it lives until session end)."""
        self.tokens.unpersist()
        return self


def fit_token_logodds(
    seed: DataFrame,
    label_col: str,
    text_col: str = "text",
    alpha: float = 1.0,
    max_vocab: int | None = None,
) -> TokenLogOddsModel:
    """Fit a Naive-Bayes token log-odds model from a labeled seed corpus
    — the closed-form, aggregation-only stand-in for the fasttext-style
    quality classifiers used by CCNet/RefinedWeb-shaped pipelines
    (reference scope note: mongo-arrow ships no corpus ops at all,
    SURVEY §2.E; this extends the engine's trainer tier).

    For token ``t`` with add-``alpha`` smoothing over the seed vocabulary
    ``V``::

        log_odds(t) = ln((ct_pos(t)+α) / (T_pos+αV))
                    - ln((ct_neg(t)+α) / (T_neg+αV))

    Scale shape: one explode → per-token hash aggregation (map-side
    partial, shuffle ∝ distinct tokens), then one tiny 1-row totals
    action. The model is vocab-sized — a broadcast dimension table, the
    same way a trained linear model's weights ship to executors.
    Deterministic and engine-portable: the battery grades fit+score
    end-to-end against a DuckDB re-derivation.

    A FULL vocabulary grows with the seed (Heaps' law), so at web scale
    the broadcast can outgrow executors: ``max_vocab`` keeps only the
    top-``max_vocab`` tokens by total count (ties → lexicographic, a
    deterministic TakeOrdered cut). Smoothing denominators still use the
    FULL totals — the cut only bounds the table; dropped (now-unseen)
    tokens score the same smoothed default an OOV token does, exactly
    the hashing-trick/fasttext bucket semantics.
    """
    toks = seed.select(
        F.col(label_col).cast("boolean").alias("__pos"),
        F.explode(tokens(text_col)).alias("w"),
    )
    # vocab-sized; persisted so the totals action and the model
    # projection share ONE corpus scan (at 100 TB each re-evaluation
    # would be a full re-scan of the seed)
    agg = toks.groupBy("w").agg(
        F.sum(F.when(F.col("__pos"), 1).otherwise(0)).cast("double").alias("pc"),
        F.sum(F.when(F.col("__pos"), 0).otherwise(1)).cast("double").alias("nc"),
    ).transform(materialize)
    tot = agg.agg(
        F.sum("pc").alias("p"),
        F.sum("nc").alias("n"),
        F.count(F.lit(1)).cast("double").alias("v"),
    ).first()
    p_total = float(tot["p"] or 0.0)
    n_total = float(tot["n"] or 0.0)
    vocab = float(tot["v"] or 0.0)
    p_denom = p_total + alpha * vocab
    n_denom = n_total + alpha * vocab
    cut = agg
    if max_vocab is not None:
        # bound the broadcast: top tokens by evidence mass, fully
        # ordered so the cut is deterministic. Totals above came from
        # the FULL aggregate (cached), so smoothing is unchanged.
        cut = agg.orderBy(
            (F.col("pc") + F.col("nc")).desc(), F.col("w")
        ).limit(int(max_vocab))
    model = cut.select(
        "w",
        (
            F.log((F.col("pc") + F.lit(alpha)) / F.lit(p_denom))
            - F.log((F.col("nc") + F.lit(alpha)) / F.lit(n_denom))
        ).cast("double").alias("log_odds"),
    ).transform(materialize)
    # materialize the MODEL cache and release the intermediate — a fit
    # leaves exactly one cached (vocab-sized) table behind, released by
    # model.unpersist(), instead of leaking one block per fit call
    model.count()
    agg.unpersist()
    default = math.log(alpha / p_denom) - math.log(alpha / n_denom)
    return TokenLogOddsModel(model, default, p_total, n_total, vocab)


def save_token_logodds(model: TokenLogOddsModel, path: str) -> None:
    """Persist a fitted ``TokenLogOddsModel`` as ONE parquet artifact:
    the vocab-sized token table with the scalar parameters riding along
    as schema metadata on ``w`` (the ``build_lsh_index`` discipline —
    metadata survives the parquet round-trip, so a loaded model scores
    bit-for-bit identically without refitting)."""
    meta = {
        "default_log_odds": model.default_log_odds,
        "pos_token_total": model.pos_token_total,
        "neg_token_total": model.neg_token_total,
        "vocab_size": model.vocab_size,
    }
    model.tokens.select(
        F.col("w").alias("w", metadata=meta), "log_odds"
    ).write.mode("overwrite").parquet(path)


def load_token_logodds(spark, path: str) -> TokenLogOddsModel:
    """Load a ``save_token_logodds`` artifact. Fails loudly if the
    parquet at ``path`` doesn't carry the model parameters (i.e. isn't a
    saved model)."""
    df = spark.read.parquet(path)
    meta = df.schema["w"].metadata or {}
    if "default_log_odds" not in meta:
        raise ValueError(
            f"{path} is not a save_token_logodds artifact (missing "
            "model parameters in schema metadata)"
        )
    return TokenLogOddsModel(
        df.select("w", "log_odds"),
        float(meta["default_log_odds"]),
        float(meta["pos_token_total"]),
        float(meta["neg_token_total"]),
        float(meta["vocab_size"]),
    )


def score_token_logodds(
    df: DataFrame,
    model: TokenLogOddsModel,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "nb_logodds",
) -> DataFrame:
    """Score each document as the MEAN log-odds of its tokens under a
    fitted ``TokenLogOddsModel`` (mean, not sum — length-normalized, so
    the score thresholds like a per-token classifier margin). Output:
    ``(id_col, n_tokens, out_col)``.

    Plan: explode → broadcast hash join against the vocab-sized model →
    per-doc aggregation. The explode preserves row locality, so the
    final groupBy partial-aggregates each document to ~1 row map-side;
    the only shuffle is ~1 row per document. Unseen tokens take the
    model's smoothed default."""
    toks = df.select(
        F.col(id_col).alias("__id"), F.explode(tokens(text_col)).alias("w")
    )
    scored = (
        toks.join(F.broadcast(model.tokens), "w", "left")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.avg(
                F.coalesce(F.col("log_odds"), F.lit(model.default_log_odds))
            ).cast("double").alias(out_col),
        )
    )
    # one row per INPUT doc: a zero-token document (NULL text) vanishes
    # in the explode, which would silently drop it from any downstream
    # gate — it gets n_tokens 0 and the smoothed default instead (the
    # same keep-eligible contract the DSIR scorer has)
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(scored, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col(out_col), F.lit(model.default_log_odds))
            .cast("double")
            .alias(out_col),
        )
    )


# ------------------------------------- DSIR-style importance resampling


def _grams(text_col) -> Column:
    """Unigrams + word bigrams of a text column (non-distinct, in order)
    — the hashed feature set of Xie et al. 2023 ("Data Selection for
    Language Models via Importance Resampling"). Bigrams are guarded for
     1-token rows (``F.sequence(1, 0)`` would generate a DESCENDING
    sequence, not an empty one)."""
    return bind(
        tokens(text_col),
        lambda t: F.concat(
            t,
            F.when(
                F.size(t) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - 1),
                    lambda i: F.concat_ws(" ", F.slice(t, i, 2)),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ),
    )


def _md5_bucket(col: Column, buckets: int) -> Column:
    """Deterministic, engine-portable feature bucket: the first 8 hex
    chars of md5 as an integer, mod ``buckets``. Identical in DuckDB as
    ``('0x' || substr(md5(x),1,8))::UBIGINT % buckets`` — which is what
    lets the battery hash-grade the full weighted output (xxhash64 has
    no DuckDB twin)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % F.lit(
        buckets
    )


class BucketRatioModel(NamedTuple):
    """Fitted DSIR bucket-ratio model: a ≤``buckets``-row DataFrame
    ``(b, lr)`` of per-bucket log-likelihood ratios, the smoothed ratio
    for buckets unobserved at fit time, and the bucket count the grams
    must be hashed with at apply time. ``ratios`` is broadcast-sized by
    construction; ``save_bucket_ratios`` / ``load_bucket_ratios``
    round-trip the whole model through one parquet artifact to weight
    future batches without ever rescanning the fit corpora."""

    ratios: "DataFrame"
    default_lr: float
    buckets: int
    alpha: float

    def unpersist(self) -> "BucketRatioModel":
        """Release the cached ratio table (see TokenLogOddsModel)."""
        self.ratios.unpersist()
        return self


def fit_bucket_ratios(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    buckets: int = 4096,
    alpha: float = 1.0,
) -> BucketRatioModel:
    """Fit the DSIR hashed-feature ratio table: per md5 bucket,
    ``ln(p_target[b] / p_raw[b])`` with add-``alpha`` smoothing over
    ``buckets`` buckets (Xie et al. 2023).

    Scale shape: ONE tagged union of the two gram explodes feeding a
    single conditional-sum bucket aggregation — both corpora scan
    concurrently inside one job and the shuffle caps at ``buckets``
    rows after map-side partials, corpus-size independent — plus one
    1-row totals action. Fit ONCE per (raw-distribution, target) pair;
    ``apply_bucket_ratios`` weights any number of later batches against
    the frozen ratios."""
    bucket_of = lambda g: _md5_bucket(g, buckets)  # noqa: E731

    def bucket_grams(frame, is_target):
        return frame.select(F.explode(_grams(text_col)).alias("g")).select(
            bucket_of(F.col("g")).alias("b"),
            F.lit(is_target).alias("__t"),
        )

    # both per-bucket counts come out of ONE aggregation over the tagged
    # union (sums of exact small doubles — bit-identical to the per-side
    # count casts); ≤ buckets rows, persisted so the single totals
    # action materializes the counts the ratio projection then reuses
    counts = (
        bucket_grams(target, True)
        .unionByName(bucket_grams(raw, False))
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("__t"), F.lit(1.0)).otherwise(F.lit(0.0)))
            .cast("double")
            .alias("tc"),
            F.sum(F.when(F.col("__t"), F.lit(0.0)).otherwise(F.lit(1.0)))
            .cast("double")
            .alias("rc"),
        )
        .transform(materialize)
    )
    row = counts.agg(F.sum("tc"), F.sum("rc")).first()
    t_tot = float(row[0] or 0.0)
    r_tot = float(row[1] or 0.0)
    t_denom = t_tot + alpha * buckets
    r_denom = r_tot + alpha * buckets
    ratios = counts.select(
        "b",
        (
            F.log((F.col("tc") + F.lit(alpha)) / F.lit(t_denom))
            - F.log((F.col("rc") + F.lit(alpha)) / F.lit(r_denom))
        ).cast("double").alias("lr"),
    ).transform(materialize)
    # materialize the model cache, release the union intermediate — a
    # fit leaves one ≤buckets-row cached table, freed by
    # model.unpersist()
    ratios.count()
    counts.unpersist()
    default = math.log(alpha / t_denom) - math.log(alpha / r_denom)
    return BucketRatioModel(ratios, default, buckets, alpha)


def save_bucket_ratios(model: BucketRatioModel, path: str) -> None:
    """Persist a fitted ``BucketRatioModel`` (DSIR ratios) as one
    parquet artifact, scalars in schema metadata on ``b``."""
    meta = {
        "default_lr": model.default_lr,
        "buckets": model.buckets,
        "alpha": model.alpha,
    }
    model.ratios.select(
        F.col("b").alias("b", metadata=meta), "lr"
    ).write.mode("overwrite").parquet(path)


def load_bucket_ratios(spark, path: str) -> BucketRatioModel:
    """Load a ``save_bucket_ratios`` artifact; fails loudly on a parquet
    that doesn't carry the model parameters."""
    df = spark.read.parquet(path)
    meta = df.schema["b"].metadata or {}
    if "default_lr" not in meta:
        raise ValueError(
            f"{path} is not a save_bucket_ratios artifact (missing "
            "model parameters in schema metadata)"
        )
    return BucketRatioModel(
        df.select("b", "lr"),
        float(meta["default_lr"]),
        int(meta["buckets"]),
        float(meta["alpha"]),
    )


def apply_bucket_ratios(
    df: DataFrame,
    model: BucketRatioModel,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "log_importance",
) -> DataFrame:
    """Weight a batch against a fitted ``BucketRatioModel``::

        log w(doc) = Σ_{g ∈ grams(doc)} lr[b(g)]

    Buckets never observed at fit time take the model's smoothed
    default. Plan: explode → broadcast join against the buckets-sized
    ratio table → per-doc sum that partial-aggregates to ~1 row/doc
    map-side; the batch is never shuffled whole. Output: ``df`` columns
    + ``out_col`` via an id-keyed join."""
    per_doc = (
        df.select(
            F.col(id_col).alias("__id"), F.explode(_grams(text_col)).alias("g")
        )
        .select("__id", _md5_bucket(F.col("g"), model.buckets).alias("b"))
        .join(F.broadcast(model.ratios), "b", "left")
        .groupBy("__id")
        .agg(
            F.sum(F.coalesce(F.col("lr"), F.lit(model.default_lr)))
            .cast("double")
            .alias(out_col)
        )
    )
    return df.join(
        per_doc.withColumnRenamed("__id", id_col), id_col, "left"
    ).fillna({out_col: 0.0})


def importance_weights(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
    alpha: float = 1.0,
    out_col: str = "log_importance",
) -> DataFrame:
    """DSIR importance weight per raw document: the log-likelihood ratio
    of its hashed n-gram features under the TARGET distribution vs the
    RAW distribution (Xie et al. 2023)::

        log w(doc) = Σ_{g ∈ grams(doc)} ln(p_target[b(g)] / p_raw[b(g)])

    with ``b(g)`` an md5 bucket (``_md5_bucket``) and add-``alpha``
    smoothed bucket probabilities. Documents whose feature profile looks
    more target-like (e.g. Wikipedia-like, target-language) score
    higher; ``importance_resample`` turns the weights into a sampled
    subset. One-shot form of ``fit_bucket_ratios`` +
    ``apply_bucket_ratios`` with ``raw = df`` (so every bucket a gram
    hashes into was observed at fit time and the default never fires);
    use the split form to persist the ratios and weight future batches
    without rescanning the fit corpora."""
    model = fit_bucket_ratios(
        df, target, text_col=text_col, buckets=buckets, alpha=alpha
    )
    return apply_bucket_ratios(
        df, model, id_col=id_col, text_col=text_col, out_col=out_col
    )


def importance_resample(
    df: DataFrame,
    target: DataFrame | None,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
    alpha: float = 1.0,
    seed: str = "dsir",
    temperature: float = 1.0,
    model: BucketRatioModel | None = None,
) -> DataFrame:
    """Sample ``k`` raw documents WITHOUT replacement with probability
    ∝ exp(log_importance / temperature), via the Gumbel-top-k trick:
    key = log w / τ + Gumbel(0,1), take the k largest keys. The Gumbel
    noise is derived from a seeded md5 of the document id, so the draw
    is fully deterministic and replayable in SQL (the battery's DuckDB
    oracle recomputes the identical sample).

    Pass ``model=`` (a prefit ``BucketRatioModel``) to weight against
    frozen ratios instead of refitting from ``target`` — the
    index-once/sample-per-batch shape; ``target`` may then be ``None``.

    Plan: the weights' shuffles + one seeded-hash projection + a
    TakeOrdered top-k — no sort of the full corpus, no extra shuffle
    beyond the weights'. This is the DSIR selection step sized for any
    corpus: at 100 TB the only driver-side object is the k result rows.
    Output adds ``log_importance`` and the sampling key ``__gumbel_key``
    is dropped."""
    if model is not None:
        weighted = apply_bucket_ratios(
            df, model, id_col=id_col, text_col=text_col
        )
    elif target is not None:
        weighted = importance_weights(
            df, target, id_col, text_col, buckets=buckets, alpha=alpha
        )
    else:
        raise ValueError("importance_resample needs target or model")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(seed), F.lit(":"), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(4294967297.0)
    key = F.col("log_importance") / F.lit(float(temperature)) - F.log(
        -F.log(u)
    )
    return (
        weighted.withColumn("__gumbel_key", key)
        .orderBy(F.col("__gumbel_key").desc(), F.col(id_col))
        .limit(int(k))
        .drop("__gumbel_key")
    )
