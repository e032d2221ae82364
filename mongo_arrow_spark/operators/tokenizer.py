"""Distributed BPE tokenizer: fit on the corpus, apply anywhere.

The real thing, not the ``bpe_ish_token_count`` estimate: byte-pair
encoding fit with the classic word-frequency reduction (Sennrich et al.
2016; the fastBPE / subword-nmt training algorithm), applied as an
Arrow-batched column transform.

100 TB posture — why this shape survives scale:

- **Fit** touches the corpus EXACTLY ONCE: one explode → word-count
  aggregation (shuffle ∝ distinct words after map-side partials, not
  corpus bytes). BPE's merge loop doesn't need the corpus at all — pair
  statistics are fully determined by the word-frequency table, which is
  Zipf-bounded and cut to ``max_fit_words`` rows before it is pulled to
  the driver. Corpus size changes the cost of the one scan, nothing
  else; this is exactly how production BPE trainers work (they all fit
  on a word-count dict).
- **Apply** is a per-row projection (Arrow-batched pandas UDF, merge
  table shipped once per worker, per-batch word cache riding Zipf) —
  no shuffle, scales linearly with input splits.

The merge loop itself is deterministic: best pair = highest count, ties
broken by lexicographic pair order, so a refit on the same corpus (or
the test suite's independent reference implementation) reproduces the
model bit-for-bit.

No reference counterpart (mongo-arrow has no tokenizer surface); this
backs the engine's training-data tier — exact token accounting for
``select_token_budget`` / ``pack_sequences`` instead of the whitespace
or ``bpe_ish`` estimates.
"""

from __future__ import annotations

import warnings
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongo_arrow_spark.execution import materialize, spread
from mongo_arrow_spark.operators.text import tokens

END_OF_WORD = "</w>"


class BpeModel(NamedTuple):
    """Fitted BPE merge table.

    ``merges`` is the learned rule list in fit order — rank i's rule
    merges adjacent symbol pair ``merges[i]`` into one symbol. Bounded
    by ``num_merges`` (broadcast-sized by construction). ``save_bpe`` /
    ``load_bpe`` round-trip it through parquet with the fit parameters
    in schema metadata, the ``build_lsh_index`` artifact discipline."""

    merges: tuple  # tuple[tuple[str, str], ...]
    num_merges: int
    max_fit_words: int
    min_pair_count: int

    @property
    def ranks(self) -> dict:
        return {pair: i for i, pair in enumerate(self.merges)}


def _merge_symbols(sym: list, a: str, b: str, ab: str) -> list:
    """Replace every non-overlapping, left-to-right adjacent (a, b)
    symbol pair with the merged symbol — the standard BPE merge step."""
    out, i, n = [], 0, len(sym)
    while i < n:
        if i + 1 < n and sym[i] == a and sym[i + 1] == b:
            out.append(ab)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return out


def fit_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 200,
    max_fit_words: int = 32_768,
    min_pair_count: int = 2,
) -> BpeModel:
    """Fit BPE merges on the corpus's own text.

    One corpus scan builds the word-frequency table (explode →
    count, map-side combined); the top ``max_fit_words`` words by
    (count desc, word asc) — a total order, so the cut is
    deterministic — are pulled to the driver and the classic merge
    loop runs there: count all adjacent symbol pairs weighted by word
    frequency, merge the most frequent (lexicographic tie-break),
    repeat ``num_merges`` times or until the best pair's count drops
    below ``min_pair_count``.

    Words start as character symbols plus a terminal ``</w>`` marker,
    so learned pieces distinguish word-final from word-internal
    occurrences (Sennrich et al. 2016).

    The driver loop is O(num_merges × fit_words × word_len) on a table
    whose size is capped BEFORE collection — corpus scale never
    reaches the driver. When the cap actually truncates the vocabulary
    a warning reports the dropped share (no silent caps).
    """
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    # spread the word-count explode (r14): the split → explode →
    # partial-agg stage inherits the input partitioning
    counts = (
        spread(df.select(F.col(text_col)))
        .select(F.explode(tokens(text_col)).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(materialize)
    )
    top = (
        counts.orderBy(F.col("c").desc(), F.col("w"))
        .limit(int(max_fit_words))
        .collect()
    )
    if len(top) == int(max_fit_words):
        n_distinct = counts.count()
        if n_distinct > len(top):
            warnings.warn(
                f"fit_bpe vocabulary cut: fitting on top {len(top)} of "
                f"{n_distinct} distinct words (raise max_fit_words to "
                "widen)"
            )
    counts.unpersist()

    vocab = {tuple(list(r["w"]) + [END_OF_WORD]): int(r["c"]) for r in top}
    merges: list = []
    for _ in range(int(num_merges)):
        pairs: dict = {}
        for sym, c in vocab.items():
            for p in zip(sym, sym[1:]):
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        best, best_c = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if best_c < int(min_pair_count):
            break
        a, b = best
        ab = a + b
        merges.append(best)
        vocab = {
            tuple(_merge_symbols(list(sym), a, b, ab)): c
            for sym, c in vocab.items()
        }
    return BpeModel(
        merges=tuple(merges),
        num_merges=int(num_merges),
        max_fit_words=int(max_fit_words),
        min_pair_count=int(min_pair_count),
    )


def _encoder(merges):
    """Per-word greedy encoder over a rank table; equivalent to applying
    the merge rules in fit order (each rule cannot re-enable an earlier
    one — merged symbols are created strictly later than every rule that
    could consume them; the test suite pins the equivalence against a
    sequential-application reference)."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode_word(word: str) -> list:
        sym = list(word) + [END_OF_WORD]
        while len(sym) > 1:
            best_rank, best_pair = None, None
            for p in zip(sym, sym[1:]):
                r = ranks.get(p)
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_pair = r, p
            if best_pair is None:
                break
            a, b = best_pair
            sym = _merge_symbols(sym, a, b, a + b)
        return sym

    return encode_word


def bpe_pieces(
    df: DataFrame,
    model: BpeModel,
    text_col: str = "text",
    out_col: str = "pieces",
) -> DataFrame:
    """Tokenize ``text_col`` with a fitted model: one ``array<string>``
    of BPE pieces per document (words encoded independently, pieces
    concatenated in order; every word's final piece ends the ``</w>``
    boundary so the segmentation is losslessly invertible).

    Arrow-batched pandas UDF — the merge table rides the closure (one
    ship per worker, bounded by ``num_merges``); a per-batch word cache
    exploits Zipf (most words in a batch repeat, so the merge loop runs
    once per DISTINCT word per batch). No shuffle; NULL text passes
    through as NULL."""
    enc = _encoder(model.merges)

    @F.pandas_udf("array<string>")
    def encode(s: pd.Series) -> pd.Series:
        cache: dict = {}

        def enc_cached(w: str) -> list:
            got = cache.get(w)
            if got is None:
                got = cache[w] = enc(w)
            return got

        def enc_text(t):
            if t is None:
                return None
            return [p for w in t.split(" ") if w for p in enc_cached(w)]

        return s.map(enc_text)

    return df.withColumn(out_col, encode(F.col(text_col)))


def bpe_token_count(
    df: DataFrame,
    model: BpeModel,
    text_col: str = "text",
    out_col: str = "n_bpe_tokens",
) -> DataFrame:
    """Exact BPE token count per document — the tokenizer-true cost for
    ``select_token_budget`` / ``pack_sequences`` budgets (whitespace
    counts undercount morphology-rich and OOV-heavy text)."""
    pieces = "__bpe_pieces"
    out = bpe_pieces(df, model, text_col=text_col, out_col=pieces)
    return out.withColumn(
        out_col,
        F.when(
            F.col(pieces).isNotNull(), F.size(pieces).cast("long")
        ),
    ).drop(pieces)


def save_bpe(model: BpeModel, spark, path: str) -> None:
    """Persist the merge table as one parquet with the fit parameters in
    schema metadata (rank column), so a loaded model encodes
    bit-for-bit identically without refitting."""
    meta = {
        "num_merges": model.num_merges,
        "max_fit_words": model.max_fit_words,
        "min_pair_count": model.min_pair_count,
    }
    rows = [(i, a, b) for i, (a, b) in enumerate(model.merges)]
    df = spark.createDataFrame(rows, "rank int, left string, right string")
    df.select(
        F.col("rank").alias("rank", metadata=meta), "left", "right"
    ).write.mode("overwrite").parquet(path)


def load_bpe(spark, path: str) -> BpeModel:
    """Load a ``save_bpe`` artifact; fails loudly when the parquet does
    not carry the fit parameters."""
    df = spark.read.parquet(path)
    meta = df.schema["rank"].metadata or {}
    if "num_merges" not in meta:
        raise ValueError(
            f"{path} is not a save_bpe artifact (missing fit parameters "
            "in schema metadata)"
        )
    rows = df.orderBy("rank").collect()  # bounded by num_merges
    return BpeModel(
        merges=tuple((r["left"], r["right"]) for r in rows),
        num_merges=int(meta["num_merges"]),
        max_fit_words=int(meta["max_fit_words"]),
        min_pair_count=int(meta["min_pair_count"]),
    )
