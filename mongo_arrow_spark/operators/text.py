"""Text analysis operators: tokenization, quality scoring, language ID,
fingerprinting.

All pure `pyspark.sql.functions` (JVM-side, whole-stage codegen) — no Python
UDFs anywhere in this module. Per-row cost is O(tokens); there is no shuffle
in any of these, so they scale linearly with input splits — the 100 TB plan
is identical to the 60 kB plan.
"""

from __future__ import annotations

import math
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongo_arrow_spark.execution import materialize

TOKEN_SEP = " "


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (split on single spaces, the corpus contract)."""
    return F.split(col, r" ", -1)


def bind(value: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``value`` ONCE and pass
    it to ``body`` as a lambda variable.

    Catalyst does common-subexpression elimination for ordinary projections,
    but an expression captured inside a higher-order-function lambda is
    re-evaluated on every element — embedding ``tokens(text)`` in a
    per-gram lambda turns an O(tokens) regex split into O(tokens²) work
    per row (measured 4× on shingle construction at sf0.1). Wrapping the
    value in a 1-element array and transforming it binds the result to a
    lambda variable, which IS evaluated once, giving `let x = v in f(x)`
    semantics inside a single Column tree.
    """
    return F.get(F.transform(F.array(value), body), 0)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-flavored token estimate: each word costs 1 + floor(len/4)
    word-pieces. Deterministic, cheap, JVM-side — the shape a tokenizer-cost
    estimator needs at corpus scale."""
    toks = tokens(col)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.lit(1) + (F.length(w) / 4).cast("long"),
    )


def stopword_hits(col: Column | str, stopwords: list[str]) -> Column:
    return F.size(
        F.filter(tokens(col), lambda w: w.isin(*stopwords))
    )


DEFAULT_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality signals: length, token stats, stopword ratio,
    punctuation ratio, mean word length. One narrow projection, no shuffle."""
    t = tokens(text_col)
    n_tok = F.size(t)
    n_chars = F.length(text_col)
    return df.withColumns(
        {
            "n_tokens": n_tok,
            "n_chars_measured": n_chars,
            "mean_word_len": ((n_chars - n_tok + 1) / n_tok).cast("double"),
            "stopword_ratio": (
                stopword_hits(text_col, DEFAULT_STOPWORDS) / n_tok
            ).cast("double"),
            "punct_ratio": (
                F.length(F.regexp_replace(text_col, r"[^\p{Punct}]", "")) / n_chars
            ).cast("double"),
        }
    )


#: Latin-1/Latin-Extended accent folding table for normalize_text —
#: identical in Spark and DuckDB translate(), so normalized digests are
#: engine-portable.
_ACCENT_FROM = "áàâäãåéèêëíìîïóòôöõúùûüýÿçñÁÀÂÄÃÅÉÈÊËÍÌÎÏÓÒÔÖÕÚÙÛÜÝÇÑ"
_ACCENT_TO = "aaaaaaeeeeiiiiooooouuuuyycnAAAAAAEEEEIIIIOOOOOUUUUYCN"


def normalize_text(col: Column | str) -> Column:
    """CCNet-style normalization for dedup keys (Wenzek et al. 2020):
    lowercase → fold accents → map every digit to ``0`` → strip
    punctuation → collapse whitespace → trim. Hash THIS instead of the
    raw text and mirror-site edits (case, dates, serial numbers,
    trailing punctuation) collide into one digest.

    Pure JVM projection (translate + regexp chains, whole-stage
    codegen); every step has the identical DuckDB spelling (Unicode
    category classes — ``\\p{L}``/``\\p{N}`` — exist in both Java regex
    and RE2), so normalized digests stay oracle-gradeable. Letters of
    EVERY script pass through (an ASCII-only keep-class would collapse
    all CJK/Cyrillic/Greek text to one empty digest); NULL passes
    through."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    c = F.translate(c, _ACCENT_FROM.lower(), _ACCENT_TO.lower())
    c = F.regexp_replace(c, r"\p{N}", "0")
    c = F.regexp_replace(c, r"[^\p{L}0 ]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def html_to_text(col: Column | str) -> Column:
    """Crude-but-deterministic HTML → text extraction, entirely
    JVM-side (chained ``regexp_replace`` — no UDF, stays inside
    whole-stage codegen): drop the ``<head>`` block (titles/meta are
    chrome, not prose), ``<script>``/``<style>`` blocks and
    comments, strip all tags to spaces, unescape the six ubiquitous
    entities (``&amp;`` LAST so ``&amp;lt;`` cannot double-unescape),
    collapse whitespace, trim. The first stage of the crawl path
    (WARC payload → text) before language-ID / quality / dedup; the
    patterns avoid backreferences and lookarounds on purpose, so an
    RE2-based oracle (DuckDB) can replay them exactly. Real
    deployments swap in trafilatura-class extractors via mapInPandas;
    this stays portable and testable. Accepts a string column or a
    binary payload column (cast to UTF-8 string first)."""
    x = (col if isinstance(col, Column) else F.col(col)).cast("string")
    # `(\s[^>]*)?>` — NOT `[^>]*>` — so `<head>` cannot also match the
    # HTML5 `<header>` tag and swallow body prose up to a distant
    # stray `</head>` (and likewise script/scripting-style names)
    for pat in (
        r"(?is)<head(\s[^>]*)?>.*?</head\s*>",
        r"(?is)<script(\s[^>]*)?>.*?</script\s*>",
        r"(?is)<style(\s[^>]*)?>.*?</style\s*>",
        r"(?s)<!--.*?-->",
        r"(?s)<[^>]*>",
    ):
        x = F.regexp_replace(x, pat, " ")
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        x = F.replace(x, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(x, r"\s+", " "))


#: Container elements whose entire content is chrome, not prose — the
#: blocks every production extractor (trafilatura/jusText class) drops.
_BOILERPLATE_TAGS = (
    "header", "nav", "aside", "footer", "form",
    "noscript", "iframe", "svg", "button",
)

#: Block-level boundaries that end a text segment for the per-segment
#: length / link-density filter.
_SEGMENT_SPLIT_RE = (
    r"(?i)</(?:p|div|section|article|li|ul|ol|table|tr|td|h[1-6]"
    r"|blockquote)\s*>|<br\s*/?>"
)


def _strip_tags_text(x: Column) -> Column:
    """Tag strip + entity unescape + whitespace collapse — the shared
    tail of both extractors, usable inside higher-order lambdas."""
    t = F.regexp_replace(x, r"(?s)<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def html_main_text(
    col: Column | str,
    min_text_chars: int = 25,
    max_link_density: float = 0.5,
) -> Column:
    """Main-content extraction (r11): :func:`html_to_text` plus the two
    boilerplate moves every production crawl pipeline makes —

    1. **container removal**: ``<header>/<nav>/<aside>/<footer>/<form>/
       <noscript>/<iframe>/<svg>/<button>`` blocks drop whole (chrome,
       not prose). Non-greedy block matches: a same-tag NESTED
       container keeps its tail — the documented regex limit, exactly
       like ``html_to_text``'s head/script handling.
    2. **segment filter** (the jusText/trafilatura-lite line filter):
       the remaining markup splits into segments at block-level
       boundaries (``</p> </div> </li> <h*> <br>`` …); a segment
       survives only if its extracted text has ≥ ``min_text_chars``
       characters AND its link density (fraction of extracted chars
       that came from ``<a>`` elements) is ≤ ``max_link_density`` —
       short and link-dense segments are menus, breadcrumbs, tag
       clouds and "related links" farms.

    Still entirely JVM expressions — the strip chain runs inside
    ``transform``/``filter`` higher-order lambdas, no UDF, and every
    pattern avoids backreferences/lookarounds (RE2-portable, so an
    oracle can replay the construction). Rows with no surviving
    segment yield ``''`` (empty, not NULL)."""
    x = (col if isinstance(col, Column) else F.col(col)).cast("string")
    for pat in (
        r"(?is)<head(\s[^>]*)?>.*?</head\s*>",
        r"(?is)<script(\s[^>]*)?>.*?</script\s*>",
        r"(?is)<style(\s[^>]*)?>.*?</style\s*>",
        r"(?s)<!--.*?-->",
    ):
        x = F.regexp_replace(x, pat, " ")
    for tag in _BOILERPLATE_TAGS:
        x = F.regexp_replace(
            x, rf"(?is)<{tag}(\s[^>]*)?>.*?</{tag}\s*>", " "
        )
    segs = F.split(x, _SEGMENT_SPLIT_RE)
    # per segment: extracted text, and the same with <a> elements
    # removed first — the length delta is the anchor-derived text
    stats = F.transform(
        segs,
        lambda s: F.struct(
            _strip_tags_text(s).alias("t"),
            _strip_tags_text(
                F.regexp_replace(s, r"(?is)<a(\s[^>]*)?>.*?</a\s*>", " ")
            ).alias("na"),
        ),
    )
    kept = F.filter(
        stats,
        lambda st: (F.length(st["t"]) >= F.lit(int(min_text_chars)))
        & (
            (F.length(st["t"]) - F.length(st["na"])).cast("double")
            <= F.lit(float(max_link_density))
            * F.length(st["t"]).cast("double")
        ),
    )
    joined = F.array_join(F.transform(kept, lambda st: st["t"]), " ")
    return F.trim(F.regexp_replace(joined, r"\s+", " "))


def extract_text(
    col: Column | str,
    content_type_col: Column | str | None = None,
    main: bool = False,
    **main_kwargs,
) -> Column:
    """Content-type-routed extraction (r12 verdict #6): the one
    ``when()`` branch in front of the extractors. HTML-ish records go
    through :func:`html_to_text` (or :func:`html_main_text` with
    ``main=True``); ``text/plain`` records pass through VERBATIM —
    tag-stripping prose that merely mentions ``<angle brackets>``
    (code listings, inequalities, email addresses) would corrupt it.

    Routing: a declared ``text/plain`` content type wins (verbatim); a
    declared ``text/html``/XML-ish type wins (extract); with no
    declaration (or an unrecognized one) the payload itself decides —
    anything that looks like markup (``<tag``/``<!--``/``</``)
    extracts, tag-free payloads pass through. Pure JVM expressions;
    NULL content types fall to the payload probe, NULL payloads stay
    NULL through either branch."""
    x = (col if isinstance(col, Column) else F.col(col)).cast("string")
    extracted = (
        html_main_text(x, **main_kwargs) if main else html_to_text(x)
    )
    has_tags = x.rlike(r"<[A-Za-z!/][^>]*>")
    if content_type_col is None:
        return F.when(has_tags, extracted).otherwise(x)
    ct = F.lower(
        F.trim(
            (
                content_type_col
                if isinstance(content_type_col, Column)
                else F.col(content_type_col)
            ).cast("string")
        )
    )
    plain = F.coalesce(ct.startswith("text/plain"), F.lit(False))
    htmlish = F.coalesce(
        ct.startswith("text/html")
        | ct.contains("xhtml")
        | ct.contains("xml"),
        F.lit(False),
    )
    return (
        F.when(plain, x)
        .when(htmlish, extracted)
        .when(has_tags, extracted)
        .otherwise(x)
    )


def fingerprint(col: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    token bag. Robust to token reordering (near-dup canary), exact-joinable.
    """
    return F.md5(
        F.concat_ws(TOKEN_SEP, F.array_sort(F.array_distinct(tokens(col))))
    )


def ngram_array(col: Column | str, n: int = 2) -> Column:
    """All word n-grams of a text (every occurrence, not distinct — the
    frequency-counting sibling of ``dedup.shingles``). Texts shorter than
    ``n`` tokens yield an empty array (strict windows, no short-gram
    fallback — both the Spark form and the SQL oracle agree on this)."""
    return bind(
        tokens(col),
        lambda t: F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - n + 1),
                lambda i: F.array_join(F.slice(t, i, n), TOKEN_SEP),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def top_ngrams(
    df: DataFrame, text_col: str = "text", n: int = 2, k: int = 100
) -> DataFrame:
    """Exact corpus-wide top-k n-gram frequencies: (ngram, freq), ordered
    by freq desc with an ngram tie-break (fully deterministic output —
    oracle-comparable). The standard corpus-analysis primitive behind
    boilerplate detection, contamination screens and stop-shingle tuning
    (it is exactly how a ``max_df`` cap should be chosen: look at the
    head of this table).

    Plan: explode → hash-aggregate with map-side partial combine (a hot
    n-gram is pre-reduced per partition before the shuffle, so skew is
    bounded by partition count, not occurrence count) → global top-k as
    TakeOrdered(k), never a full sort. Shuffle mass is one (ngram,
    partial-count) row per distinct gram per partition.
    """
    grams = df.select(F.explode(ngram_array(text_col, n)).alias("ngram"))
    counts = grams.groupBy("ngram").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    return counts.orderBy(F.col("freq").desc(), F.col("ngram")).limit(k)


def token_distribution(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, n, p): unigram counts and probabilities over a corpus.
    One explode + hash-agg (map-side partial combine); the total is a
    1-row broadcast, never a second scan."""
    counts = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("__total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "token", "n", (F.col("n") / F.col("__total")).cast("double").alias("p")
    )


def corpus_drift(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    k: int = 100,
) -> DataFrame:
    """Token-distribution drift between two corpora: the top-``k`` tokens
    by pointwise Jensen–Shannon contribution (natural log), with both
    probabilities — the standard QA screen before mixing a new snapshot
    into a training corpus (catches template floods, language shifts,
    boilerplate drift long before downstream evals do).

    Pointwise JS term: 0.5·p·ln(p/m) + 0.5·q·ln(q/m), m = (p+q)/2,
    zero-probability sides contribute 0 — always ≥ 0, and summing the
    full (un-truncated) table gives the total JS divergence
    (``js_divergence``). Plan: two token aggs + one full-outer join on
    the token key + TakeOrdered(k); everything shuffles token-count
    rows, never documents.
    """
    P = token_distribution(left, text_col).select(
        "token", F.col("p").alias("p_left")
    )
    Q = token_distribution(right, text_col).select(
        "token", F.col("p").alias("p_right")
    )
    j = (
        P.join(Q, "token", "full_outer")
        .fillna(0.0, ["p_left", "p_right"])
    )
    pl, pr = F.col("p_left"), F.col("p_right")
    m = (pl + pr) / 2
    term = F.lit(0.5) * (
        F.when(pl > 0, pl * F.log(pl / m)).otherwise(F.lit(0.0))
        + F.when(pr > 0, pr * F.log(pr / m)).otherwise(F.lit(0.0))
    )
    return (
        j.withColumn("js_term", term.cast("double"))
        .orderBy(F.col("js_term").desc(), F.col("token"))
        .limit(k)
    )


def js_divergence(
    left: DataFrame, right: DataFrame, text_col: str = "text"
) -> float:
    """Total Jensen–Shannon divergence (nats) between the two corpora's
    unigram distributions — the un-truncated sum of corpus_drift terms.
    Driver-side scalar (one agg row)."""
    full = corpus_drift(left, right, text_col, k=2**31 - 1)
    return float(full.agg(F.sum("js_term")).first()[0] or 0.0)


# Minimal marker lexicons for the n-gram/stopword language-ID heuristic.
# Real deployments swap in fastText-style models via mapInPandas; this stays
# JVM-side and deterministic.
LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "was", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "es": ["el", "la", "los", "que", "es", "una"],
    "fr": ["le", "la", "les", "est", "une", "dans"],
    "zh": ["的", "是", "了", "在", "我", "不"],
}


def tfidf_search(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    scoring: str = "tfidf",
) -> DataFrame:
    """Keyword search: rank documents by Σ tf(t,d)·ln(N/df(t)) over the
    query terms — the engine's answer to MQL's server-only ``$text``
    (SURVEY 2.E text-search row). ``scoring="bm25"`` switches to Lucene's
    published BM25 (k1=1.2, b=0.75, smoothed idf, length-normalized),
    matching the $search stage's option.

    Plan: one pass computes all term document-frequencies (conditional
    counts in a single aggregate → broadcast 1 row; +1 avg-doc-length
    column for bm25), second pass scores each doc map-side and
    TakeOrdereds the top k. No shuffle of the corpus.
    """
    if scoring not in ("tfidf", "bm25"):
        raise ValueError("scoring must be 'tfidf' or 'bm25'")
    toks = tokens(text_col)
    stats = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(
                F.when(F.array_contains(toks, t), F.lit(1)).otherwise(F.lit(0))
            ).alias(f"__df_{i}")
            for i, t in enumerate(terms)
        ],
        F.avg(F.size(toks)).alias("__adl"),
    )
    def term_count(term):
        def pred(w):  # arity-1 closure (2-param lambdas bind (value, index))
            return w == F.lit(term)

        return F.size(F.filter(toks, pred))

    score = None
    for i, t in enumerate(terms):
        tf = term_count(t)
        dfc = F.col(f"__df_{i}")
        if scoring == "bm25":
            tfd = tf.cast("double")
            dl = F.size(toks).cast("double")
            idf = F.log(F.lit(1.0) + (F.col("__n") - dfc + 0.5) / (dfc + 0.5))
            part = F.when(
                dfc > 0,
                idf * tfd * 2.2 / (tfd + 1.2 * (0.25 + 0.75 * dl / F.col("__adl"))),
            ).otherwise(F.lit(0.0))
        else:
            idf = F.log(F.col("__n") / dfc)
            part = F.when(dfc > 0, tf * idf).otherwise(F.lit(0.0))
        score = part if score is None else score + part
    return (
        df.crossJoin(F.broadcast(stats))
        .select(F.col(id_col), F.round(score, 4).alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def lang_id(col: Column | str, markers: dict[str, list[str]] | None = None) -> Column:
    """Predicted language = argmax over marker-word hit counts; 'und' when no
    marker hits. Deterministic tie-break by language code order."""
    markers = markers or LANG_MARKERS
    t = tokens(col)

    def hits_for(words):
        def pred(w):  # single-param closure: keep HOF lambda arity = 1
            return w.isin(*words)

        return F.size(F.filter(t, pred))

    scored = F.array(
        *[
            F.struct(
                hits_for(m).alias("hits"),
                F.lit(code).alias("lang"),
            )
            for code, m in sorted(markers.items(), reverse=True)
        ]
    )
    best = F.array_max(scored)
    return F.when(best.getField("hits") > 0, best.getField("lang")).otherwise(
        F.lit("und")
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int | None = 10_000,
    alpha: float = 0.5,
) -> DataFrame:
    """Corpus-derived unigram language-model score per document: the mean
    log-probability of its tokens under the corpus's own unigram
    distribution — the deterministic stand-in for the CCNet/RefinedWeb
    perplexity filter (docs scoring far below the corpus mean are
    boilerplate/noise; far above are repetitive).

    Model: p(w) = (count(w) + alpha) / (total + alpha·(V+1)), add-alpha
    smoothed over the top-``vocab_size`` vocabulary; out-of-vocabulary
    tokens share one smoothed count. Output: (id, n_tokens, logprob).

    Scale shape: one explode→count aggregation builds the vocabulary
    (partial-aggregated, shuffle ∝ distinct tokens); the top-K cut keeps
    the model broadcast-sized, and scoring joins each token occurrence
    against the broadcast vocab — a map-side hash join, no second
    shuffle of the corpus. A trained KenLM swaps in behind the same
    signature via a pandas UDF.
    """
    spark_total = df.select(
        F.sum(token_count(text_col)).cast("double").alias("t")
    )
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("w")
    )
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("c"))
    if vocab_size is not None:
        counts = counts.orderBy(F.col("c").desc(), F.col("w")).limit(
            int(vocab_size)
        )
    total = spark_total.first()["t"] or 0.0
    v = counts.count()
    denom = total + alpha * (v + 1)
    scored = (
        toks.join(F.broadcast(counts), "w", "left")
        .withColumn(
            "__lp", F.log((F.coalesce(F.col("c"), F.lit(0.0)) + alpha) / denom)
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.avg("__lp").cast("double").alias("logprob"),
        )
    )
    return scored.withColumnRenamed("id", id_col)


def _bigram_pairs(col: Column | str) -> Column:
    """One ``(p, w)`` struct per token of the text: ``w`` is the token,
    ``p`` the previous token (NULL for the first). Built in-row with
    ``zip_with`` over the token array and its NULL-prepended shift — no
    positional explode + self-join, so the per-row cost stays O(tokens)
    and the expression survives whole-stage codegen."""
    return bind(
        tokens(col),
        lambda t: F.zip_with(
            F.concat(
                F.array(F.lit(None).cast("string")),
                F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
            ),
            t,
            lambda p, w: F.struct(p.alias("p"), w.alias("w")),
        ),
    )


class NgramLM(NamedTuple):
    """Fitted bigram stupid-backoff language model.

    ``unigrams`` is the ≤``vocab_size``-row table ``(w, c, ulp)`` —
    raw count plus the add-``alpha`` smoothed unigram log-probability;
    ``bigrams`` the ≤``bigram_size``-row table ``(p, w, blp)`` with
    ``blp = ln(count(p,w) / count(p))``. Both are broadcast-sized by
    construction; persist them (parquet) plus the scalars to score any
    number of later batches without rescanning the fit corpus — the
    same fit-once/apply-many split as ``quality.BucketRatioModel``."""

    unigrams: "DataFrame"
    bigrams: "DataFrame"
    oov_lp: float
    backoff: float
    vocab_size: int
    bigram_size: int
    alpha: float

    def unpersist(self) -> "NgramLM":
        """Release the two cached model tables — teardown for long-lived
        sessions that refit per batch (each fit caches exactly these
        two; without this they live until session end)."""
        self.unigrams.unpersist()
        self.bigrams.unpersist()
        return self


def fit_ngram_lm(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 10_000,
    bigram_size: int = 50_000,
    alpha: float = 0.5,
    backoff: float = 0.4,
) -> NgramLM:
    """Fit a bigram stupid-backoff LM on the corpus's own text — the
    n-gram upgrade of ``unigram_logprob``'s scorer, the deterministic
    stand-in for the CCNet/RefinedWeb KenLM perplexity filter (Wenzek
    et al. 2020 use a 5-gram KenLM; Brants et al. 2007 show stupid
    backoff matches Kneser-Ney at corpus scale, which is exactly the
    regime this engine targets).

    Model: unigram ``p(w) = (c(w)+alpha) / (total + alpha·(V+1))`` over
    the top-``vocab_size`` vocabulary (OOV shares one smoothed count);
    bigram ``p(w|p) = c(p,w)/c(p)`` over the top-``bigram_size``
    in-vocabulary bigrams, falling back to ``backoff · p(w)`` for
    unseen bigrams. Both cuts are fully ordered (count desc, then
    word(s)) so the fitted model is deterministic and oracle-replayable.

    Scale shape: two explode → count aggregations (shuffle ∝ distinct
    grams after map-side partials, not corpus size), each followed by a
    TakeOrdered top-k cut that keeps the model broadcast-sized. Fit
    ONCE; ``score_ngram_lm`` scores any batch against the frozen model.
    """
    toks = df.select(F.explode(tokens(text_col)).alias("w"))
    # distinct-token sized (≪ corpus); persisted so the unigram fit
    # scans the corpus ONCE — total, the vocab cut, and the unigram
    # table all derive from the cached counts instead of re-exploding
    counts = toks.groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    ).transform(materialize)
    # ≤ vocab_size rows, evaluated 4× below (count, two semi-joins,
    # unigrams) — cache the cut itself too
    vocab = counts.orderBy(F.col("c").desc(), F.col("w")).limit(
        int(vocab_size)
    ).transform(materialize)
    # corpus token total == Σ counts — no second corpus scan
    total = float(counts.agg(F.sum("c")).first()[0] or 0.0)
    v = vocab.count()
    denom = total + alpha * (v + 1)
    unigrams = vocab.select(
        "w",
        "c",
        F.log((F.col("c") + F.lit(alpha)) / F.lit(denom))
        .cast("double")
        .alias("ulp"),
    )
    pairs = (
        df.select(F.explode(_bigram_pairs(text_col)).alias("z"))
        .select("z.p", "z.w")
        .where(F.col("p").isNotNull())
    )
    in_vocab = vocab.select("w")
    bi = (
        pairs.join(
            F.broadcast(in_vocab.withColumnRenamed("w", "p")), "p", "left_semi"
        )
        .join(F.broadcast(in_vocab), "w", "left_semi")
        .groupBy("p", "w")
        .agg(F.count(F.lit(1)).cast("double").alias("bc"))
        .orderBy(F.col("bc").desc(), F.col("p"), F.col("w"))
        .limit(int(bigram_size))
    )
    bigrams = bi.join(
        F.broadcast(unigrams.select(F.col("w").alias("p"), F.col("c").alias("pc"))),
        "p",
    ).select(
        "p",
        "w",
        F.log(F.col("bc") / F.col("pc")).cast("double").alias("blp"),
    ).transform(materialize)
    # materialize the two MODEL caches (≤ vocab/bigram rows) and release
    # the fit intermediates — a fit leaves exactly two cached tables
    # behind, freed together by model.unpersist(), instead of leaking
    # one counts + one vocab block per fit call
    unigrams = materialize(unigrams)
    unigrams.count()
    bigrams.count()
    counts.unpersist()
    vocab.unpersist()
    return NgramLM(
        unigrams=unigrams,
        bigrams=bigrams,
        oov_lp=math.log(alpha / denom),
        backoff=backoff,
        vocab_size=int(vocab_size),
        bigram_size=int(bigram_size),
        alpha=alpha,
    )


def save_ngram_lm(model: NgramLM, path: str) -> None:
    """Persist a fitted ``NgramLM`` as one artifact directory:
    ``path/unigrams`` and ``path/bigrams`` parquet, with the scalar
    parameters riding as schema metadata on the unigram ``w`` field
    (the ``build_lsh_index`` discipline — a loaded model scores
    bit-for-bit identically without refitting)."""
    meta = {
        "oov_lp": model.oov_lp,
        "backoff": model.backoff,
        "vocab_size": model.vocab_size,
        "bigram_size": model.bigram_size,
        "alpha": model.alpha,
    }
    model.unigrams.select(
        F.col("w").alias("w", metadata=meta), "c", "ulp"
    ).write.mode("overwrite").parquet(f"{path}/unigrams")
    model.bigrams.write.mode("overwrite").parquet(f"{path}/bigrams")


def load_ngram_lm(spark, path: str) -> NgramLM:
    """Load a ``save_ngram_lm`` artifact; fails loudly when the unigram
    parquet doesn't carry the model parameters."""
    uni = spark.read.parquet(f"{path}/unigrams")
    meta = uni.schema["w"].metadata or {}
    if "oov_lp" not in meta:
        raise ValueError(
            f"{path} is not a save_ngram_lm artifact (missing model "
            "parameters in schema metadata)"
        )
    return NgramLM(
        unigrams=uni.select("w", "c", "ulp"),
        bigrams=spark.read.parquet(f"{path}/bigrams"),
        oov_lp=float(meta["oov_lp"]),
        backoff=float(meta["backoff"]),
        vocab_size=int(meta["vocab_size"]),
        bigram_size=int(meta["bigram_size"]),
        alpha=float(meta["alpha"]),
    )


def score_ngram_lm(
    df: DataFrame,
    model: NgramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "logprob",
) -> DataFrame:
    """Score each document's mean per-token log-probability under a
    fitted ``NgramLM``: the first token scores by its smoothed unigram
    probability; each later token by ``ln c(p,w)/c(p)`` when the bigram
    is in the model, else ``ln(backoff) + unigram``. Documents far below
    the corpus mean are boilerplate/noise; far above are repetitive —
    the usual two-sided CCNet-style gate.

    Plan: the in-row ``(prev, w)`` pairs explode once, then join the
    two broadcast model tables (unigram on ``w``, bigram on
    ``(p, w)``) — map-side hash joins, no corpus shuffle — and
    partial-aggregate back to one ``(id, n_tokens, logprob)`` row per
    document. Output columns: ``(id_col, n_tokens, out_col)``."""
    seq = df.select(
        F.col(id_col).alias("__id"),
        F.explode(_bigram_pairs(text_col)).alias("z"),
    ).select("__id", "z.p", "z.w")
    scored = (
        seq.join(F.broadcast(model.unigrams.select("w", "ulp")), "w", "left")
        .join(F.broadcast(model.bigrams), ["p", "w"], "left")
        .withColumn("__ulp", F.coalesce(F.col("ulp"), F.lit(model.oov_lp)))
        .withColumn(
            "__lp",
            F.when(F.col("p").isNull(), F.col("__ulp"))
            .when(F.col("blp").isNotNull(), F.col("blp"))
            .otherwise(F.lit(math.log(model.backoff)) + F.col("__ulp")),
        )
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.avg("__lp").cast("double").alias(out_col),
        )
    )
    # one row per INPUT doc: a zero-token (NULL-text) document vanishes
    # in the explode — it gets n_tokens 0 and the OOV log-probability so
    # downstream gates decide by threshold instead of silently dropping
    # it (same contract as quality.score_token_logodds)
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(scored, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col(out_col), F.lit(model.oov_lp))
            .cast("double")
            .alias(out_col),
        )
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 10_000,
    bigram_size: int = 50_000,
    alpha: float = 0.5,
    backoff: float = 0.4,
) -> DataFrame:
    """One-shot convenience: fit the bigram stupid-backoff LM on ``df``
    and score ``df`` against it (self-scoring, the corpus-quality use).
    For the fit-once/score-many split keep the ``NgramLM`` from
    ``fit_ngram_lm`` and call ``score_ngram_lm`` per batch."""
    model = fit_ngram_lm(
        df,
        text_col=text_col,
        vocab_size=vocab_size,
        bigram_size=bigram_size,
        alpha=alpha,
        backoff=backoff,
    )
    return score_ngram_lm(
        df, model, id_col=id_col, text_col=text_col
    )


def perplexity_buckets(
    df: DataFrame,
    score_col: str = "logprob",
    by: str | list[str] | None = None,
    fractions: tuple = (1 / 3, 2 / 3),
    labels: tuple = ("tail", "middle", "head"),
    out_col: str = "ppl_bucket",
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): split a
    scored corpus into head/middle/tail tiers by per-group score
    quantiles — the published recipe computes per-LANGUAGE perplexity
    terciles and keeps/weights tiers differently downstream.

    ``fractions`` are the quantile cut points over ``score_col`` (mean
    log-probability: HIGHER = more fluent, so the top tier is the last
    label); ``labels`` has one more entry than ``fractions``. A row at
    exactly a threshold takes the LOWER tier (strict ``>`` promotes).

    Plan: one groupBy(``by``) percentile aggregation (thresholds — one
    row per group, broadcast back), then a pure projection. With
    ``exact=True`` the thresholds come from Spark's exact ``percentile``
    (sort-based within the agg, engine-identical to DuckDB's
    ``quantile_cont`` — what makes the battery entry hash-gradeable);
    ``exact=False`` switches to ``percentile_approx(accuracy)`` — the
    100 TB path, one bounded-sketch pass, same plan shape.
    """
    by = [by] if isinstance(by, str) else list(by or [])
    fr = [float(f) for f in fractions]
    if len(labels) != len(fr) + 1:
        raise ValueError("labels must have len(fractions) + 1 entries")
    if sorted(fr) != fr:
        raise ValueError("fractions must be ascending")
    arr = "array(" + ", ".join(repr(f) for f in fr) + ")"
    fn = (
        f"percentile({score_col}, {arr})"
        if exact
        else f"percentile_approx({score_col}, {arr}, {int(accuracy)})"
    )
    th = df.groupBy(*by).agg(F.expr(fn).alias("__th"))
    if by:
        # null-safe group join: a NULL group key is a real group (its
        # threshold IS computed above) — a plain equi-join would drop
        # every NULL-keyed row instead of bucketing it
        th = th.select(
            *[F.col(k).alias(f"__g_{k}") for k in by], "__th"
        )
        cond = None
        for k in by:
            eq = F.col(k).eqNullSafe(F.col(f"__g_{k}"))
            cond = eq if cond is None else (cond & eq)
        joined = df.join(F.broadcast(th), cond)
    else:
        joined = df.crossJoin(F.broadcast(th))
    bucket = F.lit(labels[0])
    for i in range(len(fr)):
        bucket = F.when(
            F.col(score_col) > F.col("__th")[i], F.lit(labels[i + 1])
        ).otherwise(bucket)
    return joined.select(*df.columns, bucket.alias(out_col))


def tag_keywords(
    df: DataFrame,
    taxonomy: dict[str, list[str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Taxonomy tagging: label each document with every category whose
    keyword set intersects its token set — the broadcast-lexicon domain
    classifier every corpus-curation pipeline runs before mix balancing
    (a trained classifier swaps in behind the same output contract).

    The taxonomy is compiled into the plan as literal arrays (broadcast
    by construction); matching is one ``array_intersect`` per category on
    the distinct-token array, all inside whole-stage codegen — map-only,
    no shuffle, no Python. Output: (id, labels array<string>, n_labels),
    labels in taxonomy-insertion order.
    """
    toks = F.array_distinct(tokens(text_col))

    def hit(terms):
        return F.size(
            F.array_intersect(F.col("__t"), F.array(*[F.lit(t) for t in terms]))
        ) > 0

    labels = F.filter(
        F.array(
            *[
                F.when(hit(terms), F.lit(label)).otherwise(F.lit(None))
                for label, terms in taxonomy.items()
            ]
        ),
        lambda x: x.isNotNull(),
    )
    return (
        df.select(F.col(id_col), toks.alias("__t"))
        .select(
            id_col,
            labels.alias("labels"),
            F.size(labels).cast("long").alias("n_labels"),
        )
    )


def split_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = r"\n{2,}",
    keep_blank: bool = False,
) -> DataFrame:
    """Explode documents into ordered segments (paragraphs / lines):
    one row per segment as ``(__id, __pos, __seg)``.

    Building block for corpus-level segment operators
    (``dedup.dedup_paragraphs``; note ``quality.strip_boilerplate_lines``
    deliberately does NOT use it — its filter is a row-local HOF with a
    zero-shuffle plan, no explode).
    Whitespace-only segments (split artifacts from leading/trailing or
    repeated separators) are dropped unless ``keep_blank=True``. Rows
    whose text is NULL produce no segments — callers that must preserve
    such documents rejoin on the original frame
    (``reassemble_segments`` does).
    """
    out = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__seg"),
    )
    if not keep_blank:
        out = out.filter(F.trim(F.col("__seg")) != "")
    return out


def reassemble_segments(
    df: DataFrame,
    kept: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    join_sep: str = "\n\n",
    drop_empty: bool = True,
) -> DataFrame:
    """Rebuild documents from surviving ``(__id, __pos, __seg)`` rows:
    segments re-join in original order under ``join_sep``; every other
    column of ``df`` passes through untouched.

    ``drop_empty=True`` removes documents with no surviving segment
    (and NULL-text documents, which never had one); ``drop_empty=False``
    keeps them with ``""`` — except NULL text, which stays NULL
    (explode produced no rows, so the left join preserves the original).

    Plan: one groupBy-``__id`` shuffle carrying only surviving segment
    payloads, then an id-keyed join back to the original frame — the
    full document text is never shuffled, only what survived.
    """
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__seg"))),
                lambda s: s["__seg"],
            ),
            join_sep,
        ).alias("__new_text")
    )
    out = df.join(rebuilt, F.col(id_col) == F.col("__id"), "left").drop("__id")
    if drop_empty:
        out = out.filter(F.col("__new_text").isNotNull())
        return out.withColumn(text_col, F.col("__new_text")).drop("__new_text")
    return out.withColumn(
        text_col,
        F.coalesce(
            F.col("__new_text"),
            F.when(F.col(text_col).isNotNull(), F.lit("")),
        ),
    ).drop("__new_text")


def ngram_novelty(
    df: DataFrame,
    reference: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_text_col: str | None = None,
) -> DataFrame:
    """Per-document n-gram novelty against a reference corpus: of the
    document's DISTINCT word n-grams, how many (and what fraction) the
    reference has never seen. High novelty separates fresh content from
    recombinations of the corpus it will train beside; near-zero novelty
    flags paraphrase-level duplication that exact/MinHash dedup misses
    and memorization-risk passages — the soft sibling of the hard
    ``decontaminate`` gate (which DROPS above an overlap threshold,
    where this SCORES and leaves the cut to the caller).

    Returns one row per input document: ``(id, n_ngrams, n_unseen,
    novelty)`` — ``novelty = n_unseen / n_ngrams``, NULL when the text
    has no n-grams (shorter than ``n`` tokens, or NULL). Documents that
    explode to zero n-grams are re-joined, never dropped.

    Plan: reference distinct grams build once (explode → partial-agg
    distinct); doc grams LEFT-join them on the gram string (exact — at
    100 TB pre-hash both sides to ``xxhash64`` 8-byte keys to shrink
    the shuffle; a collision marks one novel gram seen, bias ~2⁻⁶⁴ per
    pair) and reduce per doc. Skewed hot grams pre-reduce map-side via
    the distinct's partial aggregation.
    """
    ref_t = ref_text_col or text_col
    ref = (
        reference.select(F.explode(ngram_array(ref_t, n)).alias("__g"))
        .distinct()
        .withColumn("__seen", F.lit(1))
    )
    grams = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(ngram_array(text_col, n))).alias("__g"),
    )
    per_doc = (
        grams.join(ref, "__g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ngrams"),
            F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unseen"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_ngrams", F.lit(0)).cast("long").alias("n_ngrams"),
            F.coalesce("n_unseen", F.lit(0)).cast("long").alias("n_unseen"),
        )
        .withColumn(
            "novelty",
            F.when(
                F.col("n_ngrams") > 0,
                (F.round(F.col("n_unseen") / F.col("n_ngrams"), 6) + 0.0),
            ),
        )
    )


def html_meta(col: Column | str) -> Column:
    """Page-metadata struct from raw HTML (r14) — ``title``,
    ``description`` (``<meta name=description>``), ``og_title`` /
    ``og_description`` (OpenGraph), ``lang`` (``<html lang=…>``,
    case-folded): the columns crawl curation keys quality scoring and
    language routing on before any full-text extraction is paid for.

    Entirely JVM expressions — one anchored ``regexp_extract`` per
    field, map-only, no UDF, no shuffle. The attribute patterns follow
    the url.py ``canonical_target`` discipline: a boundary before the
    attribute name (``data-name=``/``og:title-ish`` lookalikes must
    not match), PAIRED quotes via a backreference (the documented
    Java-only deviation from the module's RE2-portable rule — no
    oracle replays these regexes; fixtures state expected values
    closed-form), and both attribute orders for the name/content
    pairs. First match wins throughout (the HTML-spec reading for
    title/base-like singletons). Titles collapse internal whitespace;
    empty values are NULL; NULL html yields a NULL struct.

    Reference parity note: the reference connector has no HTML
    surface (pymongoarrow/api.py delegates string work to mongod);
    this exists for the training-data-pipeline goal, next to
    extract_text/langid."""
    x = (col if isinstance(col, Column) else F.col(col)).cast("string")

    def _nz(c: Column) -> Column:
        return F.nullif(F.trim(c), F.lit(""))

    title = _nz(
        F.regexp_replace(
            F.regexp_extract(x, r"(?is)<title[^>]*>(.*?)</title", 1),
            r"\s+",
            " ",
        )
    )

    def _pair(key_attr: str, key_val: str) -> Column:
        # <meta KEY=VAL ... content=C> in either attribute order. In
        # the content-FIRST form the value is bounded to [^<>] — with
        # a trailing key constraint, an unbounded (.*?) value can
        # backtrack ACROSS the closing '>' and glue two meta tags
        # together (a description meta swallowing the og tag after
        # it); angle brackets inside attribute values are the rare
        # loss, cross-tag gluing the common corruption.
        a = F.regexp_extract(
            x,
            rf"(?is)<meta\s(?:[^>]*?[\s'\"])?{key_attr}\s*=\s*(['\"]){key_val}\1"
            rf"[^>]*?[\s'\"]content\s*=\s*(['\"])(.*?)\2",
            3,
        )
        b = F.regexp_extract(
            x,
            rf"(?is)<meta\s(?:[^>]*?[\s'\"])?content\s*=\s*(['\"])([^<>]*?)\1"
            rf"[^>]*?[\s'\"]{key_attr}\s*=\s*(['\"]){key_val}\3",
            2,
        )
        return _nz(F.when(a != F.lit(""), a).otherwise(b))

    lang = _nz(
        F.lower(
            F.regexp_extract(
                x,
                r"(?is)<html\s(?:[^>]*?[\s'\"])?lang\s*=\s*(['\"])(.*?)\1",
                2,
            )
        )
    )
    meta = F.struct(
        title.alias("title"),
        _pair("name", "description").alias("description"),
        _pair("property", "og:title").alias("og_title"),
        _pair("property", "og:description").alias("og_description"),
        lang.alias("lang"),
    )
    return F.when(x.isNotNull(), meta)
