"""Extension-operator queries: dedup, similarity, text analysis, multimodal.

Each wraps an operator from mongo_arrow_spark.operators with a DuckDB
oracle where the algorithm is SQL-expressible; hash-dependent ops
(xxhash64 minhash/simhash) are rows-only checks, as the driver contract
allows for non-SQL-expressible operators.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mongo_arrow_spark.execution import materialize, spread
from mongo_arrow_spark.operators import dedup, multimodal, packing, profile, quality, similarity, text
from mongo_arrow_spark.queries import _t, query

_TOKS = "string_split(text, ' ')"


@query(
    "dedup_exact",
    """
    SELECT md5(text) AS digest, CAST(COUNT(*) AS BIGINT) AS n_copies,
           MIN(doc_id) AS keep_id
    FROM documents GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: 16-byte digest shuffle, min-id survivor policy."""
    return dedup.exact_dedup_stats(_t(spark, sf_dir, "documents"))


#: Skew cap for the graded near-dup query: shingles present in more docs
#: than this are stop-shingles — their posting lists would self-join
#: quadratically at corpus scale. The oracle applies the identical cap.
#:
#: SCALE CONTRACT (pinned by tests/test_battery.py::
#: test_graded_jaccard_cap_is_absolute_and_pinned — no silent drift):
#: this must stay an ABSOLUTE int ≤ 100. Measured head-to-head at 10×
#: (SCALE.md "max_df forms, measured"): the absolute cap bounds the
#: posting join's per-shingle cost (exp 1.00 = output-bound) at a recall
#: cost, while the fractional form is the superlinear one (exp 1.21).
#: The *scale path* for near-dup dedup is MinHash-LSH (exp 0.54,
#: dedup_minhash_lsh) with the exact posting join reserved for
#: post-banding verification; this entry stays graded because DuckDB can
#: hash-grade the exact form but not MinHash.
_JACCARD_MAX_DF = 100


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
          range(1, greatest(len({_TOKS}) - 1, 2)),
          i -> array_to_string({_TOKS}[i:i+2], ' ')))) AS s
      FROM documents
    ),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
    hot AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) > {_JACCARD_MAX_DF}),
    posts AS (SELECT * FROM sh ANTI JOIN hot USING (s)),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS i
      FROM posts a JOIN posts b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, ROUND(i * 1.0 / (sa.sz + sb.sz - i), 4) AS jaccard
    FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
    WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.3
    """,
)
def q_dedup_jaccard(spark, sf_dir):
    """3-gram Jaccard near-dup pairs at θ=0.3 via the inverted shingle
    index — graded WITH the max_df skew cap engaged, so the plan the
    driver times is the one that survives a stop-shingle at 100 TB
    (set sizes stay exact; only posting lists are capped)."""
    pairs = dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.3, max_df=_JACCARD_MAX_DF
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


@query(
    "dedup_banded_jaccard",
    f"""
    WITH sh AS (
      SELECT doc_id, list_distinct(list_transform(
          range(1, greatest(len({_TOKS}) - 1, 2)),
          i -> array_to_string({_TOKS}[i:i+2], ' '))) AS grams
      FROM documents
    ),
    sigs AS (
      SELECT doc_id, b,
             MIN(md5(CAST(2*b AS VARCHAR) || ':' || g))
               || MIN(md5(CAST(2*b+1 AS VARCHAR) || ':' || g)) AS sig
      FROM sh, unnest(grams) AS t(g), range(16) AS r(b)
      GROUP BY doc_id, b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sigs a JOIN sigs b
        ON a.b = b.b AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT id_a, id_b,
             len(list_intersect(sa.grams, sb.grams)) * 1.0
               / (len(sa.grams) + len(sb.grams)
                  - len(list_intersect(sa.grams, sb.grams))) AS j
      FROM cand JOIN sh sa ON id_a = sa.doc_id JOIN sh sb ON id_b = sb.doc_id
    )
    SELECT id_a, id_b, ROUND(j, 4) AS jaccard FROM scored WHERE j >= 0.3
    """,
)
def q_dedup_banded_jaccard(spark, sf_dir):
    """r7 graded near-dup representative: md5-banded MinHash candidate
    buckets + exact array-intersect verification. Unlike the posting
    self-join it replaces in the window (dedup_ngram_jaccard, now
    parked), the shuffle here is 16 rows per document regardless of
    shingle document frequency — no Σdf² term, no stop-shingle cap dial
    — while staying fully DuckDB-reproducible (md5 + string MIN are
    engine-identical), so the driver hash-grades the complete output."""
    pairs = dedup.banded_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.3, bands=16
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


@query("dedup_minhash_lsh")  # rows-only: xxhash64 minhashes aren't in DuckDB
def q_dedup_minhash(spark, sf_dir):
    """MinHash(64) + 16-band LSH candidate pairs at est-Jaccard ≥ 0.3 —
    the scale path replacing the exact posting join."""
    return dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), num_hashes=64, bands=16, threshold=0.3
    )


@query("neardup_ingest_gate")  # rows-only: xxhash64 minhashes aren't in DuckDB
def q_neardup_ingest_gate(spark, sf_dir):
    """Incremental near-dup ingest gate (r6): even doc_ids are the
    standing corpus folded into a persistable MinHash-LSH index
    (build_lsh_index — signatures + band keys, ~0.6 KB/doc); odd doc_ids
    are the incoming batch probed against it (probe_neardup — band
    equi-join, no corpus rescan). Replay-oracle verified in
    tests/test_no_oracle_hardening.py::test_neardup_gate_replay_oracle
    (full python recomputation of signatures, banding and estimates)."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    # the index is an ARTIFACT — in production it is parquet on disk; the
    # probe references it twice (band keys + signature join), so an
    # unmaterialized index recomputes corpus signatures per reference
    idx = materialize(dedup.build_lsh_index(corpus))
    return (
        dedup.probe_neardup(batch, idx, threshold=0.3)
        .select(
            "doc_id",
            "neardup",
            "neardup_matches",
            "neardup_best_id",
            F.round("neardup_best_est", 6).alias("neardup_best_est"),
        )
        .orderBy("doc_id")
    )


@query("dedup_simhash")  # rows-only: bit-level xxhash64 packing
def q_dedup_simhash(spark, sf_dir):
    """60-bit SimHash, 4 bands, hamming<=3 — at sf0.01 this recovers
    exactly the 25 pairs the exact-Jaccard oracle confirms (tuned against
    that ground truth; 32-bit variants drown in random collisions)."""
    return dedup.simhash_pairs(
        _t(spark, sf_dir, "documents"), bits=60, bands=4, max_hamming=3
    )


@query(
    "text_quality",
    f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           ROUND((length(text) - len({_TOKS}) + 1) * 1.0 / len({_TOKS}), 4) AS mean_word_len,
           ROUND(len(list_filter({_TOKS},
                 w -> w IN ('the','a','of','and','to','in','is','it'))) * 1.0
                 / len({_TOKS}), 4) AS stopword_ratio,
           md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fp
    FROM documents
    """,
)
def q_text_quality(spark, sf_dir):
    """Quality metrics + content fingerprint in one per-document pass
    (both operators covered by one oracle-backed battery slot)."""
    m = text.quality_metrics(_t(spark, sf_dir, "documents"))
    return m.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("mean_word_len", 4).alias("mean_word_len"),
        F.round("stopword_ratio", 4).alias("stopword_ratio"),
        text.fingerprint("text").alias("fp"),
    )


_SQL_PRED_LANG = (
    "CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END"
)
# same argmax (max hits, tie-break max lang code) in both engines
_SQL_BEST = (
    "(SELECT list_sort([struct_pack(hits := len(list_filter(string_split(text, ' '), w -> w IN ('the', 'and', 'of', 'is', 'was', 'that'))), lang := 'en'), struct_pack(hits := len(list_filter(string_split(text, ' '), w -> w IN ('der', 'die', 'das', 'und', 'ist', 'nicht'))), lang := 'de'), struct_pack(hits := len(list_filter(string_split(text, ' '), w -> w IN ('el', 'la', 'los', 'que', 'es', 'una'))), lang := 'es'), struct_pack(hits := len(list_filter(string_split(text, ' '), w -> w IN ('le', 'la', 'les', 'est', 'une', 'dans'))), lang := 'fr'), struct_pack(hits := len(list_filter(string_split(text, ' '), w -> w IN ('\u7684', '\u662f', '\u4e86', '\u5728', '\u6211', '\u4e0d'))), lang := 'zh')])[-1] AS best, * FROM documents)"
)


@query(
    "text_token_stats",
    f"""
    SELECT lang, {_SQL_PRED_LANG} AS pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens,
           CAST(SUM(list_sum(list_transform({_TOKS},
                w -> 1 + CAST(floor(length(w) / 4.0) AS BIGINT)))) AS BIGINT) AS bpe_ish_tokens
    FROM {_SQL_BEST} GROUP BY lang, pred_lang
    """,
)
def q_text_token_stats(spark, sf_dir):
    """Token counting + language-ID in one grouped pass: group by the
    corpus `lang` label crossed with the n-gram-heuristic prediction
    (one battery slot covers both operators; off-diagonal rows are the
    heuristic's confusion cells)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy(
        "lang", text.lang_id("text").alias("pred_lang")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(text.token_count("text")).cast("long").alias("total_tokens"),
        F.sum(text.bpe_ish_token_count("text")).cast("long").alias("bpe_ish_tokens"),
    )


@query(
    "text_top_ngrams",
    f"""
    WITH g AS (
      SELECT unnest(list_transform(
          range(1, greatest(len({_TOKS}) - 1, 0) + 1),
          i -> array_to_string({_TOKS}[i:i+1], ' '))) AS ngram
      FROM documents
    )
    SELECT ngram, CAST(COUNT(*) AS BIGINT) AS freq
    FROM g GROUP BY ngram
    ORDER BY freq DESC, ngram LIMIT 50
    """,
)
def q_text_top_ngrams(spark, sf_dir):
    """Exact corpus-wide top-50 bigram frequencies (r6) — the corpus
    analysis primitive behind boilerplate detection and max_df tuning.
    Deterministic (freq desc, ngram tie-break); plan: map-side partial
    agg + TakeOrdered, no full sort."""
    return text.top_ngrams(_t(spark, sf_dir, "documents"), n=2, k=50)


@query(
    "sim_bruteforce_topk",
    """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_sum(list_transform(list_zip(embedding, qv),
                     p -> CAST(struct_extract(p, 1) AS DOUBLE) * CAST(struct_extract(p, 2) AS DOUBLE)))
             / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
           AS score
    FROM embeddings, q
    ORDER BY score DESC, vec_id LIMIT 10
    """,
)
def q_sim_bruteforce(spark, sf_dir):
    """Brute-force cosine top-k (query = vector 0): scan → codegen dot
    product → TakeOrdered(k). The one collect is the single query vector."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = similarity.cosine_topk(emb, list(qvec), k=10)
    return out.select("vec_id", F.round("score", 4).alias("score"))


@query("sim_topk_lsh")  # rows-only: approx — candidate set is seed-dependent
def q_sim_lsh(spark, sf_dir):
    """16-bit sign-bucket LSH, hamming<=6 probe: scores ~23% of the corpus
    (sum C(16,i)/2^16, i<=6) for ~0.6 recall@10 on the random-vector test
    embeddings — recall floor pinned in tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return similarity.cosine_topk_lsh(
        emb, list(qvec), k=10, bits=16, max_hamming=6
    ).select("vec_id", F.round("score", 4).alias("score"))


@query(
    "sim_knn_join",
    """
    SELECT lid, rid,
           ROUND(score, 4) AS score, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT a.vec_id AS lid, b.vec_id AS rid,
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
                 p -> CAST(struct_extract(p, 1) AS DOUBLE) * CAST(struct_extract(p, 2) AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS score,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                 list_sum(list_transform(list_zip(a.embedding, b.embedding),
                     p -> CAST(struct_extract(p, 1) AS DOUBLE) * CAST(struct_extract(p, 2) AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
                 b.vec_id) AS rank
      FROM embeddings a, embeddings b
      WHERE a.vec_id < 20
    ) WHERE rank <= 3
    """,
)
def q_sim_knn_join(spark, sf_dir):
    """Brute-force kNN join (20 query rows × all): cross join + per-query
    window top-k. Production path broadcasts the query side."""
    emb = _t(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") < 20)
    out = similarity.knn_join(left, emb, k=3)
    return out.select(
        "lid", "rid", F.round("score", 4).alias("score"), F.col("rank").cast("long")
    )


@query(
    "embedding_stats",
    """
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS avg_norm
    FROM embeddings GROUP BY label
    """,
)
def q_embedding_stats(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg(similarity.norm(F.col("embedding"))), 4).alias("avg_norm"),
    )


@query("embedding_neardup")  # rows-only: threshold near boundary on floats
def q_embedding_neardup(spark, sf_dir):
    """Cosine near-dup pairs at θ=0.45 — the test embeddings are random
    64-dim vectors (pairwise cosine ~N(0, 1/8), max ≈ 0.5), so a
    realistic 0.9 threshold never fires; 0.45 keeps the entry exercising
    real pairs at every SF. Exactness vs the O(n²) path and bucketed
    recall are pinned in test_no_oracle_hardening."""
    return dedup.embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.45
    ).select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


@query(
    "multimodal_payload_stats",
    """
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256,
           'application/octet-stream' AS mime
    FROM documents
    """,
)
def q_multimodal_stats(spark, sf_dir):
    """Binary-column plumbing (reference Binary subtype model): payload
    size + digest before any decode."""
    media = multimodal.attach_payload(_t(spark, sf_dir, "documents"))
    return multimodal.payload_stats(media)


@query(
    "multimodal_decode",
    """
    SELECT doc_id AS media_id,
           CAST(CASE doc_id % 5
                WHEN 0 THEN 45 WHEN 1 THEN 14 WHEN 2 THEN 54 WHEN 3 THEN 41
                ELSE 44 + (octet_length(encode(text)) % 1000 + 100) * 2
           END AS BIGINT) AS n_bytes,
           CAST(CASE WHEN doc_id % 5 = 4 THEN NULL
                ELSE doc_id % 640 + 1 END AS INT) AS width,
           CAST(CASE WHEN doc_id % 5 = 4 THEN NULL
                ELSE (doc_id * 7) % 480 + 1 END AS INT) AS height,
           CAST(CASE WHEN doc_id % 5 = 4
                THEN (octet_length(encode(text)) % 1000 + 100) * 125
                ELSE NULL END AS BIGINT) AS duration_us
    FROM documents
    """,
)
def q_multimodal_decode(spark, sf_dir):
    """r7: REAL media decode end-to-end — synthesize_media builds valid
    PNG/GIF/BMP/JPEG/WAV payloads (struct-packed headers, stdlib only)
    whose fields are formulas of the row, and decode_media(use_fake=False)
    parses them back via the pure-Python header readers. The oracle
    recomputes the same fields from the formulas, so a hash match proves
    the Arrow-batched decode inverts actual format headers (dimensions
    for the four image formats, RIFF duration for WAV). The deterministic
    fake codec stays for unit tests of unsupported mimes."""
    media = multimodal.synthesize_media(_t(spark, sf_dir, "documents"))
    dec = multimodal.decode_media(media, use_fake=False)
    return dec.select(
        "media_id",
        "n_bytes",
        "width",
        "height",
        F.round(F.col("duration_s") * 1e6).cast("long").alias("duration_us"),
    )


# ----------------------------------------------------------- round-2 corpus ops


@query(
    "text_repetition",
    f"""
    WITH base AS (
      SELECT doc_id, {_TOKS} AS toks, length(text) AS nch FROM documents
    ),
    grams AS (
      SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
      FROM base, unnest(range(1, greatest(len(toks), 2))) AS t(i)
    ),
    topg AS (
      SELECT doc_id,
             max(struct_pack(c := c, glen := CAST(length(g) AS BIGINT))) AS tp
      FROM (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
            FROM grams GROUP BY doc_id, g)
      GROUP BY doc_id
    )
    SELECT b.doc_id, CAST(len(b.toks) AS BIGINT) AS n_tokens,
           ROUND(1.0 - len(list_distinct(b.toks)) * 1.0 / len(b.toks), 4)
             AS dup_token_fraction,
           t.tp.c AS max_ngram_count,
           ROUND(t.tp.c * t.tp.glen * 1.0 / b.nch, 4) AS top_ngram_char_fraction
    FROM base b JOIN topg t USING (doc_id)
    """,
)
def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition metrics: dup-token fraction + top-bigram
    char coverage (the published drop rule is top-2-gram > 0.20)."""
    rep = quality.repetition_metrics(_t(spark, sf_dir, "documents"))
    return rep.select(
        "doc_id",
        "n_tokens",
        F.round("dup_token_fraction", 4).alias("dup_token_fraction"),
        "max_ngram_count",
        F.round("top_ngram_char_fraction", 4).alias("top_ngram_char_fraction"),
    )


@query(
    "dedup_components",
    f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, list_distinct(list_transform(
          range(1, greatest(len({_TOKS}) - 1, 2)),
          i -> array_to_string({_TOKS}[i:i+2], ' '))) AS grams
      FROM documents
    ),
    sigs AS (
      SELECT doc_id, b,
             MIN(md5(CAST(2*b AS VARCHAR) || ':' || g))
               || MIN(md5(CAST(2*b+1 AS VARCHAR) || ':' || g)) AS sig
      FROM sh, unnest(grams) AS t(g), range(16) AS r(b)
      GROUP BY doc_id, b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sigs a JOIN sigs b
        ON a.b = b.b AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM cand JOIN sh sa ON id_a = sa.doc_id JOIN sh sb ON id_b = sb.doc_id
      WHERE len(list_intersect(sa.grams, sb.grams)) * 1.0
            / (len(sa.grams) + len(sb.grams)
               - len(list_intersect(sa.grams, sb.grams))) >= 0.3
    ),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT src AS v, src AS r FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.v
    )
    SELECT v AS id, MIN(r) AS component FROM reach GROUP BY v
    """,
)
def q_dedup_components(spark, sf_dir):
    """Near-dup clusters: candidate pairs → connected components
    (min-label propagation + pointer jumping). The step after pair
    generation in every real dedup pipeline; oracle = recursive-CTE
    reachability. r8: candidates come from the scale-safe BANDED
    generator (the r8 full-window sweep measured the posting-join form
    at exp 0.98 at ×10 — near-linear on the denser replica — vs the
    banded family's 0.19-0.65; the posting form stays pinned by the
    parked dedup_ngram_jaccard oracle)."""
    pairs = dedup.banded_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.3, bands=16
    )
    return dedup.connected_components(pairs)


@query(
    "dedup_canonical",
    f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, list_distinct(list_transform(
          range(1, greatest(len({_TOKS}) - 1, 2)),
          i -> array_to_string({_TOKS}[i:i+2], ' '))) AS grams
      FROM documents
    ),
    sigs AS (
      SELECT doc_id, b,
             MIN(md5(CAST(2*b AS VARCHAR) || ':' || g))
               || MIN(md5(CAST(2*b+1 AS VARCHAR) || ':' || g)) AS sig
      FROM sh, unnest(grams) AS t(g), range(16) AS r(b)
      GROUP BY doc_id, b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sigs a JOIN sigs b
        ON a.b = b.b AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    prs AS (
      SELECT id_a, id_b
      FROM cand JOIN sh sa ON id_a = sa.doc_id JOIN sh sb ON id_b = sb.doc_id
      WHERE len(list_intersect(sa.grams, sb.grams)) * 1.0
            / (len(sa.grams) + len(sb.grams)
               - len(list_intersect(sa.grams, sb.grams))) >= 0.3
    ),
    edges AS (SELECT id_a AS src, id_b AS dst FROM prs
              UNION SELECT id_b, id_a FROM prs),
    reach AS (
      SELECT src AS v, src AS r FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.v
    ),
    comp AS (SELECT v AS doc_id, MIN(r) AS component FROM reach GROUP BY v),
    marked AS (
      SELECT d.doc_id,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
             c.component
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, n_tokens FROM marked WHERE component IS NULL
    UNION ALL
    SELECT doc_id, n_tokens FROM (
      SELECT doc_id, n_tokens,
             row_number() OVER (PARTITION BY component
                                ORDER BY n_tokens DESC, doc_id) AS rn
      FROM marked WHERE component IS NOT NULL)
    WHERE rn = 1
    """,
)
def q_dedup_canonical(spark, sf_dir):
    """Quality-aware near-dup survivor selection: clusters from the
    scale-safe BANDED candidate generator (r8 — same pairs the graded
    dedup_banded_jaccard produces, no Σdf² posting join), then the
    LONGEST doc per cluster kept (ties → min id) instead of the
    arbitrary min-id representative. Winners come from a payload-free
    partial-aggregated argmax; the join-back is AQE-sized, never a
    forced broadcast."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", text.token_count("text").cast("long")
    )
    pairs = dedup.banded_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.3, bands=16
    )
    comp = dedup.connected_components(pairs)
    return dedup.canonical_survivors(docs, comp, score_col="n_tokens").select(
        "doc_id", "n_tokens"
    )


@query(
    "cluster_safe_split",
    f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, list_distinct(list_transform(
          range(1, greatest(len({_TOKS}) - 1, 2)),
          i -> array_to_string({_TOKS}[i:i+2], ' '))) AS grams
      FROM documents
    ),
    sigs AS (
      SELECT doc_id, b,
             MIN(md5(CAST(2*b AS VARCHAR) || ':' || g))
               || MIN(md5(CAST(2*b+1 AS VARCHAR) || ':' || g)) AS sig
      FROM sh, unnest(grams) AS t(g), range(16) AS r(b)
      GROUP BY doc_id, b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sigs a JOIN sigs b
        ON a.b = b.b AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    prs AS (
      SELECT id_a, id_b
      FROM cand JOIN sh sa ON id_a = sa.doc_id JOIN sh sb ON id_b = sb.doc_id
      WHERE len(list_intersect(sa.grams, sb.grams)) * 1.0
            / (len(sa.grams) + len(sb.grams)
               - len(list_intersect(sa.grams, sb.grams))) >= 0.3
    ),
    edges AS (SELECT id_a AS src, id_b AS dst FROM prs
              UNION SELECT id_b, id_a FROM prs),
    reach AS (
      SELECT src AS v, src AS r FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.v
    ),
    comp AS (SELECT v AS doc_id, MIN(r) AS component FROM reach GROUP BY v)
    SELECT d.doc_id, c.component,
           CASE WHEN substr(md5('split' ||
                    CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)), 1, 4)
                  < 'cccc' THEN 'train'
                WHEN substr(md5('split' ||
                    CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)), 1, 4)
                  < 'e666' THEN 'val'
                ELSE 'test' END AS split
    FROM documents d LEFT JOIN comp c USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def q_cluster_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split (r6, re-based r8 on the
    scale-safe BANDED candidate generator): near-dup clusters
    (banded-MinHash pairs → connected components) are assigned whole
    via the md5 bucket of coalesce(component, doc_id) — a test document
    can never have a near-copy in train. 'cccc'/'e666' are
    int(0.8·65536)/int(0.9·65536) in hex, the same thresholds
    quality._split_label derives."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.banded_jaccard_pairs(docs, n=3, threshold=0.3, bands=16)
    return quality.cluster_safe_split(docs, pairs).select(
        "doc_id", "component", "split"
    ).orderBy("doc_id")


@query(
    "drift_numeric",
    """
    WITH lx AS (SELECT n_chars AS x FROM documents
                WHERE n_chars IS NOT NULL),
    rx AS (SELECT n_chars AS x FROM documents
           WHERE lang = 'en' AND n_chars IS NOT NULL),
    b AS (SELECT LEAST((SELECT MIN(x) FROM lx), (SELECT MIN(x) FROM rx))
                   AS lo,
                 GREATEST((SELECT MAX(x) FROM lx), (SELECT MAX(x) FROM rx))
                   AS hi),
    hl AS (SELECT LEAST(GREATEST(((x - b.lo) * 8) // (b.hi - b.lo + 1),
                   0), 7)::INT AS bucket,
                  COUNT(*)::BIGINT AS n_left
           FROM lx, b GROUP BY 1),
    hr AS (SELECT LEAST(GREATEST(((x - b.lo) * 8) // (b.hi - b.lo + 1),
                   0), 7)::INT AS bucket,
                  COUNT(*)::BIGINT AS n_right
           FROM rx, b GROUP BY 1),
    j AS (SELECT COALESCE(hl.bucket, hr.bucket) AS bucket,
                 COALESCE(n_left, 0)::BIGINT AS n_left,
                 COALESCE(n_right, 0)::BIGINT AS n_right
          FROM hl FULL OUTER JOIN hr ON hl.bucket = hr.bucket),
    t AS (SELECT SUM(n_left)::BIGINT AS tl, SUM(n_right)::BIGINT AS tr
          FROM j)
    SELECT bucket, n_left, n_right,
           ROUND(n_left::DOUBLE / GREATEST(tl, 1)::DOUBLE, 4)
             AS frac_left,
           ROUND(n_right::DOUBLE / GREATEST(tr, 1)::DOUBLE, 4)
             AS frac_right,
           ROUND((n_right::DOUBLE / GREATEST(tr, 1)::DOUBLE
                  - n_left::DOUBLE / GREATEST(tl, 1)::DOUBLE)
                 * LN((n_right::DOUBLE / GREATEST(tr, 1)::DOUBLE + 1e-6)
                      / (n_left::DOUBLE / GREATEST(tl, 1)::DOUBLE + 1e-6)),
                 4) AS psi_term
    FROM j, t ORDER BY bucket
    """,
)
def q_drift_numeric(spark, sf_dir):
    """Numeric distribution drift (r10): the PSI histogram report for
    document lengths between the full corpus and its English slice —
    shared integer-exact buckets (pure int64 `div` arithmetic, so
    counts and fractions hash-match engine-to-engine), per-bucket
    fractions on both sides, smoothed PSI contributions. The numeric
    sibling of the graded corpus_drift's lexical JS screen: catches a
    crawl whose LENGTH distribution moved even when its vocabulary did
    not. sum(psi_term) is the release gate's stability index."""
    from mongo_arrow_spark.operators import profile

    docs = _t(spark, sf_dir, "documents")
    out = profile.numeric_drift(
        docs, docs.filter(F.col("lang") == "en"), "n_chars", n_buckets=8
    )
    return out.select(
        "bucket",
        "n_left",
        "n_right",
        F.round("frac_left", 4).alias("frac_left"),
        F.round("frac_right", 4).alias("frac_right"),
        F.round("psi_term", 4).alias("psi_term"),
    )


@query(
    "corpus_drift",
    """
    WITH lt AS (SELECT unnest(string_split(text, ' ')) AS token
                FROM documents WHERE lang = 'en'),
    rt AS (SELECT unnest(string_split(text, ' ')) AS token
           FROM documents WHERE lang <> 'en'),
    lc AS (SELECT token, COUNT(*) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM lt)
                    AS p_left FROM lt GROUP BY token),
    rc AS (SELECT token, COUNT(*) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM rt)
                    AS p_right FROM rt GROUP BY token),
    j AS (SELECT COALESCE(lc.token, rc.token) AS token,
                 COALESCE(p_left, 0.0) AS p_left,
                 COALESCE(p_right, 0.0) AS p_right
          FROM lc FULL JOIN rc ON lc.token = rc.token)
    SELECT token, p_left, p_right,
           ROUND(0.5 * (
             CASE WHEN p_left > 0
                  THEN p_left * ln(p_left / ((p_left + p_right) / 2))
                  ELSE 0 END +
             CASE WHEN p_right > 0
                  THEN p_right * ln(p_right / ((p_left + p_right) / 2))
                  ELSE 0 END), 6) AS js_term
    FROM j
    ORDER BY js_term DESC, token LIMIT 50
    """,
)
def q_corpus_drift(spark, sf_dir):
    """Token-distribution drift (r6): pointwise Jensen-Shannon terms
    between the English and non-English sub-corpora, top 50 — the QA
    screen run before mixing a new snapshot into a training corpus.
    Terms rounded to 6 (ln differs in the last ulp across engines) and
    re-ordered on the rounded value so both engines agree on ties."""
    docs = _t(spark, sf_dir, "documents")
    drift = text.corpus_drift(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") != "en"),
        k=1 << 30,
    )
    return (
        drift.withColumn("js_term", F.round("js_term", 6))
        .orderBy(F.col("js_term").desc(), "token")
        .limit(50)
    )


@query(
    "pii_scan",
    r"""
    SELECT doc_id, n_email, n_ipv4, n_phone,
           n_email + n_ipv4 + n_phone AS n_pii_total
    FROM (
      SELECT doc_id,
        CAST(len(regexp_extract_all(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        CAST(len(regexp_extract_all(text,
          '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
        CAST(len(regexp_extract_all(text,
          '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b')) AS BIGINT) AS n_phone
      FROM documents
    )
    """,
)
def q_pii_scan(spark, sf_dir):
    """PII hit counts per document (email/IPv4/phone) — regex subset that
    means the same thing in Java regex and RE2."""
    return quality.pii_metrics(_t(spark, sf_dir, "documents"))


@query(
    "chunk_tokens",
    f"""
    WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    starts AS (
      SELECT doc_id, toks, i,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS INT)
               AS chunk_id
      FROM base, unnest(range(1, least(greatest(len(toks) - 128, 0) + 96, len(toks)) + 1, 96)) AS t(i)
    )
    SELECT doc_id, chunk_id,
           array_to_string(toks[i:i+127], ' ') AS chunk_text,
           CAST(len(toks[i:i+127]) AS BIGINT) AS n_chunk_tokens
    FROM starts
    """,
)
def q_chunk_tokens(spark, sf_dir):
    """Overlapping 128-token windows at stride 96 — pre-tokenizer packing.
    Map-only fan-out; no shuffle."""
    return quality.chunk_tokens(
        _t(spark, sf_dir, "documents"), chunk_size=128, stride=96
    )


@query(
    "train_split",
    """
    SELECT CASE
             WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
               THEN 'train'
             WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
               THEN 'val'
             ELSE 'test'
           END AS split,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM documents GROUP BY 1
    """,
)
def q_train_split(spark, sf_dir):
    """Deterministic md5-bucket train/val/test assignment (80/10/10) —
    engine-portable (no RNG), stable under repartitioning."""
    return (
        quality.train_split(_t(spark, sf_dir, "documents"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "decontaminate_pairs",
    f"""
    WITH sh AS (
      SELECT doc_id, source, unnest(list_distinct(list_transform(
          range(1, greatest(len({_TOKS}) - 1, 2)),
          i -> array_to_string({_TOKS}[i:i+2], ' ')))) AS s
      FROM documents
    ),
    lp AS (SELECT doc_id AS id, s FROM sh WHERE source NOT IN ('src0','src1')),
    rp AS (SELECT doc_id AS id, s FROM sh WHERE source IN ('src0','src1')),
    hot AS (SELECT s FROM (SELECT s FROM lp UNION ALL SELECT s FROM rp)
            GROUP BY s HAVING COUNT(*) > {_JACCARD_MAX_DF}),
    lpc AS (SELECT * FROM lp ANTI JOIN hot USING (s)),
    rpc AS (SELECT * FROM rp ANTI JOIN hot USING (s)),
    szl AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM lp GROUP BY id),
    szr AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM rp GROUP BY id),
    inter AS (
      SELECT a.id AS id_l, b.id AS id_r, CAST(COUNT(*) AS BIGINT) AS i
      FROM lpc a JOIN rpc b ON a.s = b.s GROUP BY 1, 2
    )
    SELECT id_l, id_r, ROUND(i * 1.0 / (sa.sz + sb.sz - i), 4) AS jaccard
    FROM inter JOIN szl sa ON id_l = sa.id JOIN szr sb ON id_r = sb.id
    WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.3
    """,
)
def q_decontaminate_pairs(spark, sf_dir):
    """Test-set decontamination candidates: train docs (src2+) that
    near-match a holdout doc (src0/src1) by 3-gram Jaccard ≥ 0.3. The
    cross-corpus inverted-index join — posting mass, never |train|×|eval|."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("source").isin("src0", "src1"))
    tr = docs.filter(~F.col("source").isin("src0", "src1"))
    return dedup.cross_jaccard_pairs(
        tr, ev, threshold=0.3, max_df=_JACCARD_MAX_DF
    ).select("id_l", "id_r", F.round("jaccard", 4).alias("jaccard"))


@query(
    "contract_check",
    """
    WITH n AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
    rules AS (
      SELECT 'accepted_values:lang' AS rule, 'lang' AS "column",
        (SELECT COALESCE(SUM(CASE WHEN lang IS NOT NULL
            AND lang NOT IN ('en','de','fr') THEN 1 ELSE 0 END), 0)::BIGINT
         FROM documents) AS violations,
        0.2::DOUBLE AS threshold
      UNION ALL SELECT 'in_range:n_chars', 'n_chars',
        (SELECT COALESCE(SUM(CASE WHEN n_chars IS NOT NULL
            AND (n_chars < 1 OR n_chars > 500) THEN 1 ELSE 0 END), 0)::BIGINT
         FROM documents),
        0.1::DOUBLE
      UNION ALL SELECT 'matches:source', 'source',
        (SELECT COALESCE(SUM(CASE WHEN source IS NOT NULL
            AND NOT regexp_matches(source, '^src[0-9]+$')
            THEN 1 ELSE 0 END), 0)::BIGINT FROM documents),
        0.0::DOUBLE
      UNION ALL SELECT 'not_null:doc_id', 'doc_id',
        (SELECT COALESCE(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END),
            0)::BIGINT FROM documents),
        0.0::DOUBLE
      UNION ALL SELECT 'not_null:text', 'text',
        (SELECT COALESCE(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END),
            0)::BIGINT FROM documents),
        0.0::DOUBLE
      UNION ALL SELECT 'referential:doc_id', 'doc_id',
        (SELECT COUNT(*)::BIGINT FROM documents d
         WHERE d.doc_id IS NOT NULL AND NOT EXISTS
           (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)),
        0.0::DOUBLE
      UNION ALL SELECT 'row_count', '*',
        (SELECT CASE WHEN COUNT(*) < 1 THEN 1 - COUNT(*)
            ELSE 0 END::BIGINT FROM documents),
        0.0::DOUBLE
      UNION ALL SELECT 'satisfies:chars_consistent', 'chars_consistent',
        (SELECT COALESCE(SUM(CASE WHEN NOT COALESCE(n_chars = length(text),
            FALSE) THEN 1 ELSE 0 END), 0)::BIGINT FROM documents),
        0.0::DOUBLE
      UNION ALL SELECT 'unique:doc_id', 'doc_id',
        (SELECT (COALESCE(SUM(CASE WHEN doc_id IS NOT NULL THEN 1 ELSE 0
            END), 0) - COUNT(DISTINCT doc_id))::BIGINT FROM documents),
        0.0::DOUBLE
    )
    SELECT r.rule, r."column", r.violations, n.n AS n_rows,
           r.violations::DOUBLE / GREATEST(n.n, 1)::DOUBLE AS observed_frac,
           r.threshold AS threshold,
           CASE WHEN r.violations::DOUBLE
                  <= r.threshold * GREATEST(n.n, 1)::DOUBLE
                THEN 'pass' ELSE 'fail' END AS status
    FROM rules r, n ORDER BY rule
    """,
)
def q_contract_check(spark, sf_dir):
    """Data-contract expectations (r10): a nine-rule release contract
    on the documents table — key non-null + unique, payload non-null,
    length-field consistency (``satisfies``), value range, accepted
    language vocabulary, source-format regex, table cardinality, and
    referential integrity against the embeddings table — verified by
    ``expectations.check`` in ONE aggregate pass (plus one anti-join
    for the FK rule) and reported as the exact constant-width
    (rule, column, violations, n_rows, observed_frac, threshold,
    status) frame the oracle recomputes rule by rule. This is the
    commit gate ``write_version(expect=...)`` runs before a corpus
    release ships."""
    from mongo_arrow_spark.operators import expectations as E

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    return E.check(
        docs,
        [
            E.row_count(min_rows=1),
            E.not_null("doc_id"),
            E.unique("doc_id"),
            E.not_null("text"),
            E.in_range("n_chars", 1, 500, max_violation_frac=0.1),
            E.accepted_values(
                "lang", ["en", "de", "fr"], max_violation_frac=0.2
            ),
            E.matches("source", "^src[0-9]+$"),
            E.satisfies("chars_consistent", "n_chars = length(text)"),
            E.referential("doc_id", emb, "vec_id"),
        ],
    )


@query(
    "contract_by_group",
    """
    WITH g AS (
      SELECT COALESCE(CAST(lang AS VARCHAR), 'NULL') AS grp,
        COUNT(*)::BIGINT AS n,
        COALESCE(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END),
            0)::BIGINT AS v_nn,
        COALESCE(SUM(CASE WHEN n_chars IS NOT NULL
            AND (n_chars < 1 OR n_chars > 500) THEN 1 ELSE 0 END),
            0)::BIGINT AS v_rng,
        (COALESCE(SUM(CASE WHEN doc_id IS NOT NULL THEN 1 ELSE 0 END), 0)
            - COUNT(DISTINCT doc_id))::BIGINT AS v_unq
      FROM documents GROUP BY lang
    ), rules AS (
      SELECT grp, 'in_range:n_chars' AS rule, 'n_chars' AS "column",
             v_rng AS violations, n, 0.1::DOUBLE AS threshold FROM g
      UNION ALL SELECT grp, 'not_null:text', 'text', v_nn, n,
             0.0::DOUBLE FROM g
      UNION ALL SELECT grp, 'row_count', '*',
             (CASE WHEN n < 20 THEN 20 - n ELSE 0 END)::BIGINT, n,
             0.0::DOUBLE FROM g
      UNION ALL SELECT grp, 'unique:doc_id', 'doc_id', v_unq, n,
             0.0::DOUBLE FROM g
    )
    SELECT grp AS "group", rule, "column", violations, n AS n_rows,
           violations::DOUBLE / GREATEST(n, 1)::DOUBLE AS observed_frac,
           threshold,
           CASE WHEN violations::DOUBLE
                  <= threshold * GREATEST(n, 1)::DOUBLE
                THEN 'pass' ELSE 'fail' END AS status
    FROM rules ORDER BY "group", rule
    """,
)
def q_contract_by_group(spark, sf_dir):
    """Per-group data contract (r10): the same expectations machinery
    verified PER LANGUAGE — payload non-null, length range, a minimum
    per-language document count, and within-group key uniqueness —
    still one groupBy aggregation over one scan (report rows = groups ×
    rules). The per-domain release gate: "no language may ship with
    fewer than N documents"."""
    from mongo_arrow_spark.operators import expectations as E

    docs = _t(spark, sf_dir, "documents")
    return E.check(
        docs,
        [
            E.not_null("text"),
            E.in_range("n_chars", 1, 500, max_violation_frac=0.1),
            E.row_count(min_rows=20),
            E.unique("doc_id"),
        ],
        by=["lang"],
    )


@query(
    "profile_numeric",
    """
    SELECT 'l_quantity' AS column,
           ROUND(AVG(l_quantity), 4) AS mean,
           ROUND(STDDEV_SAMP(l_quantity), 4) AS stddev,
           ROUND(MIN(l_quantity), 4) AS min_value,
           ROUND(MAX(l_quantity), 4) AS max_value,
           ROUND(MEDIAN(CAST(l_quantity AS DOUBLE)), 4) AS median
    FROM lineitem
    UNION ALL
    SELECT 'l_discount',
           ROUND(AVG(l_discount), 4), ROUND(STDDEV_SAMP(l_discount), 4),
           ROUND(MIN(l_discount), 4), ROUND(MAX(l_discount), 4),
           ROUND(MEDIAN(CAST(l_discount AS DOUBLE)), 4)
    FROM lineitem
    """,
)
def q_profile_numeric(spark, sf_dir):
    """One-pass numeric profile (mean/std/min/max/median) in long format —
    the audit that brackets every corpus filter stage."""
    out = profile.numeric_summary(
        _t(spark, sf_dir, "lineitem"), ["l_quantity", "l_discount"]
    )
    return out.select(
        "column",
        F.round("mean", 4).alias("mean"),
        F.round("stddev", 4).alias("stddev"),
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"),
        F.round("median", 4).alias("median"),
    )


@query(
    "multimodal_resize",
    """
    WITH dec AS (
      SELECT doc_id AS media_id,
             octet_length(encode(text)) AS n,
             octet_length(encode(text)) % 640 + 1 AS w,
             (octet_length(encode(text)) * 7) % 480 + 1 AS h
      FROM documents
    )
    SELECT media_id,
           CAST(least(256, w) AS INT) AS width,
           CAST(greatest(1, CAST(round(h * least(256, w) * 1.0 / w, 0) AS INT)) AS INT) AS height,
           CAST(n * (least(256, w) * greatest(1, CAST(round(h * least(256, w) * 1.0 / w, 0) AS INT))) // (w * h) AS BIGINT) AS n_bytes_out
    FROM dec
    """,
)
def q_multimodal_resize(spark, sf_dir):
    """Aspect-preserving resize plumbing (deterministic fake codec) —
    same Arrow-batch mapInPandas contract as decode, SQL-checkable."""
    media = multimodal.attach_payload(_t(spark, sf_dir, "documents"))
    return multimodal.resize_media(media, target_w=256)


@query(
    "stratified_sample",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('sample' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= 10
    """,
)
def q_stratified_sample(spark, sf_dir):
    """Deterministic 10-per-language sample by md5 order — reproducible
    across engines/runs (vs rand()-based sampleBy)."""
    docs = _t(spark, sf_dir, "documents")
    return quality.stratified_sample(docs, "lang", 10).select("doc_id", "lang")


@query("compression_ratio")  # rows-only: no zlib in DuckDB SQL
def q_compression_ratio(spark, sf_dir):
    """zlib boilerplate detector via Arrow-batched mapInPandas; exactness
    is pinned against direct python zlib in pytest (the driver records
    rows-only)."""
    return quality.compression_ratio(_t(spark, sf_dir, "documents"))


@query(
    "mix_sources",
    """
    WITH w(source, wt) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
    counts AS (
      SELECT d.source, w.wt, COUNT(*) AS n
      FROM documents d JOIN w ON d.source = w.source
      GROUP BY d.source, w.wt
    ),
    n_out AS (SELECT MIN(n / wt) AS v FROM counts),
    thr AS (
      SELECT source,
             printf('%09x', CAST(round(
               LEAST(1.0, wt * (SELECT v FROM n_out) / n) * 4294967296.0)
               AS BIGINT)) AS t
      FROM counts
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN thr ON d.source = thr.source
    WHERE '0' || substring(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.t
    ORDER BY d.doc_id
    """,
)
def q_mix_sources(spark, sf_dir):
    """Domain-mix resampling to target weights — deterministic md5
    thresholds, so the SQL oracle reproduces the exact surviving set."""
    out = quality.mix_sources(
        _t(spark, sf_dir, "documents"),
        {"src0": 0.5, "src1": 0.3, "src2": 0.2},
    )
    return out.select("doc_id", "source").orderBy("doc_id")


@query("sim_topk_int8")  # rows-only: int8 scores carry quantization error
def q_sim_topk_int8(spark, sf_dir):
    """Quantized ANN: int8 corpus scan + exact float re-rank of the top 50
    — recall vs the float oracle pinned in test_quality_ops."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return similarity.cosine_topk_int8(
        similarity.quantize_int8(emb), qv, k=10, rerank=50
    )


# ---------------------------------------------- round-4: trainer-facing ops

#: Shared hex-decode fragment for md5-bucket oracles (packing/shuffle):
#: two hex digits decoded positionally — the same instr-over-alphabet
#: arithmetic ``packing.hash_bucket`` builds Spark-side.
def _md5_bucket_sql(salt: str, n: int) -> str:
    h = f"md5('{salt}' || CAST(doc_id AS VARCHAR))"
    return (
        f"CAST(((strpos('0123456789abcdef', substring({h},1,1))-1)*16"
        f" + (strpos('0123456789abcdef', substring({h},2,1))-1)) % {n} AS INT)"
    )


@query(
    "pack_sequences",
    f"""
    WITH s AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             md5('pack' || CAST(doc_id AS VARCHAR)) AS h,
             {_md5_bucket_sql('pack', 8)} AS stream
      FROM documents
    ),
    c AS (
      SELECT doc_id, stream, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY stream ORDER BY h, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS e
      FROM s
    )
    SELECT doc_id, stream,
           CAST(FLOOR((e - n_tokens) / 256) AS BIGINT) AS seq_id,
           CAST((e - n_tokens) % 256 AS BIGINT) AS seq_offset,
           n_tokens
    FROM c
    """,
)
def q_pack_sequences(spark, sf_dir):
    """GPT-style concat-then-split sequence packing over 8 independent
    hash streams: per-doc (stream, seq_id, seq_offset) assignment. The
    only shuffle is the stream partition — no global order at any scale."""
    return packing.pack_sequences(
        _t(spark, sf_dir, "documents"), seq_len=256, n_streams=8
    )


@query(
    "shuffle_corpus",
    f"""
    WITH s AS (
      SELECT doc_id,
             md5('shuffle' || CAST(doc_id AS VARCHAR)) AS h,
             {_md5_bucket_sql('shuffle', 8)} AS shard
      FROM documents
    )
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
                AS BIGINT) AS pos
    FROM s
    """,
)
def q_shuffle_corpus(spark, sf_dir):
    """Deterministic training-order shuffle: (shard, pos) reproducible on
    any engine, any partitioning — the auditable orderBy(rand())."""
    out = packing.shuffle_corpus(_t(spark, sf_dir, "documents"), n_shards=8)
    return out.select("doc_id", "shard", "pos")


@query(
    "semantic_dedup",
    """
    WITH v AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END
            + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
            + CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END
            + CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END
            + CASE WHEN embedding[5] >= 0 THEN 16 ELSE 0 END
            + CASE WHEN embedding[6] >= 0 THEN 32 ELSE 0 END) AS c,
             sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                 p -> CAST(struct_extract(p, 1) AS DOUBLE)
                    * CAST(struct_extract(p, 2) AS DOUBLE)))
                 / (a.nrm * b.nrm), 4) AS cosine
    FROM v a JOIN v b ON a.c = b.c AND a.vec_id < b.vec_id
    WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
          p -> CAST(struct_extract(p, 1) AS DOUBLE)
             * CAST(struct_extract(p, 2) AS DOUBLE))) / (a.nrm * b.nrm) >= 0.2
    """,
)
def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic near-dup pairs: deterministic sign-bit
    clusters (engine-portable — the oracle re-derives them), within-cluster
    cosine ≥ τ. The all-pairs risk is bounded by the largest cluster."""
    pairs = dedup.semantic_dedup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.2, bits=6
    )
    return pairs.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


@query(
    "decontaminate_semantic",
    """
    WITH v AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END
            + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
            + CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END
            + CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END
            + CASE WHEN embedding[5] >= 0 THEN 16 ELSE 0 END
            + CASE WHEN embedding[6] >= 0 THEN 32 ELSE 0 END) AS c,
             sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    hold AS (SELECT * FROM v WHERE vec_id % 37 = 0),
    tr AS (SELECT * FROM v WHERE vec_id % 37 <> 0),
    hits AS (
      SELECT DISTINCT t.vec_id
      FROM tr t JOIN hold h ON t.c = h.c
      WHERE list_sum(list_transform(list_zip(t.embedding, h.embedding),
            p -> CAST(struct_extract(p, 1) AS DOUBLE)
               * CAST(struct_extract(p, 2) AS DOUBLE))) / (t.nrm * h.nrm)
            >= 0.2
    )
    SELECT vec_id FROM tr ANTI JOIN hits USING (vec_id)
    """,
)
def q_decontaminate_semantic(spark, sf_dir):
    """Semantic decontamination: training vectors cosine-near any
    holdout vector (within sign-bit buckets, holdout broadcast) are
    dropped — the paraphrase-robust sibling of the n-gram
    decontaminate gate."""
    emb = _t(spark, sf_dir, "embeddings")
    hold = emb.where(F.col("vec_id") % 37 == 0)
    train = emb.where(F.col("vec_id") % 37 != 0)
    return dedup.decontaminate_semantic(
        train, hold, threshold=0.2, bits=6
    ).select("vec_id")


@query(
    "duplicate_spans",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             array_to_string(t[i:i+7], ' ') AS gr
      FROM toks, unnest(range(1, greatest(len(t) - 8, 0) + 2)) AS u(i)
    ),
    gg AS (SELECT * FROM g WHERE len(gr) > 0),
    c AS (SELECT gr FROM gg GROUP BY gr HAVING COUNT(*) >= 2),
    h AS (SELECT doc_id, pos FROM gg SEMI JOIN c USING (gr)),
    i1 AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 8
                  THEN 1 ELSE 0 END AS brk
      FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    i2 AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS isl
      FROM i1
    )
    SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 8 AS BIGINT) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM i2 GROUP BY doc_id, isl
    """,
)
def q_duplicate_spans(spark, sf_dir):
    """Exact duplicate-substring spans (Lee et al. 2021, suffix-array →
    distributed k-window fingerprints): duplicated 8-token windows merged
    into maximal per-doc spans via gaps-and-islands."""
    return dedup.duplicate_spans(
        _t(spark, sf_dir, "documents"), k=8, min_count=2
    )


@query(
    "quality_score",
    """
    WITH f AS (
      SELECT doc_id, text,
             string_split(text, ' ') AS t,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS nc
      FROM documents
    ),
    z AS (
      SELECT doc_id,
             -1.0
             + 0.55 * ln(n_tok + 1.0)
             + 4.0 * (len(list_filter(t, x -> x IN
                 ('the','a','of','and','to','in','is','it'))) / n_tok)
             + 0.15 * ((nc - n_tok + 1) / n_tok)
             + (-3.0) * (length(regexp_replace(text, '[^[:punct:]]', '', 'g')) / nc)
             + (-2.5) * (1.0 - len(list_distinct(t)) / n_tok) AS z
      FROM f
    )
    SELECT doc_id, ROUND(1.0 / (1.0 + exp(-z)), 4) AS q_score FROM z
    """,
)
def q_quality_score(spark, sf_dir):
    """Model-based quality scoring: logistic score over closed-form text
    signals, FineWeb/DCLM filter shape with deterministic weights — one
    map-only projection at any corpus size."""
    out = quality.quality_score(_t(spark, sf_dir, "documents"))
    return out.select("doc_id", F.round("q_score", 4).alias("q_score"))


@query(
    "pack_manifest",
    f"""
    WITH s AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             md5('pack' || CAST(doc_id AS VARCHAR)) AS h,
             {_md5_bucket_sql('pack', 8)} AS stream
      FROM documents
    ),
    c AS (
      SELECT doc_id, stream, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY stream ORDER BY h, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS e
      FROM s
    ),
    p AS (
      SELECT stream,
             CAST(FLOOR((e - n_tokens) / 256) AS BIGINT) AS seq_id,
             CAST((e - n_tokens) % 256 AS BIGINT) AS off,
             n_tokens
      FROM c
    ),
    x AS (
      SELECT stream, seq_id + i AS seq_id, off, n_tokens,
             CAST(FLOOR((off + greatest(n_tokens - 1, 0)) / 256) AS BIGINT) AS nspan,
             i
      FROM p, unnest(range(0, CAST(FLOOR((off + greatest(n_tokens - 1, 0)) / 256)
                                   AS BIGINT) + 1)) AS u(i)
    )
    SELECT stream, seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN nspan = 0 THEN n_tokens
                         WHEN i = 0 THEN 256 - off
                         WHEN i = nspan THEN n_tokens - (256 - off) - (i - 1) * 256
                         ELSE 256 END) AS BIGINT) AS n_tokens,
           ROUND(SUM(CASE WHEN nspan = 0 THEN n_tokens
                          WHEN i = 0 THEN 256 - off
                          WHEN i = nspan THEN n_tokens - (256 - off) - (i - 1) * 256
                          ELSE 256 END) / 256.0, 4) AS fill
    FROM x GROUP BY stream, seq_id
    """,
)
def q_pack_manifest(spark, sf_dir):
    """Per-sequence packing manifest: docs and tokens landing in each
    (stream, seq_id) — the view a trainer's data loader reads. Row-local
    span explode + one partial-aggregated group-by."""
    packed = packing.pack_sequences(
        _t(spark, sf_dir, "documents"), seq_len=256, n_streams=8
    )
    return packing.pack_manifest(packed, seq_len=256)


@query(
    "text_unigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM toks),
    counts AS (
      SELECT w, CAST(COUNT(*) AS DOUBLE) AS c FROM toks
      GROUP BY w ORDER BY c DESC, w LIMIT 10000
    ),
    v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM counts),
    scored AS (
      SELECT toks.doc_id,
             ln((COALESCE(counts.c, 0) + 0.5) / (total.t + 0.5 * (v.n + 1))) AS lp
      FROM toks LEFT JOIN counts USING (w), total, v
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(lp), 4) AS logprob
    FROM scored GROUP BY doc_id
    """,
)
def q_text_unigram_logprob(spark, sf_dir):
    """Corpus-derived unigram LM score (CCNet-style perplexity proxy):
    one vocab aggregation + broadcast scoring join, no second corpus
    shuffle."""
    out = text.unigram_logprob(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "n_tokens", F.round("logprob", 4).alias("logprob")
    )


@query(
    "text_bigram_logprob",
    """
    WITH base AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
    seq AS (
      SELECT doc_id, z[1] AS p, z[2] AS w
      FROM (SELECT doc_id,
                   unnest(list_zip(list_prepend(NULL, s[1:greatest(len(s)-1,0)]),
                                   s)) AS z
            FROM base)
    ),
    total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM seq),
    counts AS (
      SELECT w, CAST(COUNT(*) AS DOUBLE) AS c FROM seq
      GROUP BY w ORDER BY c DESC, w LIMIT 10000
    ),
    v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM counts),
    uni AS (
      SELECT w, c, ln((c + 0.5) / (total.t + 0.5 * (v.n + 1))) AS ulp
      FROM counts, total, v
    ),
    bi AS (
      SELECT p, w, CAST(COUNT(*) AS DOUBLE) AS bc
      FROM seq
      WHERE p IS NOT NULL
        AND p IN (SELECT w FROM counts) AND w IN (SELECT w FROM counts)
      GROUP BY p, w ORDER BY bc DESC, p, w LIMIT 50000
    ),
    blp AS (
      SELECT bi.p, bi.w, ln(bi.bc / uni.c) AS blp
      FROM bi JOIN uni ON uni.w = bi.p
    ),
    oov AS (SELECT ln(0.5 / (total.t + 0.5 * (v.n + 1))) AS lp FROM total, v),
    scored AS (
      SELECT seq.doc_id,
             CASE WHEN seq.p IS NULL THEN COALESCE(uni.ulp, oov.lp)
                  WHEN blp.blp IS NOT NULL THEN blp.blp
                  ELSE ln(0.4) + COALESCE(uni.ulp, oov.lp) END AS lp
      FROM seq
      LEFT JOIN uni ON uni.w = seq.w
      LEFT JOIN blp ON blp.p = seq.p AND blp.w = seq.w
      CROSS JOIN oov
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(lp), 4) AS logprob
    FROM scored GROUP BY doc_id
    """,
)
def q_text_bigram_logprob(spark, sf_dir):
    """Bigram stupid-backoff LM score (the n-gram upgrade of the CCNet
    perplexity proxy): two broadcast-sized model tables fit with
    TakeOrdered cuts, then one explode + two broadcast joins per scored
    batch — the corpus itself is never shuffled."""
    docs = _t(spark, sf_dir, "documents")
    model = text.fit_ngram_lm(docs)
    out = text.score_ngram_lm(docs, model)
    return out.select(
        "doc_id", "n_tokens", F.round("logprob", 4).alias("logprob")
    )


@query(
    "text_ppl_buckets",
    """
    WITH base AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
    seq AS (
      SELECT doc_id, z[1] AS p, z[2] AS w
      FROM (SELECT doc_id,
                   unnest(list_zip(list_prepend(NULL, s[1:greatest(len(s)-1,0)]),
                                   s)) AS z
            FROM base)
    ),
    total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM seq),
    counts AS (
      SELECT w, CAST(COUNT(*) AS DOUBLE) AS c FROM seq
      GROUP BY w ORDER BY c DESC, w LIMIT 10000
    ),
    v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM counts),
    uni AS (
      SELECT w, c, ln((c + 0.5) / (total.t + 0.5 * (v.n + 1))) AS ulp
      FROM counts, total, v
    ),
    bi AS (
      SELECT p, w, CAST(COUNT(*) AS DOUBLE) AS bc
      FROM seq
      WHERE p IS NOT NULL
        AND p IN (SELECT w FROM counts) AND w IN (SELECT w FROM counts)
      GROUP BY p, w ORDER BY bc DESC, p, w LIMIT 50000
    ),
    blp AS (
      SELECT bi.p, bi.w, ln(bi.bc / uni.c) AS blp
      FROM bi JOIN uni ON uni.w = bi.p
    ),
    oov AS (SELECT ln(0.5 / (total.t + 0.5 * (v.n + 1))) AS lp FROM total, v),
    scored AS (
      SELECT seq.doc_id,
             CASE WHEN seq.p IS NULL THEN COALESCE(uni.ulp, oov.lp)
                  WHEN blp.blp IS NOT NULL THEN blp.blp
                  ELSE ln(0.4) + COALESCE(uni.ulp, oov.lp) END AS lp
      FROM seq
      LEFT JOIN uni ON uni.w = seq.w
      LEFT JOIN blp ON blp.p = seq.p AND blp.w = seq.w
      CROSS JOIN oov
    ),
    final AS (
      SELECT s.doc_id, d.lang, ROUND(AVG(s.lp), 4) + 0.0 AS logprob
      FROM scored s JOIN documents d USING (doc_id)
      GROUP BY s.doc_id, d.lang
    ),
    th AS (
      SELECT lang,
             quantile_cont(logprob,
                [0.3333333333333333, 0.6666666666666666]) AS t
      FROM final GROUP BY lang
    )
    SELECT f.doc_id, f.lang, f.logprob,
           CASE WHEN f.logprob > th.t[2] THEN 'head'
                WHEN f.logprob > th.t[1] THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM final f JOIN th USING (lang)
    """,
)
def q_text_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity tiers (r8, Wenzek et al. 2020):
    per-LANGUAGE terciles of the bigram-LM score split the corpus into
    quality buckets. Thresholds come from ONE exact-percentile groupBy
    (rows = languages, broadcast back); bucketing compares the ROUNDED
    scores both engines already agree on bit-for-bit (graded
    text_bigram_logprob), and Spark's exact percentile equals DuckDB's
    quantile_cont on identical doubles, so the whole tiering is
    hash-gradeable. exact=False flips the same plan to percentile_approx
    for the 100 TB path."""
    docs = _t(spark, sf_dir, "documents")
    model = text.fit_ngram_lm(docs)
    scored = text.score_ngram_lm(docs, model).select(
        "doc_id", (F.round("logprob", 4) + 0.0).alias("logprob")
    )
    scored = scored.join(docs.select("doc_id", "lang"), "doc_id")
    out = text.perplexity_buckets(
        scored, score_col="logprob", by="lang",
        fractions=(1 / 3, 2 / 3), labels=("tail", "middle", "head"),
    )
    return out.select("doc_id", "lang", "logprob", "ppl_bucket")


#: Deterministic toy taxonomy over the synthetic corpus vocabulary.
_TAXONOMY = {
    "storage": ["table", "row", "parquet"],
    "compute": ["scan", "hash", "merge", "sort"],
    "runtime": ["spark", "batch", "window"],
}


@query(
    "text_tag_keywords",
    """
    WITH t AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      FROM documents
    ),
    lab AS (
      SELECT doc_id,
             list_filter([
               CASE WHEN len(list_intersect(toks, ['table','row','parquet'])) > 0
                    THEN 'storage' END,
               CASE WHEN len(list_intersect(toks, ['scan','hash','merge','sort'])) > 0
                    THEN 'compute' END,
               CASE WHEN len(list_intersect(toks, ['spark','batch','window'])) > 0
                    THEN 'runtime' END
             ], x -> x IS NOT NULL) AS labels
      FROM t
    )
    SELECT doc_id,
           COALESCE(array_to_string(labels, ','), '') AS labels,
           CAST(len(labels) AS BIGINT) AS n_labels
    FROM lab
    """,
)
def q_text_tag_keywords(spark, sf_dir):
    """Broadcast-lexicon taxonomy tagging: one array_intersect per
    category on the distinct-token set, map-only. Labels serialized to a
    comma string for canonical hashing (order = taxonomy order, both
    engines)."""
    out = text.tag_keywords(_t(spark, sf_dir, "documents"), _TAXONOMY)
    return out.select(
        "doc_id",
        F.concat_ws(",", "labels").alias("labels"),
        "n_labels",
    )


@query(
    "pack_materialize",
    f"""
    WITH s AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             md5('pack' || CAST(doc_id AS VARCHAR)) AS h,
             {_md5_bucket_sql('pack', 8)} AS stream
      FROM documents
    ),
    c AS (
      SELECT doc_id, stream, toks, n_tokens, h,
             SUM(n_tokens) OVER (PARTITION BY stream ORDER BY h, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS e
      FROM s
    ),
    p AS (
      SELECT doc_id, stream, toks, n_tokens,
             CAST(FLOOR((e - n_tokens) / 256) AS BIGINT) AS seq_id,
             CAST((e - n_tokens) % 256 AS BIGINT) AS off
      FROM c
    ),
    x AS (
      SELECT stream, seq_id + i AS seq_id,
             CASE WHEN i = 0 THEN off ELSE 0 END AS part_off,
             CASE WHEN nspan = 0 THEN n_tokens
                  WHEN i = 0 THEN 256 - off
                  WHEN i = nspan THEN n_tokens - (256 - off) - (i - 1) * 256
                  ELSE 256 END AS part_n,
             CASE WHEN i = 0 THEN CAST(1 AS BIGINT)
                  ELSE (256 - off) + (i - 1) * 256 + 1 END AS sl_start,
             toks
      FROM (SELECT *, CAST(FLOOR((off + greatest(n_tokens - 1, 0)) / 256)
                           AS BIGINT) AS nspan FROM p),
           unnest(range(0, nspan + 1)) AS u(i)
    )
    SELECT stream, seq_id,
           string_agg(part, ' ' ORDER BY part_off)
             FILTER (WHERE len(part) > 0) AS seq_text,
           CAST(SUM(part_n) AS BIGINT) AS n_tokens
    FROM (
      SELECT stream, seq_id, part_off, part_n,
             array_to_string(toks[sl_start:sl_start + part_n - 1], ' ') AS part
      FROM x
    )
    GROUP BY stream, seq_id
    """,
)
def q_pack_materialize(spark, sf_dir):
    """Materialized training sequences: the payload joins once onto the
    packing assignment, docs slice row-locally, one groupBy concatenates
    parts in offset order."""
    return packing.materialize_sequences(
        _t(spark, sf_dir, "documents"), seq_len=256, n_streams=8
    )


@query(
    "bloom_ingest_gate",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
    ),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id, text FROM (
        SELECT doc_id, text FROM corpus ORDER BY doc_id LIMIT 100
      )
    )
    SELECT b.doc_id FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text)
    ORDER BY b.doc_id
    """,
)
def q_bloom_ingest_gate(spark, sf_dir):
    """Incremental-ingest gate, EXACT form: Bloom index over the standing
    corpus (doc_id % 10 != 0), probe-and-verify a batch of held-out docs
    + 100 re-submitted corpus docs, return the genuinely-new rows. Rows
    probing false skip the corpus (no-false-negative guarantee); only
    the flagged sliver's digests broadcast into one corpus scan — which
    makes the result exact and therefore SQL-oracle-able (NOT EXISTS on
    the payload). Bloom internals pinned by tests/test_membership.py.
    """
    from mongo_arrow_spark.operators import membership

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0).unionAll(
        corpus.orderBy("doc_id").limit(100)
    )
    index = membership.build_bloom_index(corpus, "text", num_bits=1 << 22)
    checked = membership.probe_and_verify(
        batch, index, corpus, "text", num_bits=1 << 22
    )
    return (
        checked.filter(~F.col("is_member"))
        .select("doc_id")
        .orderBy("doc_id")
    )


def _gzip_corpus_dir(spark, sf_dir: str) -> str:
    """Materialize the documents table as a gzipped jsonl dump (idempotent
    per sf_dir) — the ``mongodump --gzip``-shaped corpus the compressed
    ingest path reads. Distributed write through the engine's own sink
    (compression=gzip), nothing through the driver."""
    import hashlib
    import os

    from mongo_arrow_spark.sources import register

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    d = f"/tmp/mas_gzip_{tag}"
    marker = os.path.join(d, "_READY")
    if os.path.exists(marker):
        return d
    register(spark)
    (
        _t(spark, sf_dir, "documents")
        .repartition(4)
        .write.format("documents")
        .option("compression", "gzip")
        .mode("overwrite")
        .save(d)
    )
    open(marker, "w").close()
    return d


def _warc_corpus_dir(spark, sf_dir: str) -> str:
    """Materialize the documents table as a WARC archive layout (one
    .warc.gz per partition, Common Crawl shape; idempotent per
    sf_dir) through the engine's own distributed writer."""
    import hashlib
    import os

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    d = f"/tmp/mas_warc_{tag}"
    marker = os.path.join(d, "_READY")
    if os.path.exists(marker):
        return d
    from mongo_arrow_spark.sources.warc import write_warc

    write_warc(
        _t(spark, sf_dir, "documents").repartition(4).select(
            "doc_id", "text"
        ),
        d,
    )
    open(marker, "w").close()
    return d


@query(
    "q_scan_warc",
    # COALESCE mirrors the writer's documented NULL→'' coercion (WARC
    # has no null body), so the oracle stays exact on corpora that
    # carry NULL text
    "SELECT doc_id, COALESCE(text, '') AS text FROM documents "
    "ORDER BY doc_id",
)
def q_scan_warc(spark, sf_dir):
    """WARC crawl-archive ingest (r10): the corpus round-trips through
    a Common-Crawl-shaped archive — one gzip-membered .warc.gz per
    partition, each document a WARC response record with an HTTP
    envelope — and is read back through the warc source (bin-packed
    whole-file groups, HTTP strip, typed Arrow batches). Hash-matching
    the parquet oracle proves the crawl path byte-lossless end-to-end
    incl. non-ASCII payloads. Plain (uncompressed) archives
    additionally byte-split with validated record-boundary seek —
    pinned with payload-embedded fake markers in tests/test_warc.py."""
    from mongo_arrow_spark.sources.warc import register_warc

    register_warc(spark)
    d = _warc_corpus_dir(spark, sf_dir)
    df = spark.read.format("warc").load(d + "/*.warc.gz")
    return df.select(
        F.regexp_extract("record_id", r"urn:mas:(\d+)", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("payload").cast("string").alias("text"),
    ).orderBy("doc_id")


def _warc_html_corpus_dir(spark, sf_dir: str) -> str:
    """The documents table wrapped in realistic HTML (script/style
    blocks, comments, entities) and shipped as a WARC archive —
    the crawl-ingest fixture for the extraction entry."""
    import hashlib
    import os

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    d = f"/tmp/mas_warch_{tag}"
    marker = os.path.join(d, "_READY")
    if os.path.exists(marker):
        return d
    from mongo_arrow_spark.sources.warc import write_warc

    wrapped = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit(
                '<html><head><title>d</title><script type="text/javascript">'
                "var x = 1 < 2;</script><style>p { color: red }</style>"
                "</head><body><!-- chrome --><p>"
            ),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("</p><div>&amp; footer</div></body></html>"),
        ).alias("text"),
    )
    write_warc(wrapped.repartition(4), d)
    open(marker, "w").close()
    return d


@query(
    "q_scan_warc_html",
    r"""
    SELECT doc_id,
           TRIM(REGEXP_REPLACE(COALESCE(text, '') || ' & footer',
                               '\s+', ' ', 'g')) AS text
    FROM documents ORDER BY doc_id
    """,
)
def q_scan_warc_html(spark, sf_dir):
    """The crawl path end-to-end (r10): HTML pages inside a
    Common-Crawl-shaped WARC archive → warc source (HTTP strip) →
    ``text.html_to_text`` (JVM-side regexp chain: script/style/comment
    removal, tag strip, entity unescape, whitespace collapse) →
    (doc_id, text). The oracle reconstructs the expected extraction
    from the parquet base — hash equality proves the WHOLE chain
    (archive framing, gzip members, HTTP envelope, HTML stripping)
    reproduces the original prose byte-for-byte (modulo the collapsed
    whitespace the extractor defines)."""
    from mongo_arrow_spark.operators import text as text_ops
    from mongo_arrow_spark.sources.warc import register_warc

    register_warc(spark)
    d = _warc_html_corpus_dir(spark, sf_dir)
    df = spark.read.format("warc").load(d + "/*.warc.gz")
    return df.select(
        F.regexp_extract("record_id", r"urn:mas:(\d+)", 1)
        .cast("bigint")
        .alias("doc_id"),
        text_ops.html_to_text(F.col("payload")).alias("text"),
    ).orderBy("doc_id")


@query(
    "q_scan_gzip_dump",
    """
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_id
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def q_scan_gzip_dump(spark, sf_dir):
    """Compressed dump ingest: the corpus is round-tripped through gzipped
    jsonl (the mongodump --gzip / log-shipper shape — reference input
    contract lib.pyx:296-311 is a format-agnostic byte stream) and read
    back through the documents source's whole-file bin-packed partitions,
    then aggregated. Hash-matching the parquet oracle proves the
    compressed path is byte-lossless end-to-end."""
    from mongo_arrow_spark.sources import register

    register(spark)
    d = _gzip_corpus_dir(spark, sf_dir)
    df = (
        spark.read.format("documents")
        .option(
            "declaredSchema",
            "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint",
        )
        .load(d)
    )
    return (
        df.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").cast("bigint").alias("first_id"),
        )
        .orderBy("lang")
    )


def _partitioned_corpus_dir(spark, sf_dir: str) -> str:
    """Materialize the documents table as a hive-partitioned jsonl layout
    (lang=<v>/ dirs; idempotent per sf_dir) through the engine's own sink."""
    import hashlib
    import os

    from mongo_arrow_spark.sources import register

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    d = f"/tmp/mas_hive_{tag}"
    marker = os.path.join(d, "_READY")
    if os.path.exists(marker):
        return d
    register(spark)
    (
        _t(spark, sf_dir, "documents")
        .repartition(4)
        .write.format("documents")
        .option("partitionBy", "lang")
        .mode("overwrite")
        .save(d)
    )
    open(marker, "w").close()
    return d


@query(
    "q_scan_partitioned",
    """
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_id
    FROM documents WHERE lang IN ('en', 'de') GROUP BY lang ORDER BY lang
    """,
)
def q_scan_partitioned(spark, sf_dir):
    """Hive-partitioned round trip (r6): the corpus is written through
    the sink's partitionBy=lang layout and read back with pushdown=true,
    so the lang IN ('en','de') filter prunes every other language's
    files at LISTING time (zero I/O, zero decode — the jsonl analog of
    parquet partition pruning). Hash-matching the parquet oracle proves
    the partitioned layout is value-lossless, partition columns
    included."""
    from mongo_arrow_spark.sources import register

    register(spark)
    d = _partitioned_corpus_dir(spark, sf_dir)
    df = (
        spark.read.format("documents")
        .option(
            "declaredSchema",
            "doc_id bigint, text string, source string, n_chars bigint, "
            "lang string",
        )
        .option("pushdown", "true")
        .load(d)
        .filter(F.col("lang").isin("en", "de"))
    )
    return (
        df.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").cast("bigint").alias("first_id"),
        )
        .orderBy("lang")
    )


@query("profile_sketches")  # rows-only: Datasketches estimates aren't DuckDB-reproducible
def q_profile_sketches(spark, sf_dir):
    """Mergeable sketch profile of the documents table: per-source HLL +
    KLL artifacts merged into one row per column, decoded to estimates.
    Accuracy vs exact distinct/quantiles and merge==whole equivalence
    pinned by tests/test_sketch_profile.py.
    """
    from mongo_arrow_spark.operators import profile

    docs = _t(spark, sf_dir, "documents")
    artifacts = profile.sketch_profile(docs, batch_col="source")
    merged = profile.merge_sketch_profiles(artifacts)
    return profile.sketch_estimates(merged).orderBy("column")


@query(
    "quality_nb_classifier",
    f"""
    WITH toks AS (
      SELECT doc_id, (lang = 'en') AS pos, unnest({_TOKS}) AS w FROM documents
    ), agg AS (
      SELECT w, SUM(CASE WHEN pos THEN 1 ELSE 0 END)::DOUBLE AS pc,
                SUM(CASE WHEN pos THEN 0 ELSE 1 END)::DOUBLE AS nc
      FROM toks GROUP BY w
    ), tot AS (
      SELECT SUM(pc) AS p, SUM(nc) AS n, COUNT(*)::DOUBLE AS v FROM agg
    ), model AS (
      SELECT w, ln((pc+1.0)/(p+v)) - ln((nc+1.0)/(n+v)) AS lo FROM agg, tot
    )
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(m.lo), 4) + 0.0 AS nb_logodds
    FROM toks t JOIN model m USING (w) GROUP BY t.doc_id
    """,
)
def q_quality_nb_classifier(spark, sf_dir):
    """Supervised Naive-Bayes quality classifier (r7), fit+score
    end-to-end: token log-odds are FIT from a labeled seed (here:
    lang='en' as the target class, the CCNet-style target-language
    scorer) and every document scored as the mean log-odds of its
    tokens. One vocab aggregation, a broadcast model join, one ~1-row-
    per-doc shuffle — the plan a trained linear classifier runs at
    100 TB. The oracle re-derives fit AND score in SQL."""
    docs = _t(spark, sf_dir, "documents")
    model = quality.fit_token_logodds(
        docs.withColumn("__pos", F.col("lang") == "en"), "__pos"
    )
    return quality.score_token_logodds(docs, model).select(
        "doc_id",
        "n_tokens",
        (F.round("nb_logodds", 4) + 0.0).alias("nb_logodds"),
    )


@query(
    "dsir_resample",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, {_TOKS} AS t FROM documents
    ), grams AS (
      SELECT doc_id, lang, unnest(list_concat(t,
         list_transform(range(1, greatest(len(t),1)), i -> t[i] || ' ' || t[i+1]))) AS g
      FROM toks
    ), b AS (
      SELECT doc_id, lang, ('0x' || substr(md5(g),1,8))::UBIGINT % 4096 AS b FROM grams
    ), tc AS (
      SELECT b, COUNT(*)::DOUBLE AS c FROM b WHERE lang = 'en' GROUP BY b
    ), rc AS (
      SELECT b, COUNT(*)::DOUBLE AS c FROM b GROUP BY b
    ), tot AS (
      SELECT (SELECT SUM(c) FROM tc) AS tt, (SELECT SUM(c) FROM rc) AS rt
    ), ratio AS (
      SELECT COALESCE(tc.b, rc.b) AS b,
             ln((COALESCE(tc.c,0)+1.0)/(tot.tt+4096.0))
           - ln((COALESCE(rc.c,0)+1.0)/(tot.rt+4096.0)) AS lr
      FROM tc FULL JOIN rc ON tc.b = rc.b, tot
    ), w0 AS (
      SELECT b.doc_id, SUM(r.lr) AS log_importance
      FROM b JOIN ratio r USING (b) GROUP BY b.doc_id
    ), w AS (
      -- LEFT JOIN from documents: a doc whose text tokenizes to zero
      -- grams keeps log_importance 0 (weight 1) and stays eligible,
      -- matching apply_bucket_ratios' left-join + fillna(0.0)
      SELECT d.doc_id, COALESCE(w0.log_importance, 0.0) AS log_importance
      FROM documents d LEFT JOIN w0 USING (doc_id)
    ), keyed AS (
      SELECT doc_id, log_importance,
             log_importance + -ln(-ln((('0x' || substr(md5('r7:' || CAST(doc_id AS VARCHAR)),1,8))::UBIGINT + 1.0)/4294967297.0)) AS k
      FROM w
    )
    SELECT doc_id, ROUND(log_importance, 4) + 0.0 AS log_importance
    FROM keyed ORDER BY k DESC, doc_id LIMIT 100
    """,
)
def q_dsir_resample(spark, sf_dir):
    """DSIR importance resampling (r7, Xie et al. 2023): hashed
    unigram+bigram bucket counts give each raw document a target-vs-raw
    log-likelihood ratio (target = lang='en'), and a seeded Gumbel-top-k
    draws 100 docs WITHOUT replacement with probability ∝ exp(log w) —
    fully deterministic, so the DuckDB oracle recomputes the identical
    sample. Shuffles are bucket-sized (4096) and ~1-row-per-doc; the
    selection is a TakeOrdered top-k, never a full sort."""
    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    samp = quality.importance_resample(docs, target, k=100, seed="r7")
    return samp.select(
        "doc_id",
        (F.round("log_importance", 4) + 0.0).alias("log_importance"),
    )


@query(
    "corpus_card",
    """
    WITH base AS (
      SELECT doc_id, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
             CAST(length(text) AS BIGINT) AS nc, lang
      FROM documents),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(nt) AS BIGINT) AS n_tokens,
             CAST(SUM(nc) AS BIGINT) AS n_chars,
             ROUND(CAST(SUM(nt) AS DOUBLE) / COUNT(*), 4) + 0.0
               AS mean_tokens,
             ROUND(quantile_cont(nt, 0.5), 4) + 0.0 AS p50_tokens,
             -- NULL texts count as ONE duplicate class (sentinel
             -- digest), mirroring the engine's snapshot_diff convention
             ROUND(1.0 - COUNT(DISTINCT COALESCE(md5(text), '__null__'))
                         * 1.0 / COUNT(*), 4)
               + 0.0 AS exact_dup_fraction
      FROM base),
    langs AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
              FROM base GROUP BY lang),
    lagg AS (
      SELECT CAST((SELECT COUNT(*) FROM langs) AS BIGINT) AS n_langs,
             lang AS top_lang,
             ROUND(n * 1.0 / (SELECT SUM(n) FROM langs), 4) + 0.0
               AS top_lang_fraction
      FROM langs ORDER BY n DESC, lang DESC LIMIT 1)
    SELECT * FROM agg CROSS JOIN lagg
    """,
)
def q_corpus_card(spark, sf_dir):
    """One-row exact dataset card (r8): volume, length distribution,
    exact-dup rate, language concentration — two aggregations over one
    scan, every number exact and diffable across corpus snapshots."""
    from mongo_arrow_spark.operators.profile import corpus_card

    card = corpus_card(_t(spark, sf_dir, "documents"))
    return card.select(
        "n_docs", "n_tokens", "n_chars",
        (F.round("mean_tokens", 4) + 0.0).alias("mean_tokens"),
        (F.round("p50_tokens", 4) + 0.0).alias("p50_tokens"),
        (F.round("exact_dup_fraction", 4) + 0.0).alias("exact_dup_fraction"),
        "n_langs", "top_lang",
        (F.round("top_lang_fraction", 4) + 0.0).alias("top_lang_fraction"),
    )


@query(
    "dedup_paragraphs",
    r"""
    WITH d2 AS (
      SELECT doc_id,
             regexp_replace(text, '((?:\S+ ){4}\S+) ',
                            '\1' || chr(10) || chr(10), 'g') AS text
      FROM documents
    ), lists AS (
      SELECT doc_id, string_split(text, chr(10) || chr(10)) AS l FROM d2
    ), pars AS (
      SELECT doc_id, unnest(range(len(l))) AS pos, unnest(l) AS par
      FROM lists
    ), keyed AS (
      SELECT doc_id, pos, par, md5(par) AS dg
      FROM pars WHERE trim(par) <> ''
    ), ranked AS (
      SELECT doc_id, pos, par,
             row_number() OVER (PARTITION BY dg ORDER BY doc_id, pos) AS rn
      FROM keyed
    )
    SELECT doc_id, string_agg(par, chr(10) || chr(10) ORDER BY pos) AS text
    FROM ranked WHERE rn = 1 GROUP BY doc_id
    """,
)
def q_dedup_paragraphs(spark, sf_dir):
    """Cross-corpus paragraph dedup (r8 sixth wave — CCNet §4.1): every
    paragraph survives only at its first (doc_id, position) occurrence;
    documents are rebuilt from the survivors. The corpus is single-line,
    so both engines first insert a paragraph break after every 5th word
    with the identical regex — the operator then runs on realistic
    multi-paragraph documents. Spark keys winners with a
    partial-aggregating min(struct(id,pos)) over md5 digests (map-side
    combine absorbs hot paragraphs — no windowed row_number serializing
    a hot digest into one task); the oracle's row_number is the
    semantics spec, not the plan."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text", F.regexp_replace("text", r"((?:\S+ ){4}\S+) ", "$1\n\n")
    )
    return dedup.dedup_paragraphs(docs).select("doc_id", "text")


@query(
    "cluster_kmeans",
    r"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
      WHERE embedding IS NOT NULL
    ), init AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c,
             qv
      FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4
    ), d0 AS (
      SELECT q.vec_id, q.qv, i.c,
             list_sum(list_transform(range(1, len(q.qv) + 1),
               j -> (q.qv[j] - i.qv[j]) * (q.qv[j] - i.qv[j]))) AS dist
      FROM q CROSS JOIN init i
    ), a0 AS (
      SELECT vec_id, qv, c FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        FROM d0
      ) WHERE rn = 1
    ), s1 AS (
      SELECT c, u.d, SUM(qv[u.d + 1]) AS s, COUNT(*) AS n
      FROM a0 CROSS JOIN range(64) u(d)
      GROUP BY c, u.d
    ), c1 AS (
      SELECT c, list((abs(s) // n) * (CASE WHEN s < 0 THEN -1 ELSE 1 END)
                     ORDER BY d) AS qv
      FROM s1 GROUP BY c
    ), cent1 AS (
      SELECT i.c, COALESCE(c1.qv, i.qv) AS qv
      FROM init i LEFT JOIN c1 USING (c)
    ), d1 AS (
      SELECT q.vec_id, q.qv, i.c,
             list_sum(list_transform(range(1, len(q.qv) + 1),
               j -> (q.qv[j] - i.qv[j]) * (q.qv[j] - i.qv[j]))) AS dist
      FROM q CROSS JOIN cent1 i
    ), a1 AS (
      SELECT vec_id, qv, c FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        FROM d1
      ) WHERE rn = 1
    ), s2 AS (
      SELECT c, u.d, SUM(qv[u.d + 1]) AS s, COUNT(*) AS n
      FROM a1 CROSS JOIN range(64) u(d)
      GROUP BY c, u.d
    ), c2 AS (
      SELECT c, list((abs(s) // n) * (CASE WHEN s < 0 THEN -1 ELSE 1 END)
                     ORDER BY d) AS qv
      FROM s2 GROUP BY c
    ), cent2 AS (
      SELECT i.c, COALESCE(c2.qv, i.qv) AS qv
      FROM cent1 i LEFT JOIN c2 USING (c)
    ), d2 AS (
      SELECT q.vec_id, i.c,
             list_sum(list_transform(range(1, len(q.qv) + 1),
               j -> (q.qv[j] - i.qv[j]) * (q.qv[j] - i.qv[j]))) AS dist
      FROM q CROSS JOIN cent2 i
    )
    SELECT vec_id, CAST(c AS BIGINT) AS cluster FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
      FROM d2
    ) WHERE rn = 1
    """,
)
def q_cluster_kmeans(spark, sf_dir):
    """Deterministic quantized k-means (r8 sixth wave): fit k=4 / 2
    Lloyd steps on the embeddings table, then assign every vector —
    EXACT across engines because every distance and centroid update is
    integer arithmetic on 1e-4-quantized values (the oracle unrolls the
    identical iterations; MLlib's float k-means could never hash-match).
    Spark's assignment pass is a map-only codegen projection with the
    k×d centroid literals compiled into the plan; each fit iteration is
    one partial-aggregating shuffle of k×(d+1) longs."""
    from mongo_arrow_spark.operators import clustering

    emb = _t(spark, sf_dir, "embeddings")
    model = clustering.kmeans_fit(emb, k=4, iters=2)
    return clustering.kmeans_assign(emb, model).select("vec_id", "cluster")


@query(
    "embed_project",
    r"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
      -- mirror random_projection's validity guard exactly: corrupt rows
      -- (NULL element / foreign length) project to NULL on the Spark
      -- side and are excluded on both sides here (r8 review fix — SQL
      -- SUM would otherwise skip NULL terms and emit a partial sum)
      WHERE embedding IS NOT NULL AND len(embedding) = 64
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
    ), p AS (
      SELECT vec_id, v.j,
             (SELECT SUM(qv[u.i + 1] *
                (CASE WHEN ('0x' || substr(md5('rp:' || u.i || ':' || v.j), 1, 1))::UBIGINT % 2 = 0
                      THEN 1 ELSE -1 END))
              FROM range(64) u(i)) AS c
      FROM q CROSS JOIN range(8) v(j)
    )
    SELECT vec_id, list(c ORDER BY j) AS proj FROM p GROUP BY vec_id
    """,
)
def q_embed_project(spark, sf_dir):
    """Seeded ±1 Johnson–Lindenstrauss projection (r8 sixth wave,
    Achlioptas 2003): 64 → 8 dims in pure integer arithmetic on the
    1e-4 fixed-point carrier — the matrix regrows from md5(seed,i,j) in
    BOTH engines, so nothing ships and the hash match is exact. Spark
    side is one map-only codegen projection (the sign matrix compiles
    into the plan as literals); feeds kmeans_fit(scale=1) for clustering
    in the cheaper projected space."""
    from mongo_arrow_spark.operators import clustering

    emb = _t(spark, sf_dir, "embeddings")
    return (
        clustering.random_projection(emb, out_dim=8, dim=64)
        .filter(F.col("proj").isNotNull())
        .select("vec_id", "proj")
    )


def _pagerank_sql(
    iters: int = 3,
    d_num: int = 85,
    d_den: int = 100,
    weighted: bool = False,
    e_cte: str | None = None,
) -> str:
    """Unrolled integer-exact PageRank oracle (r8 ninth wave): the
    part→supplier graph from lineitem (suppliers offset out of the part
    id space), ``iters`` power iterations of the identical fixed-point
    recurrence the engine runs (truncating integer division — DuckDB
    ``//`` == Spark ``div`` on non-negatives). CTEs are MATERIALIZED:
    each iteration references its predecessor twice (mass join + carry),
    and inlined chains expand exponentially. ``e_cte`` swaps in a
    different edge CTE (must define ``e(src, dst, w)``) — the r14 host-
    authority entry feeds the link-fixture host graph through the same
    recurrence."""
    scale = 10**12
    if e_cte is None:
        e_cte = (
            """e AS MATERIALIZED (
      SELECT l_partkey AS src, l_suppkey + 1000000000000 AS dst,
             COUNT(*)::BIGINT AS w
      FROM lineitem
      WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
      GROUP BY 1, 2
    )"""
            if weighted
            else """e AS MATERIALIZED (
      SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000000000 AS dst,
             1::BIGINT AS w
      FROM lineitem
      WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
    )"""
        )
    parts = [
        e_cte,
        """dg AS MATERIALIZED (
      SELECT src, SUM(w)::BIGINT AS deg FROM e GROUP BY src
    )""",
        """nodes AS MATERIALIZED (
      SELECT src AS node FROM e UNION SELECT dst FROM e
    )""",
        f"""k AS MATERIALIZED (
      SELECT {scale} // COUNT(*) AS p0,
             (({d_den} - {d_num}) * ({scale} // COUNT(*))) // {d_den} AS base
      FROM nodes
    )""",
        """r0 AS MATERIALIZED (
      SELECT node, (SELECT p0 FROM k) AS rank FROM nodes
    )""",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""i{i} AS MATERIALIZED (
      SELECT e.dst, SUM((r.rank * e.w) // d.deg) AS mass
      FROM e JOIN dg d USING (src) JOIN r{i - 1} r ON r.node = e.src
      GROUP BY e.dst
    )"""
        )
        parts.append(
            f"""r{i} AS MATERIALIZED (
      SELECT n.node,
             (SELECT base FROM k)
               + ({d_num} * COALESCE(i.mass, 0)) // {d_den} AS rank
      FROM nodes n LEFT JOIN i{i} i ON i.dst = n.node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT node, CAST(rank AS BIGINT) AS rank FROM r{iters}"
        " ORDER BY node"
    )


@query("graph_pagerank", _pagerank_sql(3))
def q_graph_pagerank(spark, sf_dir):
    """Integer-exact PageRank (r8 ninth wave) over the part→supplier
    graph: 3 power iterations, damping 85/100, all mass fixed-point
    integers — the centrality signal curation pipelines use to pick
    canonical documents / weight domain authority. Each iteration is
    exactly two shuffles (join ranks onto degree-annotated edges by
    src, partial-agg sum by dst) with a localCheckpoint between rounds
    (the connected_components loop discipline); the oracle unrolls the
    identical recurrence. GraphX's float PageRank could never
    hash-match — this one is bit-exact by construction."""
    from mongo_arrow_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + F.lit(10**12)).alias("dst"),
    )
    return (
        pagerank(edges, iters=3)
        .select("node", "rank")
        .orderBy("node")
    )


@query("sim_pq_topk")  # rows-only: the m-subspace Lloyd fit isn't one SQL
def q_sim_pq_topk(spark, sf_dir):
    """Product-quantization ANN (r8 eleventh wave): fit 8×8-code
    deterministic codebooks (kmeans_fit per subspace — the fit math is
    graded via cluster_kmeans's unrolled oracle), encode the corpus to
    8 small codes (map-only, codebooks as plan literals), then
    asymmetric-distance top-10 for the min-id row's vector: one
    (id, codes)-narrow scan + element_at lookups against the per-query
    driver-built distance table + TakeOrdered. Bit-exact replay oracle
    runs in tests/test_pq.py; here the driver pins rows+schema and that
    fit→encode→ADC executes end-to-end."""
    from mongo_arrow_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    model = sim.fit_pq(emb, m=8, codes=8, iters=1, dim=64)
    query = list(emb.orderBy("vec_id").first()["embedding"])
    return sim.pq_topk(sim.pq_encode(emb, model), model, query, k=10)


@query(
    "corpus_diff",
    """
    WITH o AS (
      SELECT doc_id AS id,
             COALESCE(md5(text), '__null__') AS dg_old,
             COALESCE(len(string_split(text, ' ')), 0)::BIGINT AS tok_old
      FROM documents WHERE doc_id % 3 <> 0
    ), n AS (
      SELECT doc_id AS id,
             COALESCE(md5(CASE WHEN doc_id % 5 = 0
                              THEN text || ' EDITED' ELSE text END),
                      '__null__') AS dg_new,
             COALESCE(len(string_split(
                 CASE WHEN doc_id % 5 = 0 THEN text || ' EDITED'
                      ELSE text END, ' ')), 0)::BIGINT AS tok_new
      FROM documents WHERE doc_id % 7 <> 0
    ), j AS (
      SELECT COALESCE(o.id, n.id) AS id, dg_old, dg_new,
             COALESCE(tok_old, 0) AS tok_old, COALESCE(tok_new, 0) AS tok_new
      FROM o FULL OUTER JOIN n ON o.id = n.id
    )
    SELECT CASE WHEN dg_old IS NULL THEN 'added'
                WHEN dg_new IS NULL THEN 'removed'
                WHEN dg_old <> dg_new THEN 'changed'
                ELSE 'unchanged' END AS status,
           COUNT(*)::BIGINT AS n_docs,
           SUM(tok_old)::BIGINT AS tokens_old,
           SUM(tok_new)::BIGINT AS tokens_new
    FROM j GROUP BY 1 ORDER BY 1
    """,
)
def q_corpus_diff(spark, sf_dir):
    """Snapshot diff (r8): synthesize old/new corpus versions from the
    documents table (old drops ids %3==0, new drops %7==0 and edits
    %5==0), then one digest full-outer join + 4-row rollup — the exact
    added/removed/changed/unchanged accounting read before promoting a
    re-crawl. Payloads never shuffle; only 16-byte digests do."""
    from mongo_arrow_spark.operators.profile import snapshot_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat("text", F.lit(" EDITED"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new)


@query("graph_pagerank_weighted", _pagerank_sql(3, weighted=True))
def q_graph_pagerank_weighted(spark, sf_dir):
    """WEIGHTED integer-exact PageRank (r8): the same part→supplier
    graph with edge weight = lineitem multiplicity, so a supplier that
    ships a part often pulls proportionally more authority —
    share(u→v) = (rank·w) div out-weight, exactly the unweighted
    recurrence at w≡1. The oracle unrolls the identical weighted
    iterations; hash-equality proves the weight dial end-to-end."""
    from mongo_arrow_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    edges = li.groupBy(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + F.lit(10**12)).alias("dst"),
    ).agg(F.count(F.lit(1)).cast("long").alias("w"))
    return (
        pagerank(edges, iters=3, weight_col="w")
        .select("node", "rank")
        .orderBy("node")
    )


def _hits_sql(iters: int = 3, scale: int = 10**6) -> str:
    """Unrolled integer-exact HITS oracle: per half-iteration, the sum
    over the joined side then an ∞-norm renormalization whose max is a
    scalar subquery over the materialized raw CTE."""
    parts = [
        """e AS MATERIALIZED (
      SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000000000 AS dst
      FROM lineitem
      WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
    )""",
        """nodes AS MATERIALIZED (
      SELECT src AS node FROM e UNION SELECT dst FROM e
    )""",
        f"""h0 AS MATERIALIZED (
      SELECT node, CAST({scale} AS BIGINT) AS hub FROM nodes
    )""",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""ra{i} AS MATERIALIZED (
      SELECT e.dst, SUM(h.hub) AS s
      FROM e JOIN h{i - 1} h ON h.node = e.src GROUP BY e.dst
    )"""
        )
        parts.append(
            f"""a{i} AS MATERIALIZED (
      SELECT n.node,
             CAST((COALESCE(r.s, 0) * {scale})
                  // (SELECT MAX(s) FROM ra{i}) AS BIGINT) AS auth
      FROM nodes n LEFT JOIN ra{i} r ON r.dst = n.node
    )"""
        )
        parts.append(
            f"""rh{i} AS MATERIALIZED (
      SELECT e.src, SUM(a.auth) AS s
      FROM e JOIN a{i} a ON a.node = e.dst GROUP BY e.src
    )"""
        )
        parts.append(
            f"""h{i} AS MATERIALIZED (
      SELECT n.node,
             CAST((COALESCE(r.s, 0) * {scale})
                  // (SELECT MAX(s) FROM rh{i}) AS BIGINT) AS hub
      FROM nodes n LEFT JOIN rh{i} r ON r.src = n.node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT h.node, h.hub, a.auth AS authority
    FROM h{iters} h JOIN a{iters} a USING (node) ORDER BY node"""
    )


@query("graph_hits", _hits_sql(3))
def q_graph_hits(spark, sf_dir):
    """Integer-exact HITS (r8): hub/authority scores over the
    part→supplier graph — the mutually-reinforcing centrality for
    bipartite curation graphs (a good hub points at good authorities),
    where PageRank only measures inbound mass. Two partial-agg shuffles
    per iteration plus one bounded 1-row max agg per half (the ∞-norm
    renormalization, truncating integer division both engines); the
    oracle unrolls the identical halves."""
    from mongo_arrow_spark.operators.graph import hits

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + F.lit(10**12)).alias("dst"),
    )
    return hits(edges, iters=3).orderBy("node")


@query(
    "url_canonicalize",
    """
    SELECT doc_id,
           CASE doc_id % 4
             WHEN 0 THEN 'http://www.' || source || '.example.com/docs/'
                         || doc_id || '?a=1&b=2'
             WHEN 1 THEN 'https://' || source || '.example.com/docs/'
                         || doc_id
             WHEN 2 THEN 'https://' || source || '.example.com:8443/docs/'
                         || doc_id
             ELSE 'http://' || source || '.example.com/docs/' || doc_id
           END AS url_canonical
    FROM documents ORDER BY doc_id
    """,
)
def q_url_canonicalize(spark, sf_dir):
    """URL canonicalization (r11): four deterministic messy variants per
    document — uppercase scheme/host + default port + tracking params +
    fragment; userinfo + ``:443`` + trailing slash; a kept non-default
    port; tracking-only query string — each collapsed to its canonical
    form by ``url.canonicalize_url`` (one codegen'd JVM projection, no
    UDF, no shuffle beyond the final presentation sort). The oracle is
    CLOSED-FORM: DuckDB constructs the expected canonical string
    directly, so any drift in the chain (scheme/host case, port rules,
    slash collapse, param strip/sort) hash-mismatches. First stage of
    the crawl path before content dedup (CCNet/C4/RefinedWeb all
    URL-dedup first)."""
    from mongo_arrow_spark.operators import url as U

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    src = F.col("source")
    m = F.col("doc_id") % 4
    raw = (
        F.when(
            m == 0,
            F.concat(
                F.lit("HTTP://WWW."), src, F.lit(".Example.COM:80/docs/"),
                did, F.lit("/?utm_source=feed&b=2&a=1#top"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("https://u:p@"), src, F.lit(".example.com:443/docs/"),
                did, F.lit("/"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("https://"), src, F.lit(".example.com:8443/docs/"), did
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://"), src, F.lit(".example.com/docs/"), did,
                F.lit("?gclid=g&utm_medium=x"),
            )
        )
    )
    return docs.select(
        "doc_id", U.canonicalize_url(raw).alias("url_canonical")
    ).orderBy("doc_id")


@query(
    "url_domain_cap",
    """
    WITH u AS (
      SELECT doc_id,
             'brand' || (doc_id % 7)
             || CASE lang WHEN 'en' THEN '.co.uk'
                          WHEN 'de' THEN '.com.au'
                          ELSE '.org' END AS domain
      FROM documents
    ), r AS (
      SELECT doc_id, domain,
             ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id) AS rk
      FROM u
    )
    SELECT doc_id, domain FROM r WHERE rk <= 25 ORDER BY doc_id
    """,
)
def q_url_domain_cap(spark, sf_dir):
    """Per-registered-domain cap (r11): synthesized crawl URLs
    (subdomain + brand + a public suffix that exercises BOTH multi-label
    suffix matching ``*.co.uk``/``*.com.au`` and the single-label
    fallback ``.org``), registered-domain extraction as a pure JVM
    expression (the suffix list rides in the plan — no join, no
    shuffle), then ``cap_per_domain`` keeping the 25 lowest doc_ids per
    domain through the Partial WindowGroupLimit cut (tests/test_url.py
    pins the plan). The oracle computes the expected domain CLOSED-FORM
    and replays the cap as a window — winners, not just counts, must
    match. This is RefinedWeb's "no domain dominates" rule keyed by the
    URL itself."""
    from mongo_arrow_spark.operators import url as U

    docs = _t(spark, sf_dir, "documents")
    sfx = (
        F.when(F.col("lang") == "en", F.lit(".co.uk"))
        .when(F.col("lang") == "de", F.lit(".com.au"))
        .otherwise(F.lit(".org"))
    )
    u = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://sub"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".brand"), (F.col("doc_id") % 7).cast("string"),
            sfx, F.lit("/p/"), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    kept = U.cap_per_domain(u, "url", n=25)
    return kept.select(
        "doc_id",
        U.registered_domain(U.url_host(F.col("url"))).alias("domain"),
    ).orderBy("doc_id")


def _warc_main_corpus_dir(spark, sf_dir: str) -> str:
    """The documents table wrapped in FULL page chrome (header, nav
    menu, link farm, footer — the blocks production extractors drop)
    and shipped as a WARC archive — the main-content-extraction
    fixture."""
    import hashlib
    import os

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    d = f"/tmp/mas_warcm_{tag}"
    marker = os.path.join(d, "_READY")
    if os.path.exists(marker):
        return d
    from mongo_arrow_spark.sources.warc import write_warc

    wrapped = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit(
                "<html><head><title>d</title></head><body>"
                "<header><h1>Site</h1></header>"
                '<nav><ul><li><a href="/">Home</a></li>'
                '<li><a href="/about">About the site</a></li></ul></nav>'
                "<article><p>"
            ),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(
                '</p></article><div class="rel"><a href="/1">one</a> '
                '<a href="/2">two</a> <a href="/3">three</a></div>'
                "<footer>&copy; 2026 Example</footer></body></html>"
            ),
        ).alias("text"),
    )
    write_warc(wrapped.repartition(4), d)
    open(marker, "w").close()
    return d


@query(
    "q_scan_warc_main",
    r"""
    SELECT doc_id,
           CASE WHEN LENGTH(TRIM(REGEXP_REPLACE(COALESCE(text, ''),
                                                '\s+', ' ', 'g'))) >= 25
                THEN TRIM(REGEXP_REPLACE(COALESCE(text, ''),
                                         '\s+', ' ', 'g'))
                ELSE '' END AS text
    FROM documents ORDER BY doc_id
    """,
)
def q_scan_warc_main(spark, sf_dir):
    """Main-content extraction over the crawl path (r11): pages carry
    FULL chrome — header, nav menu, a related-links farm, footer —
    and ``text.html_main_text`` must return exactly the article prose:
    container removal drops the header/nav/footer blocks whole, and the
    per-segment length + link-density filter kills the link farm (13
    chars, density 1.0). The oracle is CLOSED-FORM from the parquet
    base: the normalized document text when it meets the 25-char
    segment floor, else '' — so chrome leaking through, prose dropped,
    or a filter-threshold drift all hash-mismatch. Entirely JVM
    expressions (the strip chain runs inside transform/filter HOF
    lambdas; plan gate in tests/test_warc.py)."""
    from mongo_arrow_spark.operators import text as text_ops
    from mongo_arrow_spark.sources.warc import register_warc

    register_warc(spark)
    d = _warc_main_corpus_dir(spark, sf_dir)
    df = spark.read.format("warc").load(d + "/*.warc.gz")
    return df.select(
        F.regexp_extract("record_id", r"urn:mas:(\d+)", 1)
        .cast("bigint")
        .alias("doc_id"),
        text_ops.html_main_text(F.col("payload")).alias("text"),
    ).orderBy("doc_id")


@query(
    "q_crawl_stream",
    "SELECT doc_id, COALESCE(text, '') AS text FROM documents "
    "ORDER BY doc_id",
)
def q_crawl_stream(spark, sf_dir):
    """Streaming crawl ingest (r11): the SAME archive layout
    ``q_scan_warc`` grades, consumed through the STREAMING surface —
    ``read_warc_stream`` over the archive directory, drained with an
    availableNow trigger into a memory sink, payloads decoded back to
    (doc_id, text). Hash-equality against the parquet base proves
    streaming == batch on the crawl path (the bar every other
    streaming entry meets): seen-file-set offsets, per-microbatch
    split planning, Arrow batches, HTTP strip — all through the
    StreamExecution machinery, not the batch reader."""
    import uuid

    from mongo_arrow_spark.sources.warc import read_warc_stream

    d = _warc_corpus_dir(spark, sf_dir)
    name = f"mas_crawl_stream_{uuid.uuid4().hex[:8]}"
    q = (
        read_warc_stream(spark, d)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        # a timed-out drain would read a partially-filled sink as if
        # it were the full result — fail loudly instead
        q.stop()
        raise RuntimeError("q_crawl_stream: drain did not finish in 300s")
    return spark.table(name).select(
        F.regexp_extract("record_id", r"urn:mas:(\d+)", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("payload").cast("string").alias("text"),
    ).orderBy("doc_id")


# Charset-transcode fixtures (r12): (prose, python codec, declared
# Content-Type). Hex-encoded at import so the payloads ride the plan as
# unhex literals — deterministic in both engines; the oracle replays
# the PROSE closed-form. Covers the big single-byte families, the CJK
# multi-byte families, the mislabeled-UTF-8 correction and the
# no-declaration cp1252 fallback (operators/encoding.py).
_CHARSET_FIXTURES = [
    ("Füße Öl Größe", "windows-1252",
     "text/html; charset=iso-8859-1"),
    ("Русский текст",
     "koi8-r", "text/html; charset=koi8-r"),
    ("日本語のページ", "cp932",
     "text/html; charset=Shift_JIS"),
    ("简体中文网页", "gb18030",
     "text/html; charset=GB2312"),
    ("한국어 페이지", "cp949",
     "text/html; charset=euc-kr"),
    ("naïve café déjà", "utf-8",
     "text/html; charset=iso-8859-1"),  # mislabeled -> UTF-8 correction
    ("fenêtre à côté", "windows-1252",
     None),  # undeclared -> cp1252 fallback
    ("plain ascii page", "utf-8", "text/html"),
]


def _charset_oracle() -> str:
    whens = "\n".join(
        f"           WHEN {i} THEN '{prose}'"
        for i, (prose, _, _) in enumerate(_CHARSET_FIXTURES)
    )
    return (
        "SELECT doc_id,\n"
        "           CASE doc_id % 8\n" + whens + "\n"
        "           END AS decoded\n"
        "    FROM documents ORDER BY doc_id"
    )


@query("q_decode_charset", _charset_oracle())
def q_decode_charset(spark, sf_dir):
    """Charset-aware payload decode (r12, verdict item #2): each
    document carries one of eight legacy-encoded byte payloads (riding
    the plan as unhex literals) plus its HTTP Content-Type; the
    ``encoding.decode_payload`` sniff+transcode chain — BOM, header
    charset, <meta> probe, mislabeled-UTF-8 correction, cp1252
    fallback — must reproduce the original prose byte-for-byte. The
    oracle is CLOSED-FORM (the prose itself), so any sniff or codec
    drift hash-mismatches. One Arrow-batched pandas_udf projection, no
    shuffle beyond the presentation sort — the transcode step runs
    before extraction/lang-ID/dedup in the crawl chain."""
    from mongo_arrow_spark.operators.encoding import decode_payload

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 8
    payload = None
    ctype = None
    for i, (prose, codec, ct) in enumerate(_CHARSET_FIXTURES):
        hexed = F.unhex(F.lit(prose.encode(codec).hex()))
        ctl = F.lit(ct).cast("string") if ct else F.lit(None).cast("string")
        payload = (
            F.when(m == i, hexed)
            if payload is None
            else payload.when(m == i, hexed)
        )
        ctype = (
            F.when(m == i, ctl) if ctype is None else ctype.when(m == i, ctl)
        )
    return docs.select(
        "doc_id", decode_payload(payload, ctype).alias("decoded")
    ).orderBy("doc_id")


# Lang-ID fixtures (r12): 24 clearly-separable languages (the
# confusable pairs ms/id, cs/sk, da/no stay OUT of the graded fixture —
# tests/test_langid.py documents and pins them separately). Sentences
# are DISJOINT from the profile samples in operators/langid.py.
_LANGID_FIXTURES = [
    ("en", "a quiet library near the river stays open late on weekends for students and readers."),
    ("de", "am wochenende besuchen wir gern das kleine museum in der altstadt und trinken danach kaffee."),
    ("fr", "pendant les vacances, nous visitons souvent de petits villages où les boulangeries ouvrent tôt."),
    ("es", "durante el verano solemos caminar por la playa y cenar pescado en un restaurante pequeño."),
    ("it", "ogni domenica la nonna prepara la pasta fatta in casa e tutta la famiglia si riunisce a tavola."),
    ("pt", "no inverno gostamos de ler livros perto da lareira enquanto a chuva cai lá fora."),
    ("nl", "in de winter schaatsen veel mensen op de grachten als het ijs dik genoeg is."),
    ("sv", "under sommaren åker många familjer till skärgården för att bada och fiska tillsammans."),
    ("fi", "talvella lapset hiihtävät metsässä ja juovat kuumaa kaakaota takan ääressä illalla."),
    ("hu", "ősszel a diákok visszatérnek az iskolába és a fák levelei sárgára meg pirosra váltanak."),
    ("pl", "zimą często jeździmy w góry na narty a wieczorem pijemy gorącą herbatę z miodem."),
    ("ru", "зимой мы часто катаемся на лыжах в лесу а вечером пьём горячий чай с мёдом дома."),
    ("el", "το καλοκαίρι πολλές οικογένειες ταξιδεύουν στα νησιά για να κολυμπήσουν στη θάλασσα."),
    ("tr", "yazın aileler deniz kenarına gider ve akşamları balık lokantalarında yemek yer."),
    ("ar", "في فصل الشتاء نجلس قرب النار ونقرأ الكتب بينما يسقط المطر في الخارج."),
    ("he", "בחורף אנחנו יושבים ליד האח וקוראים ספרים בזמן שהגשם יורד בחוץ."),
    ("hi", "सर्दियों में हम आग के पास बैठकर किताबें पढ़ते हैं और बाहर बारिश होती रहती है।"),
    ("th", "ในฤดูหนาวเรานั่งอ่านหนังสือใกล้กองไฟขณะที่ฝนตกอยู่ข้างนอก"),
    ("ja", "冬には暖炉のそばで本を読みながら、外で雨が降るのを聞くのが好きです。"),
    ("ko", "겨울에는 난로 옆에서 책을 읽으며 밖에 내리는 비 소리를 듣는 것을 좋아합니다."),
    ("zh", "冬天我们喜欢坐在炉火旁读书，听着外面的雨声慢慢度过夜晚。"),
    ("vi", "vào mùa đông chúng tôi thích ngồi bên lò sưởi đọc sách và nghe tiếng mưa rơi bên ngoài."),
    ("sw", "wakati wa baridi tunapenda kukaa karibu na moto tukisoma vitabu huku mvua ikinyesha nje."),
    ("uk", "восени студенти повертаються до навчання а листя на деревах стає жовтим та червоним."),
]


def _langid_oracle() -> str:
    whens = "\n".join(
        f"           WHEN {i} THEN '{code}'"
        for i, (code, _) in enumerate(_LANGID_FIXTURES)
    )
    return (
        "SELECT doc_id,\n"
        "           CASE doc_id % 24\n" + whens + "\n"
        "           END AS lang_pred\n"
        "    FROM documents ORDER BY doc_id"
    )


@query("lang_id_trigram", _langid_oracle())
def q_lang_id_trigram(spark, sf_dir):
    """Trigram language-ID over ~50 languages (r12, verdict item #4):
    each document carries one of 24 labeled sentences (plan literals,
    languages chosen OUTSIDE the documented confusable groups);
    ``langid.identify_language`` — profile table broadcast, trigram
    explode, partial-agg-before-shuffle sum, argmax — must recover
    every label. The oracle is CLOSED-FORM (the labels), so profile or
    scoring drift hash-mismatches; the machinery differential vs a
    driver replay and the plan gates (BroadcastHashJoin, no UDF) live
    in tests/test_langid.py. This is the bucket key the per-language
    tiers (perplexity_buckets, budgets, contracts) consume."""
    from mongo_arrow_spark.operators.langid import identify_language

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 24
    text = None
    for i, (_, sentence) in enumerate(_LANGID_FIXTURES):
        lit = F.lit(sentence)
        text = F.when(m == i, lit) if text is None else text.when(m == i, lit)
    fx = docs.select("doc_id", text.alias("text"))
    return identify_language(fx, "text", id_col="doc_id").orderBy("doc_id")


# Transcode-in-composition fixtures (r13, r12 verdict #2): (python
# codec to ENCODE with, the HTTP charset label DECLARED, a phrase that
# codec can represent). The declared labels exercise the WHATWG alias
# folding (iso-8859-1 -> cp1252 superset, shift_jis -> cp932).
_TRANSCODE_PHRASES = [
    ("windows-1252", "iso-8859-1", "Füße Öl Größe"),
    ("koi8-r", "koi8-r", "Русский текст"),
    ("cp932", "shift_jis", "日本語のページ"),
    ("gb18030", "gb2312", "简体中文网页"),
    ("iso-8859-7", "iso-8859-7", "ελληνικό κείμενο"),
    ("cp1250", "windows-1250", "čeština žluťoučký kůň"),
]
#: class doc_id%4==3: bytes are strict UTF-8 but the header LIES
#: (iso-8859-1) — the mislabeled-UTF-8 correction must win
_TRANSCODE_MISLABELED = "naïve café déjà"


def _transcode_record(did: int, text) -> bytes:
    """One WARC response record for the composition fixture — shared
    verbatim by the distributed archive builder below and any test
    that wants a single record. Four routing classes by doc_id%4:
    0 = legacy-charset HTML; 1 = the same, gzip Content-Encoding'd on
    the wire; 2 = legacy-charset text/plain (the router must pass it
    through verbatim); 3 = UTF-8 bytes mislabeled iso-8859-1."""
    import gzip as _g
    import re as _rx

    raw = text if isinstance(text, str) else ""
    clean = " ".join(_rx.sub(r"[^\x20-\x7e]", "", raw).split())
    cls = did % 4
    if cls == 3:
        codec, label, phrase = "utf-8", "iso-8859-1", _TRANSCODE_MISLABELED
    else:
        codec, label, phrase = _TRANSCODE_PHRASES[did % 6]
    prose = " ".join(f"{phrase} doc {did} :: {clean}".split())
    enc_hdr = b""
    if cls == 2:
        body = prose.encode(codec)
        ct = f"text/plain; charset={label}"
    else:
        esc = (
            prose.replace("&", "&amp;")
            .replace("<", "&lt;")
            .replace(">", "&gt;")
        )
        html = (
            "<html><head><title>d</title><script>var x = 1 < 2;"
            "</script></head><body><!-- chrome --><p>"
            f"{esc}</p></body></html>"
        )
        body = html.encode(codec)
        ct = f"text/html; charset={label}"
        if cls == 1:
            body = _g.compress(body, 6, mtime=0)
            enc_hdr = b"Content-Encoding: gzip\r\n"
    env = (
        b"HTTP/1.1 200 OK\r\nContent-Type: "
        + ct.encode()
        + b"\r\n"
        + enc_hdr
        + b"Content-Length: "
        + str(len(body)).encode()
        + b"\r\n\r\n"
        + body
    )
    head = (
        f"WARC/1.0\r\nWARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:mas:{did}>\r\n"
        f"WARC-Target-URI: https://example.org/doc/{did}\r\n"
        f"WARC-Date: 2026-01-01T00:00:00Z\r\n"
        f"Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(env)}\r\n\r\n"
    ).encode()
    return head + env + b"\r\n\r\n"


def _warc_transcode_corpus_dir(spark, sf_dir: str) -> str:
    """The documents table as a MIXED-CHARSET crawl archive (one
    member-per-record .warc.gz per partition): every record built by
    :func:`_transcode_record` — the fixture the transcode-in-
    composition entry reads back. Distributed build (mapInPandas, one
    streaming archive per partition), idempotent per sf_dir."""
    import hashlib
    import os

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    d = f"/tmp/mas_warctrans_{tag}"
    marker = os.path.join(d, "_READY")
    if os.path.exists(marker):
        return d
    os.makedirs(d, exist_ok=True)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def one_partition(batches):
        import gzip as _g

        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        fname = os.path.join(d, f"part-{pid:05d}.warc.gz")
        n = 0
        with open(fname, "wb") as out:
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    rec = _transcode_record(int(row.doc_id), row.text)
                    out.write(_g.compress(rec, 6, mtime=0))
                    n += 1
        if n == 0:
            os.remove(fname)
        yield pd.DataFrame({"n": [n]})

    docs.repartition(4).mapInPandas(one_partition, "n long").collect()
    open(marker, "w").close()
    return d


def _transcode_oracle() -> str:
    whens = "\n".join(
        f"             WHEN {i} THEN '{phrase}'"
        for i, (_, _, phrase) in enumerate(_TRANSCODE_PHRASES)
    )
    return (
        "SELECT doc_id,\n"
        "       TRIM(REGEXP_REPLACE(\n"
        "         CASE WHEN doc_id % 4 = 3 THEN '"
        + _TRANSCODE_MISLABELED
        + "'\n"
        "           ELSE CASE doc_id % 6\n" + whens + "\n"
        "           END\n"
        "         END || ' doc ' || CAST(doc_id AS VARCHAR) || ' :: ' ||\n"
        "         REGEXP_REPLACE(COALESCE(text, ''),"
        " '[^\\x20-\\x7e]', '', 'g'),\n"
        "         '\\s+', ' ', 'g')) AS text\n"
        "    FROM documents ORDER BY doc_id"
    )


@query("q_crawl_transcode", _transcode_oracle())
def q_crawl_transcode(spark, sf_dir):
    """The crawl front door IN COMPOSITION (r13, r12 verdict #2): a
    mixed-charset Common-Crawl-shaped archive — six legacy charsets,
    every 4th record gzip Content-Encoding'd on the wire, every 4th a
    text/plain record, every 4th mislabeled UTF-8 — read back through
    the full chain: warc source with ``decodeContentEncoding=true``
    (wire-encoding undo) → ``encoding.decode_payload`` (charset sniff
    + transcode) → ``text.extract_text`` (content-type ROUTED: HTML
    extracts, text/plain passes through verbatim). The oracle is
    CLOSED-FORM — it reconstructs the expected prose from the parquet
    base — so a drift anywhere in the four-stage chain (framing, gzip
    undo, codec lookup, routing, tag strip) hash-mismatches. Scale
    shape: everything runs INSIDE the scan task (the one Arrow-batched
    pandas_udf carve-out plus codegen'd extraction), no shuffle before
    the presentation sort."""
    from mongo_arrow_spark.operators import encoding
    from mongo_arrow_spark.operators import text as text_ops
    from mongo_arrow_spark.sources.warc import register_warc

    register_warc(spark)
    d = _warc_transcode_corpus_dir(spark, sf_dir)
    df = (
        spark.read.format("warc")
        .option("decodeContentEncoding", "true")
        .load(d + "/*.warc.gz")
    )
    decoded = encoding.decode_payload("payload", "http_content_type")
    return df.select(
        F.regexp_extract("record_id", r"urn:mas:(\d+)", 1)
        .cast("bigint")
        .alias("doc_id"),
        text_ops.extract_text(decoded, "http_content_type").alias("text"),
    ).orderBy("doc_id")


_LINK_ORACLE = """
    WITH d AS (
      SELECT doc_id,
             'https://host' || CAST(doc_id % 5 AS VARCHAR)
               || '.example.com' AS origin,
             '/sec' || CAST(doc_id % 3 AS VARCHAR) AS secdir
      FROM documents)
    SELECT doc_id, link FROM (
      SELECT doc_id, 'https://ext' || CAST(doc_id % 7 AS VARCHAR)
               || '.org/a/' || CAST(doc_id AS VARCHAR) AS link FROM d
      UNION ALL
      SELECT doc_id, 'https://cdn.example.net/lib'
               || CAST(doc_id % 2 AS VARCHAR) || '.js' FROM d
      UNION ALL
      SELECT doc_id, origin || '/r/' || CAST(doc_id AS VARCHAR) FROM d
      UNION ALL
      SELECT doc_id, origin || secdir || '/sub/p'
               || CAST(doc_id AS VARCHAR) || '.html' FROM d
      UNION ALL
      SELECT doc_id, origin || '/up/' || CAST(doc_id AS VARCHAR) FROM d
    ) ORDER BY doc_id, link
"""


def _link_fixture(docs, with_next: bool = False):
    """(doc_id, payload, url): a deterministic page with one link of
    every resolution class — absolute, protocol-relative,
    root-relative, document-relative, ../-relative — plus two
    pseudo-links the extractor must drop. Plan literals only.
    ``with_next=True`` (frontier entry only — the base fixture's
    oracles enumerate exactly five classes) adds an ABSOLUTE link to
    doc_id+1's own page URL: an already-crawled target for every doc
    but the last, so the frontier's anti-join has real work."""
    # spread BEFORE constructing the page (r14): only the 8-byte ids
    # cross the exchange
    docs = spread(docs.select("doc_id"))
    did = F.col("doc_id").cast("string")
    url = F.concat(
        F.lit("https://host"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".example.com/sec"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("/page"),
        did,
        F.lit(".html"),
    )
    payload = F.concat(
        F.lit('<html><body><a href="https://ext'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".org/a/"), did,
        F.lit('">x</a><a href=\'//cdn.example.net/lib'),
        (F.col("doc_id") % 2).cast("string"),
        F.lit(".js'>y</a><a href=\"/r/"), did,
        F.lit('">z</a><a href="sub/p'), did,
        F.lit('.html">w</a><a href="../up/'), did,
        F.lit('#frag">v</a><a href="mailto:a@b">m</a>'),
        F.lit('<a href="#top">t</a></body></html>'),
    )
    if with_next:
        nid = (F.col("doc_id") + 1).cast("string")
        next_url = F.concat(
            F.lit('<a href="https://host'),
            ((F.col("doc_id") + 1) % 5).cast("string"),
            F.lit(".example.com/sec"),
            ((F.col("doc_id") + 1) % 3).cast("string"),
            F.lit("/page"), nid, F.lit('.html">n</a></body></html>'),
        )
        payload = F.concat(
            F.regexp_replace(payload, "</body></html>$", ""), next_url
        )
    return docs.select("doc_id", payload.alias("payload"), url.alias("url"))


@query("q_extract_links", _LINK_ORACLE)
def q_extract_links(spark, sf_dir):
    """Outlink extraction + relative-URL resolution (r13): every page
    carries one link of each resolution class (absolute,
    protocol-relative, root-relative, document-relative, ``../``) plus
    mailto/fragment pseudo-links; ``url.extract_links`` — one
    regexp_extract_all + higher-order transform/filter chain, no UDF,
    map-only — must produce exactly the five resolved absolute URLs
    per page. The oracle states the resolutions CLOSED-FORM, so any
    drift in extraction, filtering, or the RFC-3986-style merge
    (origin/dir handling, dot-segment folding) hash-mismatches. This
    is the crawl-frontier primitive: the output feeds canonicalize_url
    -> url_dedup for frontier dedup and link_host_edges for the graph
    tier."""
    from mongo_arrow_spark.operators.url import extract_links

    docs = _t(spark, sf_dir, "documents")
    fx = _link_fixture(docs)  # spreads internally (r14)
    return (
        fx.select(
            "doc_id",
            F.explode(extract_links("payload", "url")).alias("link"),
        )
        .orderBy("doc_id", "link")
    )


@query(
    "q_link_graph",
    """
    WITH d AS (
      SELECT doc_id,
             'host' || CAST(doc_id % 5 AS VARCHAR)
               || '.example.com' AS src,
             'ext' || CAST(doc_id % 7 AS VARCHAR) || '.org' AS ext
      FROM documents),
    e AS (
      SELECT src, ext AS dst, 1 AS n FROM d
      UNION ALL SELECT src, 'cdn.example.net', 1 FROM d
      UNION ALL SELECT src, src, 3 FROM d)
    SELECT src AS src_host, dst AS dst_host,
           CAST(SUM(n) AS BIGINT) AS n_links
    FROM e GROUP BY src_host, dst_host ORDER BY src_host, dst_host
    """,
)
def q_link_graph(spark, sf_dir):
    """Host-level link-graph construction (r13): the same link fixture
    aggregated into (src_host, dst_host, n_links) edges by
    ``url.link_host_edges`` — extraction and host projection map-side,
    ONE partial-aggregated shuffle on the (src, dst) pair, edge-count
    rows (never raw links) on the wire. The oracle recomputes the edge
    weights from the residue classes. This is the edge table the
    graded graph tier (PageRank/HITS host authority) consumes —
    examples/crawl_tour.py runs the composition live."""
    from mongo_arrow_spark.operators.url import link_host_edges

    docs = _t(spark, sf_dir, "documents")
    fx = _link_fixture(docs)
    return link_host_edges(fx, "payload", "url").orderBy(
        "src_host", "dst_host"
    )


#: (hex payload prefix, expected mime) per doc_id%8 class — the sniff
#: fixture; classes 5-7 exercise the non-magic fallbacks.
_MIME_CLASSES = [
    ("89504E470D0A1A0A", "image/png"),
    ("255044462D312E37", "application/pdf"),
    ("FFD8FFE0", "image/jpeg"),
    ("1F8B0800", "application/gzip"),
    ("3C21444F43545950452068746D6C3E", "text/html"),  # <!DOCTYPE html>
    ("703A20", "text/plain"),  # 'p: ' + prose tail
    ("00", "application/octet-stream"),
    ("", "application/x-empty"),
]


def _mime_oracle() -> str:
    whens = "\n".join(
        f"             WHEN {i} THEN '{mime}'"
        for i, (_, mime) in enumerate(_MIME_CLASSES)
    )
    return (
        "SELECT doc_id,\n"
        "           CASE doc_id % 8\n" + whens + "\n"
        "           END AS mime\n"
        "    FROM documents ORDER BY doc_id"
    )


@query("q_sniff_mime", _mime_oracle())
def q_sniff_mime(spark, sf_dir):
    """Magic-byte content sniffing (r13): each document's payload is a
    class-specific byte prefix (PNG/PDF/JPEG/gzip magic, HTML markup,
    plain prose, a NUL-carrying binary, empty) followed by the doc's
    own bytes; ``encoding.sniff_mime`` — one codegen'd hex-prefix
    chain per row, no UDF, map-only — must type every payload from
    BYTES alone (crawl Content-Type headers lie; this is the router
    that keeps binary junk out of the transcode/extraction path and
    feeds the multimodal tier its type column). Closed-form oracle:
    the class table itself."""
    from mongo_arrow_spark.operators.encoding import sniff_mime

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 8
    tail = F.encode(
        F.coalesce(F.col("text"), F.lit("")).substr(1, 64), "UTF-8"
    )
    payload = None
    for i, (prefix, _) in enumerate(_MIME_CLASSES):
        body = (
            F.unhex(F.lit(prefix))
            if prefix in ("",)
            else F.concat(F.unhex(F.lit(prefix)), tail)
        )
        payload = (
            F.when(m == i, body)
            if payload is None
            else payload.when(m == i, body)
        )
    return docs.select(
        "doc_id", sniff_mime(payload).alias("mime")
    ).orderBy("doc_id")


#: robots.txt fixture bodies per host class (doc_id%4) — plan
#: literals shared by the Spark query and restated by the oracle.
_ROBOTS_BODIES = [
    "User-agent: *\nDisallow: /private/\nAllow: /private/ok",
    "# block us\nUser-agent: mybot\nDisallow: /\n\n"
    "User-agent: *\nDisallow:",
    "User-agent: other\nDisallow: /\n\nUser-agent: *\nDisallow: /tmp/",
    "",
]


@query(
    "q_robots_gate",
    """
    WITH u AS (
      SELECT doc_id,
             'https://crawlhost' || CAST(doc_id % 4 AS VARCHAR)
               || '.example.com'
               || CASE doc_id % 5
                    WHEN 0 THEN '/private/ok/x'
                    WHEN 1 THEN '/private/y'
                    WHEN 2 THEN '/public/z'
                    WHEN 3 THEN '/tmp/w'
                    ELSE '/'
                  END AS url
      FROM documents)
    SELECT doc_id, url,
           CASE doc_id % 4
             WHEN 0 THEN doc_id % 5 <> 1
             WHEN 1 THEN FALSE
             WHEN 2 THEN doc_id % 5 <> 3
             ELSE TRUE
           END AS allowed
    FROM u ORDER BY doc_id
    """,
)
def q_robots_gate(spark, sf_dir):
    """Crawl politeness (r13): raw robots.txt bodies — a longest-
    prefix Allow-under-Disallow host, a host whose SPECIFIC agent
    group overrides ``*`` entirely, a host where the agent falls to
    the ``*`` group, and an empty file — parsed DISTRIBUTED by
    ``url.parse_robots`` (posexplode + one per-host window for group
    ids, no UDF) and evaluated by ``url.robots_allowed`` (agent-group
    resolution window + host equi-join + struct-max longest-prefix
    argmax, Allow winning ties). The oracle states every
    (host-class × path-class) verdict CLOSED-FORM, so a drift in
    group parsing, agent precedence, or prefix-length tie-breaking
    hash-mismatches. The gate every frontier runs between
    extract_links and fetch."""
    from mongo_arrow_spark.operators.url import parse_robots, robots_allowed

    docs = _t(spark, sf_dir, "documents")
    host = F.concat(
        F.lit("crawlhost"),
        (F.col("doc_id") % 4).cast("string"),
        F.lit(".example.com"),
    )
    m5 = F.col("doc_id") % 5
    path = (
        F.when(m5 == 0, "/private/ok/x")
        .when(m5 == 1, "/private/y")
        .when(m5 == 2, "/public/z")
        .when(m5 == 3, "/tmp/w")
        .otherwise("/")
    )
    urls = docs.select(
        "doc_id", F.concat(F.lit("https://"), host, path).alias("url")
    )
    mb = F.col("doc_id") % 4
    body = None
    for i, b in enumerate(_ROBOTS_BODIES):
        body = (
            F.when(mb == i, b) if body is None else body.when(mb == i, b)
        )
    robots = (
        docs.select(host.alias("host"), body.alias("robots_txt"))
        .dropDuplicates(["host"])
    )
    rules = parse_robots(robots)
    return robots_allowed(urls, rules, "MyBot").orderBy("doc_id")


@query(
    "q_crawl_frontier",
    """
    WITH d AS (
      SELECT doc_id,
             'https://host' || CAST(doc_id % 5 AS VARCHAR)
               || '.example.com' AS origin,
             '/sec' || CAST(doc_id % 3 AS VARCHAR) AS secdir
      FROM documents),
    crawled AS (
      SELECT origin || secdir || '/page' || CAST(doc_id AS VARCHAR)
               || '.html' AS url FROM d),
    cand AS (
      SELECT 'https://ext' || CAST(doc_id % 7 AS VARCHAR)
               || '.org/a/' || CAST(doc_id AS VARCHAR) AS url FROM d
      UNION ALL
      SELECT 'https://cdn.example.net/lib'
               || CAST(doc_id % 2 AS VARCHAR) || '.js' FROM d
      UNION ALL
      SELECT origin || '/r/' || CAST(doc_id AS VARCHAR) FROM d
      UNION ALL
      SELECT origin || secdir || '/sub/p'
               || CAST(doc_id AS VARCHAR) || '.html' FROM d
      UNION ALL
      SELECT origin || '/up/' || CAST(doc_id AS VARCHAR) FROM d
      UNION ALL
      SELECT 'https://host' || CAST((doc_id + 1) % 5 AS VARCHAR)
               || '.example.com/sec' || CAST((doc_id + 1) % 3 AS VARCHAR)
               || '/page' || CAST(doc_id + 1 AS VARCHAR) || '.html'
      FROM d)
    SELECT DISTINCT url FROM cand
    WHERE url NOT IN (SELECT url FROM crawled)
      AND url NOT LIKE 'https://ext%'
    ORDER BY url
    """,
)
def q_crawl_frontier(spark, sf_dir):
    """The crawl loop's capstone composition (r13): the next round's
    fetch list via ``url.crawl_frontier`` — outlinks of every crawled
    page (five resolution classes plus an ABSOLUTE link to doc_id+1's
    own page), canonicalized and URL-deduped, the already-crawled
    pages anti-joined away (every next-page link but the corpus
    maximum's disappears here — the anti-join does real, data-
    dependent work), and the ext*.org hosts dropped by a robots rule
    table (``Disallow: /a/`` for ``*``). The oracle replays candidate
    generation, the NOT IN anti-join, and the robots drop closed-form.
    Map-side extraction; one distinct + one url-keyed anti-join + one
    host equi-join — the frontier shape that holds at crawl scale."""
    from mongo_arrow_spark.operators.url import crawl_frontier, parse_robots

    docs = _t(spark, sf_dir, "documents")
    fx = _link_fixture(docs, with_next=True)
    ext_hosts = spark.createDataFrame(
        [(f"ext{i}.org", "User-agent: *\nDisallow: /a/") for i in range(7)],
        "host string, robots_txt string",
    )
    rules = parse_robots(ext_hosts)
    return crawl_frontier(
        fx, "payload", "url", rules=rules, agent="maspider"
    ).orderBy("url")


@query(
    "q_sitemap_frontier",
    """
    WITH d AS (SELECT doc_id FROM documents)
    SELECT doc_id, loc, lastmod, is_index FROM (
      SELECT doc_id,
             'https://site' || CAST(doc_id % 5 AS VARCHAR)
               || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS loc,
             '2026-0' || CAST(doc_id % 9 + 1 AS VARCHAR) || '-01' AS lastmod,
             FALSE AS is_index
      FROM d WHERE doc_id % 5 <> 0
      UNION ALL
      SELECT doc_id,
             'https://site' || CAST(doc_id % 5 AS VARCHAR)
               || '.example.com/q/' || CAST(doc_id AS VARCHAR)
               || '?a=1&b=2',
             NULL, FALSE
      FROM d WHERE doc_id % 5 <> 0
      UNION ALL
      SELECT doc_id,
             'https://site0.example.com/maps/' || CAST(doc_id AS VARCHAR)
               || '.xml',
             NULL, TRUE
      FROM d WHERE doc_id % 5 = 0
    ) ORDER BY doc_id, loc
    """,
)
def q_sitemap_frontier(spark, sf_dir):
    """Sitemap ingest (r13): each document carries a sitemap body —
    a ``<urlset>`` with two ``<url>`` blocks (one with ``lastmod``,
    one with an ``&amp;``-escaped query loc, plus a loc-less noise
    block that must drop) or, for every 5th doc, a ``<sitemapindex>``
    whose loc is a FURTHER sitemap (``is_index=true``).
    ``url.parse_sitemap`` — one split + transform/filter chain, no
    UDF, no XML library — must recover every (loc, lastmod, is_index)
    row closed-form. The frontier's seed source next to
    extract_links."""
    from mongo_arrow_spark.operators.url import parse_sitemap

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    site = F.concat(
        F.lit("https://site"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".example.com"),
    )
    urlset = F.concat(
        F.lit("<?xml version='1.0'?><urlset><url><loc> "),
        site, F.lit("/p/"), did,
        F.lit(" </loc><lastmod>2026-0"),
        (F.col("doc_id") % 9 + 1).cast("string"),
        F.lit("-01</lastmod></url><url><loc>"),
        site, F.lit("/q/"), did,
        F.lit("?a=1&amp;b=2</loc></url>"),
        F.lit("<url><priority>0.5</priority></url></urlset>"),
    )
    index = F.concat(
        F.lit("<sitemapindex><sitemap><loc>"
              "https://site0.example.com/maps/"),
        did,
        F.lit(".xml</loc></sitemap></sitemapindex>"),
    )
    fx = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, index)
        .otherwise(urlset)
        .alias("payload"),
    )
    return parse_sitemap(fx, keep_cols=("doc_id",)).orderBy(
        "doc_id", "loc"
    )


@query(
    "q_canonical_dedup",
    """
    WITH d AS (
      SELECT doc_id,
             'https://c' || CAST(doc_id % 5 AS VARCHAR)
               || '.example.com/art/' || CAST(doc_id AS VARCHAR) AS canon
      FROM documents)
    SELECT doc_id, canon AS url FROM d
    UNION ALL
    SELECT doc_id, 'https://c' || CAST(doc_id % 5 AS VARCHAR)
             || '.example.com/plain/' || CAST(doc_id AS VARCHAR) FROM d
    ORDER BY doc_id, url
    """,
)
def q_canonical_dedup(spark, sf_dir):
    """Canonical-link dedup (r13): every document expands to THREE
    crawled pages — the canonical capture itself (page url == its
    declared ``<link rel=canonical>``), a tracking-param refetch
    VARIANT declaring the same canonical (href-before-rel attribute
    order, so both extract patterns grade), and a canonical-less
    plain page. ``url.dedup_by_canonical`` must keep exactly the
    self-canonical page (preferred over the variant) and the plain
    page (grouped by its own canonicalized URL) — one groupBy argmax
    on the canonical key, payload riding only on survivors. The
    oracle states the surviving (doc_id, url) set closed-form."""
    from mongo_arrow_spark.operators.url import dedup_by_canonical

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    canon = F.concat(
        F.lit("https://c"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".example.com/art/"), did,
    )
    plain_url = F.concat(
        F.lit("https://c"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".example.com/plain/"), did,
    )
    self_page = F.struct(
        canon.alias("url"),
        F.concat(
            F.lit('<html><head><link rel="canonical" href="'),
            canon,
            F.lit('"></head><body>a</body></html>'),
        ).alias("payload"),
    )
    variant = F.struct(
        F.concat(canon, F.lit("?utm_source=feed")).alias("url"),
        F.concat(
            F.lit('<html><head><link href="'),
            canon,
            F.lit('" rel="canonical"></head><body>a</body></html>'),
        ).alias("payload"),
    )
    plain = F.struct(
        plain_url.alias("url"),
        F.lit("<html><body>unique</body></html>").alias("payload"),
    )
    pages = docs.select(
        "doc_id",
        F.explode(F.array(self_page, variant, plain)).alias("p"),
    ).select("doc_id", "p.url", "p.payload")
    return (
        dedup_by_canonical(pages, "payload", "url")
        .select("doc_id", "url")
        .orderBy("doc_id", "url")
    )


@query(
    "q_fetch_schedule",
    """
    WITH f AS (
      SELECT 'https://crawl' || CAST(doc_id % 7 AS VARCHAR)
               || '.example.com/f/' || CAST(doc_id AS VARCHAR) AS url,
             'crawl' || CAST(doc_id % 7 AS VARCHAR)
               || '.example.com' AS host
      FROM documents)
    SELECT url, host,
           CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY host
                              ORDER BY url) - 1) / 3.0) AS BIGINT) AS wave
    FROM f ORDER BY url
    """,
)
def q_fetch_schedule(spark, sf_dir):
    """Politeness-scheduled fetch waves (r13): a 7-host frontier cut
    into waves of ≤ 3 URLs per host by ``url.schedule_fetches`` (one
    row_number window per host — the per-host frontier is the bounded
    dimension, no global sort; wave arithmetic map-side). The oracle
    replays the window EXACTLY, so rank determinism, the wave cut,
    and host extraction all hash-grade."""
    from mongo_arrow_spark.operators.url import schedule_fetches

    docs = _t(spark, sf_dir, "documents")
    frontier = docs.select(
        F.concat(
            F.lit("https://crawl"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/f/"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    return schedule_fetches(frontier, per_wave=3).orderBy("url")


@query(
    "q_extract_links_base",
    """
    WITH d AS (
      SELECT doc_id,
             'https://bh' || CAST(doc_id % 5 AS VARCHAR)
               || '.example.com' AS origin,
             '/sec' || CAST(doc_id % 3 AS VARCHAR) AS secdir,
             'https://static' || CAST(doc_id % 3 AS VARCHAR)
               || '.cdn.net' AS cdn,
             doc_id % 4 AS cls,
             CAST(doc_id AS VARCHAR) AS ds
      FROM documents)
    SELECT doc_id, link FROM (
      SELECT doc_id, 'https://abs' || CAST(doc_id % 7 AS VARCHAR)
               || '.org/q/' || ds AS link FROM d
      UNION ALL
      SELECT doc_id,
             CASE WHEN cls = 0 THEN cdn ELSE origin END || '/r/' || ds
      FROM d
      UNION ALL
      SELECT doc_id, CASE cls
          WHEN 0 THEN cdn || '/assets/img/x' || ds || '.html'
          WHEN 1 THEN origin || '/b/img/x' || ds || '.html'
          WHEN 2 THEN origin || secdir || '/sub/img/x' || ds || '.html'
          ELSE origin || secdir || '/img/x' || ds || '.html'
        END FROM d
    ) ORDER BY doc_id, link
    """,
)
def q_extract_links_base(spark, sf_dir):
    """``<base href>`` resolution (r14, the r13-verdict Missing #2
    fix): every page carries one absolute, one root-relative and one
    document-relative link, and — by doc_id%4 class — an ABSOLUTE
    base on a CDN host, a ROOT-RELATIVE base (itself resolved against
    the page URL first, RFC 3986 §5.1.1), a RELATIVE base, or no base
    element. The oracle states every resolution closed-form, so a
    drift in base extraction (boundary/quote pairing), base
    self-resolution, or the effective-base plumbing hash-mismatches.
    Absolute links must IGNORE the base; root-relative links resolve
    against the base's ORIGIN (the CDN, not the page host, for class
    0). Map-only HOF chain, no UDF — same plan shape as
    q_extract_links."""
    from mongo_arrow_spark.operators.url import extract_links

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    base_tag = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit('<base href="https://static'),
                (F.col("doc_id") % 3).cast("string"),
                F.lit('.cdn.net/assets/">'),
            ),
        )
        .when(F.col("doc_id") % 4 == 1, "<base href='/b/'>")
        .when(F.col("doc_id") % 4 == 2, '<base href="sub/">')
        .otherwise("")
    )
    payload = F.concat(
        F.lit("<html><head>"), base_tag,
        F.lit('</head><body><a href="img/x'), did,
        F.lit('.html">a</a><a href="/r/'), did,
        F.lit('">b</a><a href="https://abs'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".org/q/"), did, F.lit('">c</a></body></html>'),
    )
    url = F.concat(
        F.lit("https://bh"), (F.col("doc_id") % 5).cast("string"),
        F.lit(".example.com/sec"), (F.col("doc_id") % 3).cast("string"),
        F.lit("/page"), did, F.lit(".html"),
    )
    # spread BEFORE constructing the fixture (r14): only the ids cross
    # the exchange
    fx = spread(docs.select("doc_id")).select(
        "doc_id", payload.alias("payload"), url.alias("url")
    )
    return fx.select(
        "doc_id",
        F.explode(extract_links("payload", "url")).alias("link"),
    ).orderBy("doc_id", "link")


@query(
    "q_fetch_schedule_polite",
    """
    WITH f AS (
      SELECT 'https://crawl' || CAST(doc_id % 7 AS VARCHAR)
               || '.example.com/f/' || CAST(doc_id AS VARCHAR) AS url,
             CASE WHEN doc_id % 5 = 0 THEN NULL
                  ELSE '2026-0' || CAST(doc_id % 9 + 1 AS VARCHAR) || '-01'
             END AS lastmod,
             'crawl' || CAST(doc_id % 7 AS VARCHAR)
               || '.example.com' AS host,
             CASE WHEN (doc_id % 7) IN (0, 3, 6) THEN 1.0 ELSE 6.0
             END AS budget
      FROM documents)
    SELECT url, lastmod, host,
           CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY host
                ORDER BY lastmod DESC NULLS LAST, url) - 1) / budget)
             AS BIGINT) AS wave
    FROM f ORDER BY url
    """,
)
def q_fetch_schedule_polite(spark, sf_dir):
    """Crawl-delay- and freshness-aware scheduling (r14, the
    r13-verdict Missing #3 fix): a 7-host frontier where hosts 0/3/6
    declare ``Crawl-delay: 4`` for ``*`` (wave budget
    max(1, floor(6/4)) = 1), hosts 1/4 have a SPECIFIC agent group
    with no delay that must SUPPRESS the * group's ``Crawl-delay: 8``
    (full budget — group-exclusion precedence, same as
    robots_allowed), and hosts 2/5 have no robots at all; every 5th
    URL has no lastmod and must sort behind the dated ones
    (DESC NULLS LAST), fresher URLs landing in earlier waves. The
    oracle replays the per-host window and the budget arithmetic
    exactly. One window per host + one equi-join against the bounded
    per-host delay table — the politeness shape that holds at crawl
    scale."""
    from mongo_arrow_spark.operators.url import parse_robots, schedule_fetches

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    frontier = docs.select(
        F.concat(
            F.lit("https://crawl"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/f/"), did,
        ).alias("url"),
        F.when(
            F.col("doc_id") % 5 != 0,
            F.concat(
                F.lit("2026-0"),
                (F.col("doc_id") % 9 + 1).cast("string"),
                F.lit("-01"),
            ),
        ).alias("lastmod"),
    )
    slow = "User-agent: *\nCrawl-delay: 4\nDisallow: /private/"
    override = (
        "User-agent: polite-bot\nDisallow: /x/\n\n"
        "User-agent: *\nCrawl-delay: 8"
    )
    robots = spark.createDataFrame(
        [(f"crawl{k}.example.com", slow) for k in (0, 3, 6)]
        + [(f"crawl{k}.example.com", override) for k in (1, 4)],
        "host string, robots_txt string",
    )
    rules = parse_robots(robots)
    return schedule_fetches(
        frontier,
        per_wave=6,
        rules=rules,
        agent="Polite-Bot",
        lastmod_col="lastmod",
    ).orderBy("url")


#: link-fixture host graph as a PageRank edge CTE — the same closed-form
#: edge weights q_link_graph's oracle states, shaped for _pagerank_sql.
_HOST_E_CTE = """e AS MATERIALIZED (
      SELECT src, dst, SUM(w)::BIGINT AS w FROM (
        SELECT 'host' || CAST(doc_id % 5 AS VARCHAR)
                 || '.example.com' AS src,
               'ext' || CAST(doc_id % 7 AS VARCHAR) || '.org' AS dst,
               1 AS w FROM documents
        UNION ALL
        SELECT 'host' || CAST(doc_id % 5 AS VARCHAR) || '.example.com',
               'cdn.example.net', 1 FROM documents
        UNION ALL
        SELECT 'host' || CAST(doc_id % 5 AS VARCHAR) || '.example.com',
               'host' || CAST(doc_id % 5 AS VARCHAR) || '.example.com',
               3 FROM documents
      ) GROUP BY src, dst
    )"""


@query(
    "q_host_authority",
    _pagerank_sql(3, weighted=True, e_cte=_HOST_E_CTE),
)
def q_host_authority(spark, sf_dir):
    """Host authority (r14 capstone): the crawl loop's ranking signal
    composed end-to-end — ``link_host_edges`` over the link fixture
    (extraction + host projection map-side, ONE partial-agg shuffle on
    the host pair) feeding WEIGHTED integer-exact ``pagerank`` (3
    power iterations, n_links as edge multiplicity). The oracle
    restates the fixture's edge weights closed-form and unrolls the
    identical fixed-point recurrence, so the whole
    extract→aggregate→iterate chain hash-grades. This is how a
    frontier prioritizes by domain authority (OPIC/PageRank-style) —
    the graph tier consuming the crawl tier's edge table, both
    individually graded, now pinned in composition."""
    from mongo_arrow_spark.operators.graph import pagerank
    from mongo_arrow_spark.operators.url import link_host_edges

    docs = _t(spark, sf_dir, "documents")
    fx = _link_fixture(docs)
    edges = link_host_edges(fx, "payload", "url")
    return (
        pagerank(
            edges,
            iters=3,
            src_col="src_host",
            dst_col="dst_host",
            weight_col="n_links",
        )
        .select("node", "rank")
        .orderBy("node")
    )


@query(
    "q_extract_meta",
    """
    SELECT doc_id,
           'Doc ' || CAST(doc_id AS VARCHAR) || ' page' AS title,
           CASE WHEN doc_id % 3 = 0 THEN NULL
                ELSE 'sum ' || CAST(doc_id AS VARCHAR) END AS description,
           CASE WHEN doc_id % 4 = 0 THEN NULL
                ELSE 'OG ' || CAST(doc_id AS VARCHAR) END AS og_title,
           CASE WHEN doc_id % 2 = 0
                THEN 'ogd ' || CAST(doc_id AS VARCHAR)
                ELSE NULL END AS og_description,
           CASE WHEN doc_id % 5 = 0 THEN NULL ELSE 'en-us' END AS lang
    FROM documents ORDER BY doc_id
    """,
)
def q_extract_meta(spark, sf_dir):
    """Page-metadata extraction (r14): titles (internal whitespace
    collapsed), meta descriptions, OpenGraph title/description (one
    in REVERSED attribute order so both patterns grade), and the
    ``<html lang>`` tag (case-folded) — with per-class ABSENT fields
    that must come back NULL. ``text.html_meta`` is one anchored
    regexp_extract per field, map-only, no UDF; the oracle states
    every value closed-form. These are the columns crawl curation
    keys quality scoring and language routing on before paying for
    full-text extraction."""
    from mongo_arrow_spark.operators.text import html_meta

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    payload = F.concat(
        F.lit("<html"),
        F.when(F.col("doc_id") % 5 == 0, "").otherwise(' lang="EN-us"'),
        F.lit("><head><title>Doc  "), did, F.lit("  page</title>"),
        F.when(F.col("doc_id") % 3 == 0, "").otherwise(
            F.concat(
                F.lit('<meta name="description" content="sum '),
                did, F.lit('">'),
            )
        ),
        F.when(F.col("doc_id") % 4 == 0, "").otherwise(
            F.concat(
                F.lit('<meta content="OG '), did,
                F.lit('" property="og:title">'),
            )
        ),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit('<meta property="og:description" content="ogd '),
                did, F.lit('">'),
            ),
        ).otherwise(""),
        F.lit("</head><body>b</body></html>"),
    )
    # spread BEFORE constructing the payload (r14): only the 8-byte ids
    # cross the exchange
    m = html_meta(payload)
    return (
        spread(docs.select("doc_id"))
        .select(
            "doc_id",
            m["title"].alias("title"),
            m["description"].alias("description"),
            m["og_title"].alias("og_title"),
            m["og_description"].alias("og_description"),
            m["lang"].alias("lang"),
        )
        .orderBy("doc_id")
    )


@query(
    "url_filter",
    """
    WITH u AS (
      SELECT doc_id,
             CASE doc_id % 6
               WHEN 0 THEN 'https://sub.brand' || CAST(doc_id % 7 AS VARCHAR)
                           || '.co.uk/article/' || CAST(doc_id AS VARCHAR)
               WHEN 1 THEN 'https://badsite.org/read/' || CAST(doc_id AS VARCHAR)
               WHEN 2 THEN 'https://news.example.com/story-sex-' || CAST(doc_id AS VARCHAR)
               WHEN 3 THEN 'https://spam.example.net/casino-poker-' || CAST(doc_id AS VARCHAR)
               WHEN 4 THEN 'https://shop.evil.co.uk/item/' || CAST(doc_id AS VARCHAR)
               ELSE 'https://www.essex-news.ac.uk/dept/' || CAST(doc_id AS VARCHAR)
             END AS url
      FROM documents
    )
    SELECT doc_id, url FROM u WHERE doc_id % 6 IN (0, 2, 5)
    ORDER BY doc_id
    """,
)
def q_url_filter(spark, sf_dir):
    """URL blocklist + soft word-score filter (r12): six deterministic
    URL shapes per corpus — clean, a blocklisted domain, a single soft
    term (survives: strict < 2.0), an accumulating junk URL (casino +
    poker trips), a blocklisted subdomain (suffix matching blocks it),
    and the classic 'essex' false-positive (one ambiguous hit
    survives). ``url.filter_urls`` is map-only (InSet per label-depth,
    codegen'd contains per term — no join, no shuffle, plan gate in
    tests/test_url.py); the oracle states the surviving residue
    classes closed-form. RefinedWeb's URL-level gate, before any text
    is fetched or compared."""
    from mongo_arrow_spark.operators import url as U

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 6
    url = (
        F.when(m == 0, F.concat(
            F.lit("https://sub.brand"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".co.uk/article/"), did))
        .when(m == 1, F.concat(F.lit("https://badsite.org/read/"), did))
        .when(m == 2, F.concat(
            F.lit("https://news.example.com/story-sex-"), did))
        .when(m == 3, F.concat(
            F.lit("https://spam.example.net/casino-poker-"), did))
        .when(m == 4, F.concat(F.lit("https://shop.evil.co.uk/item/"), did))
        .otherwise(F.concat(F.lit("https://www.essex-news.ac.uk/dept/"), did))
    )
    u = docs.select("doc_id", url.alias("url"))
    return U.filter_urls(
        u, block_domains=["badsite.org", "evil.co.uk"]
    ).orderBy("doc_id")


def _wet_corpus_dir(spark, sf_dir: str) -> str:
    """Materialize the documents table as a WET conversion-record
    layout (one .warc.wet.gz per partition; idempotent per sf_dir)
    through the engine's own distributed writer, with WARC-Refers-To
    provenance pointing at the synthetic response ids."""
    import hashlib
    import os

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    d = f"/tmp/mas_wet_{tag}"
    marker = os.path.join(d, "_READY")
    if os.path.exists(marker):
        return d
    from mongo_arrow_spark.sources.warc import write_wet

    src = _t(spark, sf_dir, "documents").repartition(4).select(
        "doc_id",
        "text",
        F.concat(
            F.lit("<urn:mas:"), F.col("doc_id").cast("string"), F.lit(">")
        ).alias("src_id"),
    )
    write_wet(src, d, refers_to_col="src_id", index=True)
    open(marker, "w").close()
    return d


@query(
    "q_scan_wet",
    # COALESCE mirrors the writer's NULL→'' coercion (text/plain bodies
    # have no null); refers_to must reconstruct the source record id
    "SELECT doc_id, COALESCE(text, '') AS text, "
    "'<urn:mas:' || CAST(doc_id AS VARCHAR) || '>' AS refers_to "
    "FROM documents ORDER BY doc_id",
)
def q_scan_wet(spark, sf_dir):
    """WET conversion-layout round trip (r12): the corpus written as
    ``.warc.wet.gz`` conversion records (member-per-record, CDXJ
    sidecars) and read back with ``warcTypes=conversion`` must
    hash-match the parquet base INCLUDING the WARC-Refers-To
    provenance column — the interchange contract with pipelines that
    consume Common Crawl ``.wet``. Same scan machinery the graded
    q_scan_warc rides (bin-packed gz groups / indexed byte-splits)."""
    from mongo_arrow_spark.sources.warc import register_warc

    d = _wet_corpus_dir(spark, sf_dir)
    register_warc(spark)
    return (
        spark.read.format("warc")
        .option("warcTypes", "conversion")
        .load(d)
        .select(
            F.regexp_extract("record_id", r"urn:mas:wet:(\d+)", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.col("payload").cast("string").alias("text"),
            "refers_to",
        )
        .orderBy("doc_id")
    )
