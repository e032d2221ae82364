"""End-to-end corpus curation: the composed training-data pipeline.

Every large-scale pretraining corpus goes through the same sequence —
quality filter → exact dedup → fuzzy dedup → decontaminate → redact →
split → chunk (C4, Gopher/MassiveText, RefinedWeb, Dolma all publish
variants of it). Each stage exists in this engine as a first-class
operator; ``curate`` composes them into ONE lazy DataFrame program so
Catalyst plans the whole pipeline together: filters run scan-side before
any shuffle, stages that are pure projections (quality flags, PII
redaction, split assignment, chunking) fuse into the surrounding
whole-stage-codegen spans, and the only exchanges are the ones the
algorithms irreducibly need (the dedup digest agg, the banded-signature
bucket agg, the component propagation, the decontamination anti-join).

Shuffle census at 100 TB (why the stage ORDER is what it is): quality
filtering is free and typically drops 30–60 % of raw web text, so it runs
first and every downstream shuffle moves only survivors; exact dedup
shuffles 24-byte (digest, id) pairs, never payloads; fuzzy dedup (banded
default) shuffles a fixed ``fuzzy_bands`` signature rows per doc —
independent of shingle document frequency — and decontamination shuffles
8-byte hashed shingle keys; the final split+chunk pass is map-only.
Payload bytes cross the wire zero times.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongo_arrow_spark.execution import materialize
from mongo_arrow_spark.operators import dedup as dedup_ops
from mongo_arrow_spark.operators import membership as membership_ops
from mongo_arrow_spark.operators import quality as quality_ops
from mongo_arrow_spark.operators import selection as selection_ops
from mongo_arrow_spark.operators import url as url_ops


def curate(
    df: DataFrame,
    holdout: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    # URL tier (r11; None disables — see operators/url.py): runs FIRST,
    # the CCNet/C4/RefinedWeb order — canonical-URL dedup drops
    # refetches payload-free (16-byte digest shuffle, text never moves),
    # then an optional per-registered-domain cap bounds source
    # dominance before any text-side work happens at all
    url_col: str | None = None,
    url_domain_cap_n: int | None = None,
    # quality gate (Gopher-style bounds; see quality.gopher_quality_flags)
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    # boilerplate line strip (None disables)
    boilerplate_min_df: int | None = None,
    # standing-corpus Bloom gate (None disables; see operators/membership.py)
    bloom_index: DataFrame | None = None,
    bloom_num_bits: int = 1 << 27,
    bloom_num_hashes: int = 5,
    # cross-corpus paragraph dedup (CCNet §4.1; False disables): every
    # paragraph survives only at its first (id, position) occurrence —
    # removes shared quotes/boilerplate bodies BEFORE fuzzy dedup so
    # near-dup similarity is computed on what's actually unique
    paragraph_dedup: bool = False,
    paragraph_sep: str = r"\n{2,}",
    paragraph_join_sep: str = "\n\n",
    paragraph_normalized: bool = False,
    # fuzzy dedup (None threshold disables the fuzzy stage).
    # fuzzy_candidates picks the candidate generator: "banded" (default —
    # md5-banded MinHash buckets, shuffle = fuzzy_bands rows/doc
    # independent of shingle document frequency, the 100 TB shape) or
    # "posting" (the exact inverted-index self-join — full recall below
    # max_df, but shuffle ∝ Σdf² so the cap sheds recall at scale; the
    # opt-in recall dial for bounded corpora)
    jaccard_n: int = 3,
    jaccard_threshold: float | None = 0.3,
    fuzzy_candidates: str = "banded",
    fuzzy_bands: int = 16,
    max_df: int | None = 1000,
    # exact duplicate-substring stripping (Lee et al.; None disables)
    strip_spans_k: int | None = None,
    # semantic dedup over a sibling embedding table (None disables)
    embeddings: DataFrame | None = None,
    embeddings_id_col: str = "vec_id",
    semantic_threshold: float = 0.85,
    semantic_bits: int = 8,
    # deterministic k-means cells for the semantic stage (None keeps the
    # sign-bit quantizer; see clustering.kmeans_fit — assignment stays a
    # map-only literal-centroid projection, so determinism is preserved)
    semantic_kmeans_model=None,
    # decontamination vs the holdout corpus
    decontaminate_threshold: float = 0.8,
    # model-based selection (r8, prefit artifacts — see
    # quality.fit_token_logodds / fit_bucket_ratios and the
    # save_*/load_* round-trips; None disables each stage)
    nb_model: "quality_ops.TokenLogOddsModel | None" = None,
    nb_min_logodds: float = 0.0,
    dsir_model: "quality_ops.BucketRatioModel | None" = None,
    dsir_k: int | None = None,
    dsir_seed: str = "dsir",
    dsir_temperature: float = 1.0,
    # CCNet perplexity tiering over a prefit text.NgramLM (None disables).
    # lm_by keys the quantile tiers PER GROUP (the published recipe
    # computes per-LANGUAGE terciles) — any column on the frame, e.g.
    # the one lang_id_col produces.
    lm_model=None,
    lm_keep: tuple = ("middle", "head"),
    lm_fractions: tuple = (1 / 3, 2 / 3),
    lm_exact: bool = False,
    lm_by: str | None = None,
    # trigram language-ID (r12; None disables): attach
    # langid.identify_language's prediction under this column name
    # right after the URL tier, so every later stage (LM tiers via
    # lm_by, per-language caps/budgets downstream) can key on it
    lang_id_col: str | None = None,
    # per-group cap (r8; None disables — see selection.cap_per_group):
    # at most cap_n surviving docs per cap_group_col value, longest
    # text first (anti-domination, the RefinedWeb per-domain cap)
    cap_group_col: str | None = None,
    cap_n: int = 1000,
    # rank-fusion ensemble gate (r9; None disables — see
    # selection.ensemble_rank): Borda-fuse caller-provided numeric
    # signal columns already on the frame (NB log-odds, LM scores,
    # heuristics — scale-free, no calibration) and keep the best
    # ensemble_top_n rows by fused rank. Runs len(cols)+1 distributed
    # prefix ranks (bounded collects, no one-task window).
    ensemble_cols: list | None = None,
    ensemble_weights: list | None = None,
    ensemble_top_n: int | None = None,
    # token-budget cut (r8; None disables — see
    # selection.select_token_budget): keep the best-scoring prefix of
    # the survivors under an exact whitespace-token budget, scored by
    # integer stopword hits (the englishness proxy; deterministic and
    # engine-portable). Triggers one bounded collect (per-partition
    # subtotals, ≤ shuffle-partition rows) like the fuzzy stage's
    # convergence checks.
    token_budget: int | None = None,
    # domain mixing over the survivors (None disables; see
    # quality.mix_sources / selection.upsample_to_mix /
    # selection.temperature_weights). mix_weights maps mix_key values to
    # target proportions; "downsample" keeps the corpus a subset (the
    # scarcest domain stays whole), "upsample" repeats documents to hit
    # exact floor(w·mix_total) per-domain targets and adds an `epoch`
    # provenance column (mix_total required).
    mix_weights: dict | None = None,
    mix_key: str = "source",
    mix_mode: str = "downsample",
    mix_total: int | None = None,
    # PII
    redact_pii: bool = True,
    # split + chunk
    train: float = 0.8,
    val: float = 0.1,
    split_salt: str = "split",
    chunk_size: int | None = None,
    stride: int | None = None,
    # sequence packing of the curated corpus (None disables)
    pack_seq_len: int | None = None,
    pack_streams: int = 16,
    # per-stage attrition audit (None disables): pass a dict and curate
    # fills it with {stage_name: surviving_row_count} after every stage
    # that ran — "which stage dropped my documents". Each entry is one
    # count() ACTION (materializes the plan up to that stage), so audit
    # runs cost roughly stages × one pipeline pass; leave None in
    # production and audit samples.
    audit: dict | None = None,
) -> DataFrame:
    """Run the full curation pipeline; returns the curated corpus (or, when
    ``chunk_size`` is set, the curated CHUNKS with ``chunk_id``/``n_tokens``
    provenance), each row tagged with its ``split``.

    Deterministic end to end: quality bounds are closed-form, dedup
    winners are min-id, split assignment is md5-hash — the whole pipeline
    is reproducible row-for-row across engines and re-runs (graded
    against a single DuckDB SQL oracle in the battery).

    Stages other than connected components and decontamination stay
    lazy; fuzzy dedup's component propagation is iterative (O(log n)
    rounds of driver-side convergence checks — see
    dedup.connected_components), so calling this with
    ``jaccard_threshold`` set triggers those bounded actions, and
    ``holdout`` triggers decontamination's one bounded size-probe
    action on the HOLDOUT side (the broadcast gate in
    dedup.cross_jaccard_pairs — it scans only the holdout, never the
    corpus).
    """
    def _tap(name, frame):
        if audit is not None:
            audit[name] = frame.count()
        return frame

    if audit is not None:
        # reset: a reused dict would carry stage keys from a previous
        # call and break the "no key == stage did not run" contract
        audit.clear()
    _tap("input", df)

    # 0. URL tier — before anything touches the text
    if url_col is None and url_domain_cap_n is not None:
        raise ValueError(
            "url_domain_cap_n requires url_col — the cap is keyed by "
            "the URL's registered domain"
        )
    if url_col is not None:
        df = _tap("url_dedup", url_ops.url_dedup(df, url_col, id_col=id_col))
        if url_domain_cap_n is not None:
            df = _tap(
                "url_domain_cap",
                url_ops.cap_per_domain(
                    df, url_col, n=url_domain_cap_n, id_col=id_col
                ),
            )

    # 0.5 language-ID tag (r12) — computed on the URL-surviving frame
    # so the broadcast-join scorer never touches rows the URL tier
    # already dropped; the column rides the pipeline for lm_by and any
    # downstream per-language consumer
    if lang_id_col is not None:
        from mongo_arrow_spark.operators.langid import identify_language

        df = _tap(
            "lang_id",
            df.join(
                identify_language(
                    df, text_col=text_col, id_col=id_col, out_col=lang_id_col
                ),
                id_col,
            ),
        )

    # 1. quality gate — pure projection + filter, runs scan-side
    flagged = quality_ops.gopher_quality_flags(
        df,
        text_col,
        min_tokens=min_tokens,
        max_tokens=max_tokens,
        max_mean_word_len=max_mean_word_len,
        min_mean_word_len=min_mean_word_len,
        max_symbol_word_ratio=max_symbol_word_ratio,
    )
    kept = _tap("quality_gate", flagged.filter(F.col("q_keep")).select(df.columns))

    # 1b. boilerplate line strip — line-level repetition (nav menus,
    # banners) removed BEFORE dedup so identical bodies wrapped in
    # different chrome still collide
    if boilerplate_min_df is not None:
        kept = _tap(
            "boilerplate_strip",
            quality_ops.strip_boilerplate_lines(
                kept, id_col=id_col, text_col=text_col,
                min_df=boilerplate_min_df,
            ),
        )

    # 2. exact dedup — digest+id shuffle only
    kept = _tap("exact_dedup", dedup_ops.exact_dedup(kept, id_col, text_col))

    # 2b. standing-corpus Bloom gate — drop rows whose payload already
    # exists in a PREVIOUS corpus (index built once via
    # membership.build_bloom_index, reused across batches; the corpus
    # itself is never rejoined). Bloom's false-positive sliver means
    # "drop" is conservative: ~(1−e^{−kn/m})^k fresh docs are lost —
    # size num_bits for the tolerance, or probe-and-verify outside
    # curate() when zero loss is required.
    if bloom_index is not None:
        kept = membership_ops.probe_bloom(
            kept,
            bloom_index,
            text_col,
            num_bits=bloom_num_bits,
            num_hashes=bloom_num_hashes,
        )
        kept = _tap(
            "bloom_gate", kept.filter(~F.col("maybe_member")).drop("maybe_member")
        )

    # 2c. cross-corpus paragraph dedup — first-occurrence winners over
    # md5 digests (partial-agg min-struct, survivors-only reassembly);
    # documents whose every paragraph already appeared elsewhere drop out
    if paragraph_dedup:
        kept = _tap(
            "paragraph_dedup",
            dedup_ops.dedup_paragraphs(
                kept,
                id_col=id_col,
                text_col=text_col,
                sep=paragraph_sep,
                join_sep=paragraph_join_sep,
                normalized=paragraph_normalized,
            ),
        )

    # 2d. materialize the survivor frame ONCE before the whole-corpus
    # stages (r15): the (quality gate + exact dedup) lineage above feeds
    # up to three independent subtrees — the fuzzy stage's candidate
    # pairs, decontamination's posting base and the output rows — and
    # without a cut each one re-evaluates the upstream scan + regex gate
    # + digest agg + join. persist rather than localCheckpoint: lineage
    # survives, so an executor loss recomputes the lost partitions
    # instead of killing the job. Gated on ≥2 heavy stages: the fuzzy
    # stage alone re-reads `kept` once, where the measured benefit is
    # inside the noise (OPTIMIZATION_r15.md). An enclosing
    # execution.scope() releases it.
    _heavy_stages = (jaccard_threshold is not None) + (
        strip_spans_k is not None
    ) + (holdout is not None)
    if _heavy_stages >= 2:
        kept = materialize(kept)

    # 3. fuzzy dedup — candidate pairs → components → min-id survivors
    if jaccard_threshold is not None:
        if fuzzy_candidates == "banded":
            pairs = dedup_ops.banded_jaccard_pairs(
                kept,
                id_col=id_col,
                text_col=text_col,
                n=jaccard_n,
                threshold=jaccard_threshold,
                bands=fuzzy_bands,
            )
        elif fuzzy_candidates == "posting":
            pairs = dedup_ops.ngram_jaccard_pairs(
                kept,
                id_col=id_col,
                text_col=text_col,
                n=jaccard_n,
                threshold=jaccard_threshold,
                max_df=max_df,
            )
        else:
            raise ValueError(
                f"fuzzy_candidates must be 'banded' or 'posting', "
                f"got {fuzzy_candidates!r}"
            )
        comps = dedup_ops.connected_components(pairs)
        kept = _tap("fuzzy_dedup", dedup_ops.dedup_survivors(kept, comps, id_col))

    # 3b. duplicate-substring stripping — removes boilerplate repeated
    # across surviving docs (doc-level dedup can't see sub-document
    # repetition); one digest-count shuffle + per-doc islands window
    if strip_spans_k is not None:
        kept = _tap(
            "strip_spans",
            dedup_ops.strip_duplicate_spans(
                kept, id_col=id_col, text_col=text_col, k=strip_spans_k,
                max_df=max_df,
            ),
        )

    # 3c. semantic dedup — near-identical meaning under different surface
    # forms, invisible to every lexical stage above; the embedding table
    # rides on the doc id, payloads never join
    if embeddings is not None:
        doomed = (
            dedup_ops.semantic_dedup_pairs(
                embeddings,
                id_col=embeddings_id_col,
                threshold=semantic_threshold,
                bits=semantic_bits,
                kmeans_model=semantic_kmeans_model,
            )
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
        # anti-join on the doomed side: docs without an embedding pass
        # through (a semi-join on survivors would silently drop them)
        kept = _tap("semantic_dedup", kept.join(doomed, id_col, "left_anti"))

    # 4. decontamination — drop train docs near-matching any holdout doc
    if holdout is not None:
        kept = _tap(
            "decontaminate",
            dedup_ops.decontaminate(
                kept,
                holdout,
                id_col=id_col,
                text_col=text_col,
                n=jaccard_n,
                threshold=decontaminate_threshold,
                max_df=max_df,
            ),
        )

    # 4b. model-based selection — supervised NB gate and/or DSIR
    # resampling against PREFIT broadcast-sized models (fit once
    # outside; curate never rescans the fit corpora)
    kept = select_with_models(
        kept,
        nb_model=nb_model,
        nb_min_logodds=nb_min_logodds,
        dsir_model=dsir_model,
        dsir_k=dsir_k,
        dsir_seed=dsir_seed,
        dsir_temperature=dsir_temperature,
        lm_model=lm_model,
        lm_keep=lm_keep,
        lm_fractions=lm_fractions,
        lm_exact=lm_exact,
        lm_by=lm_by,
        id_col=id_col,
        text_col=text_col,
    )
    if nb_model is not None or dsir_model is not None or lm_model is not None:
        _tap("model_select", kept)

    # 4c. per-group cap — one hash shuffle on the group key; best
    # (longest) docs survive, ties broken by id for determinism
    if cap_group_col is not None:
        kept = selection_ops.cap_per_group(
            kept,
            cap_group_col,
            cap_n,
            order_by=[
                F.length(text_col).desc(),
                F.col(id_col).asc(),
            ],
            id_col=id_col,
        )
        _tap("group_cap", kept)

    # 4c2. rank-fusion ensemble gate — combine heterogeneous quality
    # signals without calibration; a single outlier signal can't
    # dominate the way raw-value averaging lets it
    if ensemble_cols:
        kept = selection_ops.ensemble_rank(
            kept,
            list(ensemble_cols),
            weights=ensemble_weights,
            id_col=id_col,
            keep_ranks=False,
        )
        if ensemble_top_n is not None:
            kept = kept.filter(F.col("ens_rank") <= int(ensemble_top_n))
        kept = kept.drop("__wsum", "ens_rank")
        _tap("ensemble", kept)

    # 4d. token-budget cut — the final size gate: rank survivors by
    # stopword hits (integer, deterministic) and keep the prefix whose
    # exact running whitespace-token total stays within the budget
    if token_budget is not None:
        from mongo_arrow_spark.operators.text import (
            DEFAULT_STOPWORDS,
            stopword_hits,
        )

        scored = kept.withColumn(
            "__budget_score",
            stopword_hits(text_col, DEFAULT_STOPWORDS).cast("long"),
        )
        kept = selection_ops.select_token_budget(
            scored,
            token_budget,
            score_col="__budget_score",
            text_col=text_col,
            id_col=id_col,
        ).drop("__budget_score", "n_tokens", "cum_tokens")
        _tap("token_budget", kept)

    # 4e. domain mixing — rebalance the survivors to target proportions:
    # "downsample" filters (corpus never shuffles, scarcest domain kept
    # whole); "upsample" repeats to exact per-domain targets and tags
    # each copy with its epoch index
    if mix_weights is not None:
        if mix_mode == "downsample":
            kept = quality_ops.mix_sources(
                kept, mix_weights, key_col=mix_key, id_col=id_col
            )
        elif mix_mode == "upsample":
            if mix_total is None:
                raise ValueError("mix_mode='upsample' requires mix_total")
            kept = selection_ops.upsample_to_mix(
                kept, mix_weights, mix_total, key_col=mix_key, id_col=id_col
            )
        else:
            raise ValueError(
                f"mix_mode must be 'downsample' or 'upsample', got {mix_mode!r}"
            )
        _tap("mix", kept)

    # 5. PII redaction — regex projection
    if redact_pii:
        kept = kept.withColumn(text_col, quality_ops.pii_redact(text_col))

    # 6. deterministic split assignment — md5 projection
    kept = quality_ops.train_split(
        kept, id_col=id_col, train=train, val=val, salt=split_salt
    )

    # 7. chunking — posexplode of token windows
    if chunk_size is not None:
        carry = [c for c in kept.columns if c not in (id_col, text_col)]
        chunks = quality_ops.chunk_tokens(
            kept,
            id_col=id_col,
            text_col=text_col,
            chunk_size=chunk_size,
            stride=stride or chunk_size,
        )
        kept = _tap("chunk", chunks.join(kept.select(id_col, *carry), id_col))

    # 8. sequence packing — (stream, seq_id, seq_offset) assignment over
    # independent hash streams; the trainer-facing manifest columns ride
    # on the curated rows (chunk rows pack by their chunk text when
    # chunking ran — each chunk is then a packable unit)
    if pack_seq_len is not None:
        from mongo_arrow_spark.operators import packing as packing_ops

        unit_id = "chunk_uid" if chunk_size is not None else id_col
        unit_text = "chunk_text" if chunk_size is not None else text_col
        base = kept
        if chunk_size is not None:
            base = base.withColumn(
                "chunk_uid",
                F.concat_ws(":", F.col(id_col).cast("string"), F.col("chunk_id")),
            )
        # pack WITHIN each split: a sequence straddling train/val would
        # leak eval text into training batches, so the sequence identity
        # is (split, stream, seq_id)
        packed = packing_ops.pack_sequences(
            base,
            seq_len=pack_seq_len,
            n_streams=pack_streams,
            id_col=unit_id,
            text_col=unit_text,
            group_cols=["split"],
        )
        kept = base.join(packed.drop("n_tokens", "split"), unit_id)
        if chunk_size is not None:
            kept = kept.drop("chunk_uid")
    return kept


def curation_report(
    df: DataFrame,
    curated: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """One-row funnel summary: input docs, surviving docs/chunks, and the
    per-split breakdown — the numbers a pipeline run reports to its
    operator. Two count aggs, no payload movement."""
    total = df.select(F.count(F.lit(1)).cast("long").alias("n_input"))
    split_col = "split" if "split" in curated.columns else None
    out = curated.agg(
        F.count(F.lit(1)).cast("long").alias("n_output"),
        F.countDistinct(id_col).cast("long").alias("n_docs"),
        *(
            [
                F.sum(F.when(F.col(split_col) == s, 1).otherwise(0))
                .cast("long")
                .alias(f"n_{s}")
                for s in ("train", "val", "test")
            ]
            if split_col
            else []
        ),
    )
    return total.crossJoin(out)


def select_with_models(
    df: DataFrame,
    *,
    nb_model: "quality_ops.TokenLogOddsModel | None" = None,
    nb_min_logodds: float = 0.0,
    dsir_model: "quality_ops.BucketRatioModel | None" = None,
    dsir_k: int | None = None,
    dsir_seed: str = "dsir",
    dsir_temperature: float = 1.0,
    lm_model=None,
    lm_keep: tuple = ("middle", "head"),
    lm_fractions: tuple = (1 / 3, 2 / 3),
    lm_exact: bool = False,
    lm_by: str | None = None,
    ensemble_cols: list | tuple | None = None,
    ensemble_weights: list | None = None,
    ensemble_top_n: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Model-based selection stages over PREFIT artifacts, shared by
    batch ``curate`` and streaming ``foreachBatch``:

    - **NB gate**: keep rows whose mean token log-odds under
      ``nb_model`` (``quality.score_token_logodds``) is ≥
      ``nb_min_logodds`` — the CCNet/GPT-3-style classifier filter.
      A zero-token (NULL-text) row scores the model's smoothed default,
      so its fate follows the threshold instead of a silent drop — the
      same keep-eligible contract as the DSIR stage.
    - **DSIR selection**: ``quality.importance_resample`` with the
      frozen ``dsir_model`` ratios draws ``dsir_k`` rows via the seeded
      Gumbel-top-k (deterministic; ``log_importance`` is dropped so the
      stage is pass-through on columns).
    - **LM perplexity tiers** (``lm_model``: a fitted ``text.NgramLM``):
      CCNet's head/middle/tail split — rows are scored by
      ``text.score_ngram_lm`` and bucketed by batch-relative quantiles
      (``text.perplexity_buckets``; ``lm_exact=False`` uses
      ``percentile_approx``, the 100 TB path); only ``lm_keep`` tiers
      survive. A zero-token row scores the OOV default and follows the
      tiering like any other.
    - **Rank-fusion ensemble** (``ensemble_cols`` — r10): Borda-fuse
      caller-provided numeric signal columns (``selection.ensemble_rank``;
      ``ensemble_weights`` must be INTEGERS — fusion is integer-exact,
      scale ratios up) and, with ``ensemble_top_n``, keep the best n.
      BATCH-LOCAL rank
      semantics, like ``dsir_k`` and the LM quantile tiers: ranks (and
      the top-n cut) are computed WITHIN the frame this function is
      handed — inside ``foreachBatch`` that is the micro-batch, so
      "top n" means per batch, and the union of per-batch winners is
      NOT the global top over the accumulated corpus (rank fusion has
      no append-legal streaming form — run batch ``curate`` with
      ``ensemble_cols=`` over the accumulated table for the global
      cut). Scaffolding columns are dropped: pass-through contract.

    Both plans are explode → broadcast model join → ~1-row-per-doc
    partial agg → id-keyed join-back; the batch is never shuffled whole
    and the models never refit. Pass-through contract: output columns ==
    input columns; with both models None the input returns unchanged.

    Streaming: the per-doc aggregation is not append-legal as a raw
    stream transform, so apply this INSIDE ``foreachBatch`` (each
    micro-batch is a plain batch frame; ``dsir_k`` then selects top-k
    PER MICRO-BATCH). Model-refresh semantics: a model loaded with
    ``quality.load_token_logodds`` / ``load_bucket_ratios`` is a static
    parquet lineage, re-resolved on every micro-batch — overwrite the
    artifact and the next batch scores under the new model, no restart.
    """
    out = df
    if nb_model is not None:
        scored = quality_ops.score_token_logodds(
            out, nb_model, id_col=id_col, text_col=text_col
        )
        keep_ids = scored.filter(
            F.col("nb_logodds") >= nb_min_logodds
        ).select(id_col)
        out = out.join(keep_ids, id_col, "left_semi")
    if lm_model is not None:
        from mongo_arrow_spark.operators import text as text_ops

        lm_scored = text_ops.score_ngram_lm(
            out, lm_model, id_col=id_col, text_col=text_col
        )
        if lm_by is not None:
            # per-group (CCNet: per-LANGUAGE) quantile tiers — the
            # grouping column rides the input frame, score_ngram_lm
            # returns only (id, n_tokens, logprob), so join it back
            lm_scored = lm_scored.join(
                out.select(id_col, lm_by), id_col
            )
        tiers = text_ops.perplexity_buckets(
            lm_scored,
            score_col="logprob",
            by=lm_by,
            fractions=lm_fractions,
            labels=("tail", "middle", "head")[: len(lm_fractions) + 1],
            exact=lm_exact,
        )
        keep_ids = tiers.filter(
            F.col("ppl_bucket").isin(list(lm_keep))
        ).select(id_col)
        out = out.join(keep_ids, id_col, "left_semi")
    if dsir_model is not None:
        if dsir_k is None:
            raise ValueError("dsir_model requires dsir_k")
        out = quality_ops.importance_resample(
            out,
            None,
            k=dsir_k,
            id_col=id_col,
            text_col=text_col,
            seed=dsir_seed,
            temperature=dsir_temperature,
            model=dsir_model,
        ).drop("log_importance")
    if ensemble_cols:
        ranked = selection_ops.ensemble_rank(
            out,
            list(ensemble_cols),
            weights=ensemble_weights,
            id_col=id_col,
            keep_ranks=False,
        )
        if ensemble_top_n is not None:
            ranked = ranked.filter(F.col("ens_rank") <= int(ensemble_top_n))
        out = ranked.drop("__wsum", "ens_rank")
    return out


def ingest_gate(
    batch: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    # in-batch exact dedup (always on: a batch must not admit its own
    # duplicates even when no standing index exists yet)
    # standing-corpus exact gate (Bloom bit table; None disables)
    bloom_index: DataFrame | None = None,
    bloom_num_bits: int = 1 << 27,
    bloom_num_hashes: int = 5,
    # standing-corpus near-dup gate (build_lsh_index artifact; None
    # disables)
    lsh_index: DataFrame | None = None,
    neardup_threshold: float = 0.8,
    # standing-corpus paragraph gate (build_paragraph_index artifact;
    # None disables): strips paragraphs the corpus has already seen and
    # dedups the batch's own paragraphs FIRST, so every later digest /
    # token gate sees the cleaned text
    paragraph_index: DataFrame | None = None,
    paragraph_sep: str = r"\n{2,}",
    paragraph_join_sep: str = "\n\n",
    # model-based selection over prefit artifacts (None disables each)
    nb_model: "quality_ops.TokenLogOddsModel | None" = None,
    nb_min_logodds: float = 0.0,
    dsir_model: "quality_ops.BucketRatioModel | None" = None,
    dsir_k: int | None = None,
    lm_model=None,
    lm_keep: tuple = ("middle", "head"),
    # quality bounds (None disables the gopher gate)
    min_tokens: int | None = 20,
    max_tokens: int = 100_000,
    # trigram language-ID tag on ACCEPTED rows (r12 tier; None
    # disables): identify_language is per-doc (a doc's prediction uses
    # only its own trigrams), so tagging batch-by-batch here equals
    # tagging the accumulated corpus once — the foreachBatch lambda
    # shape is exactly this call (parity pinned in tests/test_curate.py)
    lang_id_col: str | None = None,
) -> tuple[DataFrame, DataFrame | None, DataFrame | None]:
    """The incremental-ingest door for a standing corpus, as ONE product
    operator (the batch twin of ``curate_stream``; previously composed
    by hand in examples/ingest_gate.py): standing paragraph gate →
    quality gate → in-batch exact dedup → standing Bloom exact gate →
    standing LSH near-dup gate → prefit-model selection. All four
    standing structures (paragraph index, Bloom bit table, LSH
    signature index, model artifacts) now sit behind the one call (r8
    verdict item #5 — the full CCNet ingest door), and the r12 crawl
    tier composes at the two ends: ``encoding.decode_payload`` is a
    row-local projection, so it applies to the raw batch (or raw
    stream) BEFORE the gate, and ``lang_id_col=`` tags accepted rows
    with the trigram prediction AFTER it. Returns
    ``(accepted, updated_lsh_index, updated_paragraph_index)`` — the
    accepted rows and, for each standing index that was given, the
    index extended with the accepted batch (``dedup.update_lsh_index``
    / ``dedup.update_paragraph_index`` — new rows only, the corpus
    text is NEVER rescanned); the caller persists all of them.

    The paragraph stage runs FIRST because it rewrites ``text_col``
    (drops already-seen paragraphs, CCNet-style) — every later digest,
    token-count, and model gate must see the cleaned text, and the
    paragraph index must record what the corpus ADMITTED (the cleaned
    accepted text), so batch-by-batch processing stays equivalent to
    the global ``dedup_paragraphs`` (parity pinned in
    tests/test_curate.py).

    Every stage probes a bounded artifact (digest index, bit table,
    signature index, model table) — the standing corpus itself never
    joins, so the cost per batch is O(batch + index probe), independent
    of corpus text size. All gates are conservative drops (Bloom's
    false-positive sliver, LSH's candidate recall): size the artifacts
    for the loss tolerance, or verify the flagged sliver against the
    corpus with ``membership.probe_and_verify`` outside the gate when
    zero loss is required.
    """
    kept = batch
    if paragraph_index is not None:
        kept = dedup_ops.paragraph_ingest_gate(
            kept,
            paragraph_index,
            id_col=id_col,
            text_col=text_col,
            sep=paragraph_sep,
            join_sep=paragraph_join_sep,
        )
    if min_tokens is not None:
        flagged = quality_ops.gopher_quality_flags(
            kept, text_col, min_tokens=min_tokens, max_tokens=max_tokens
        )
        kept = flagged.filter(F.col("q_keep")).select(batch.columns)
    kept = dedup_ops.exact_dedup(kept, id_col, text_col)
    if bloom_index is not None:
        kept = membership_ops.probe_bloom(
            kept,
            bloom_index,
            text_col,
            num_bits=bloom_num_bits,
            num_hashes=bloom_num_hashes,
        )
        kept = kept.filter(~F.col("maybe_member")).drop("maybe_member")
    if lsh_index is not None:
        kept = dedup_ops.probe_neardup(
            kept, lsh_index, id_col, text_col, threshold=neardup_threshold
        )
        kept = kept.filter(~F.col("neardup")).drop(
            "neardup", "neardup_matches", "neardup_best_id",
            "neardup_best_est",
        )
    kept = select_with_models(
        kept,
        nb_model=nb_model,
        nb_min_logodds=nb_min_logodds,
        dsir_model=dsir_model,
        dsir_k=dsir_k,
        lm_model=lm_model,
        lm_keep=lm_keep,
        id_col=id_col,
        text_col=text_col,
    )
    if lang_id_col is not None:
        from mongo_arrow_spark.operators.langid import identify_language

        # tag LAST: the broadcast-join scorer only touches admitted
        # rows (same never-score-dropped-rows discipline as curate()'s
        # stage 0.5)
        kept = kept.join(
            identify_language(
                kept, text_col=text_col, id_col=id_col, out_col=lang_id_col
            ),
            id_col,
        )
    updated = None
    if lsh_index is not None:
        updated = dedup_ops.update_lsh_index(
            lsh_index, kept.select(id_col, text_col), id_col, text_col
        )
    updated_pars = None
    if paragraph_index is not None:
        updated_pars = dedup_ops.update_paragraph_index(
            paragraph_index,
            kept.select(id_col, text_col),
            id_col,
            text_col,
            sep=paragraph_sep,
        )
    return kept, updated, updated_pars


def curate_stream(
    stream: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    redact_pii: bool = True,
    train: float = 0.8,
    val: float = 0.1,
    split_salt: str = "split",
    bloom_index: DataFrame | None = None,
    bloom_num_bits: int = 1 << 27,
    bloom_num_hashes: int = 5,
) -> DataFrame:
    """The streaming form of ``curate``: the stages that are projections
    (quality gate, PII redaction, split assignment) apply unchanged to a
    readStream, and exact dedup becomes watermarked streaming dedup on
    the text digest — duplicates arriving within the horizon are dropped
    with bounded state (state expires with the watermark; pass
    ``ts_col=None`` for unbounded-state dedup on a finite replay).

    The corpus-wide stages (fuzzy/semantic dedup, decontamination) are
    batch-only by nature — they join the whole corpus against itself.
    The streaming pipeline is the ingest gate; run batch ``curate`` over
    the accumulated table on a schedule for the global stages (the
    standard lambda shape for corpus curation). The model-based
    selection stages (NB gate, DSIR) need a per-doc aggregation that is
    not append-legal as a raw stream transform — apply
    ``select_with_models`` inside ``foreachBatch`` (streaming == batch
    parity pinned in tests/test_curate.py). The r8 closing stages
    (per-group cap, token-budget cut) are likewise batch-only: both
    rank across the WHOLE corpus, which has no append-legal streaming
    form — run them in the scheduled batch pass. Incremental paragraph
    dedup DOES have a streaming form: apply
    ``dedup.paragraph_ingest_gate`` inside ``foreachBatch`` against a
    standing ``build_paragraph_index`` snapshot and persist the updated
    index per batch (parity pinned in tests/test_paragraph_dedup.py).

    The r12 crawl tier splits the same way (lambda shape, parity
    pinned in tests/test_curate.py): ``encoding.decode_payload`` is a
    row-local Arrow-batched projection — append-legal, apply it to the
    RAW stream before this function, no foreachBatch needed — while
    ``langid.identify_language`` is a per-doc aggregation (explode →
    join → agg), which streams only inside ``foreachBatch`` (e.g. via
    ``ingest_gate(lang_id_col=...)``); because a doc's prediction uses
    only its own trigrams, micro-batch tagging equals batch tagging
    EXACTLY, batch boundaries don't matter.

    Same determinism contract as batch: a row that flows through both
    paths lands in the same split with the same redacted text.
    """
    from pyspark.sql import functions as F

    flagged = quality_ops.gopher_quality_flags(
        stream,
        text_col,
        min_tokens=min_tokens,
        max_tokens=max_tokens,
        max_mean_word_len=max_mean_word_len,
        min_mean_word_len=min_mean_word_len,
        max_symbol_word_ratio=max_symbol_word_ratio,
    )
    kept = flagged.filter(F.col("q_keep")).select(stream.columns)

    kept = kept.withColumn("__digest", F.md5(F.col(text_col)))
    if ts_col is not None:
        kept = kept.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["__digest"]
        )
    else:
        kept = kept.dropDuplicates(["__digest"])
    kept = kept.drop("__digest")

    # standing-corpus Bloom gate: a stream-static join against the bit
    # table — the streaming twin of batch stage 2b. The static side is
    # re-resolvable per micro-batch, so a refreshed index parquet is
    # picked up without restarting the stream.
    if bloom_index is not None:
        kept = membership_ops.probe_bloom_rowwise(
            kept,
            bloom_index,
            text_col,
            num_bits=bloom_num_bits,
            num_hashes=bloom_num_hashes,
        )
        kept = kept.filter(~F.col("maybe_member")).drop("maybe_member")

    if redact_pii:
        kept = kept.withColumn(text_col, quality_ops.pii_redact(text_col))

    return quality_ops.train_split(
        kept, id_col=id_col, train=train, val=val, salt=split_salt
    )
