"""Graded queries must run under a conf-bare SparkSession.

Round-5 regression: every builder-side check ran under ``get_spark``'s
tuned confs, so a reader that depended on
``spark.sql.python.filterPushdown.enabled`` passed in-repo but errored in
the driver's harness (its session never sets the conf).  This test spawns
a SUBPROCESS (``get_spark`` sets confs at SparkContext-builder time, so an
in-process ``newSession()`` would inherit them) that builds a bare
``local[2]`` session, applies only ``__spark_entry__._configure`` — the
one hook the driver gives us — and runs one representative graded query
per source type: parquet scan, documents python-datasource (the r5
failure), streaming replay, and an MQL-translated embeddings query.

Any future conf dependency fails here instead of in the driver's gate.
"""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .appName("vanilla-gate")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as entrymod

queries = entrymod.queries()
sf_dir = "/root/testdata/sf0.001"
for name in {names!r}:
    rows = queries[name](spark, sf_dir).collect()
    assert rows, f"{{name}}: empty result under vanilla session"
    print(f"OK {{name}} rows={{len(rows)}}", flush=True)
spark.stop()
print("VANILLA_GATE_PASS")
"""

REPRESENTATIVES = [
    "q01_pricing_summary",  # parquet scan + agg (ns-timestamp conf path)
    "q_scan_gzip_dump",  # documents python data source (r5 driver failure)
    "q_scan_partitioned",  # pushdown=true reader (needs the _configure conf)
    "cdc_watch_stream",  # streaming micro-batch replay
    "mql_vector_search",  # MQL translator + embeddings table
    "cluster_safe_split",  # r6 graded rotation: components + md5 label
    # r8 graded rotation: the data-selection tier (each promoted entry
    # must run conf-bare before the driver sees it)
    "quality_nb_classifier",
    "dsir_resample",
    "text_bigram_logprob",
    "dedup_canonical",
    # r8 second rotation: the new operator families
    "ts_range_join",
    "text_ppl_buckets",
    # r8 sixth wave: cross-corpus paragraph dedup (graded rotation)
    "dedup_paragraphs",
    # r9 rotation: the session-3 flagship families (r8 verdict item #1)
    "select_kcenter",
    "select_mmr",
    "graph_pagerank",
    "pack_shards",
    "mix_interleave",
    "corpus_diff",
    "cluster_kmeans",
    # r10 rotation: the r9 wave families, graded since r10 (plus the
    # parked brute hard-negatives form and the new graded IVF
    # representative) — conf-bare before the driver runs them
    "tok_pack_pipeline",
    "corpus_time_travel",
    "quality_ensemble",
    "sim_hard_negatives",
    "sim_hard_negatives_ivf",
    "pack_bucket_batches",
    "text_ngram_novelty",
    # r10 session waves (parked, promotion candidates): contract tier,
    # numeric drift, and the crawl path — conf-bare before any future
    # rotation puts them in front of the driver
    "contract_check",
    "contract_by_group",
    "drift_numeric",
    "q_scan_warc",
    "q_scan_warc_html",
    # r11 rotation: the remaining r10 wave entries, graded since r11 —
    # conf-bare before the driver runs them
    "layout_content_addressed",
    "corpus_version_stream",
    # r11 waves (parked, promotion candidates): the URL tier —
    # conf-bare before any future rotation puts them in front of the
    # driver
    "url_canonicalize",
    "url_domain_cap",
    "q_scan_warc_main",
    "q_crawl_stream",
    # r12 waves (parked, promotion candidates): charset transcode,
    # trigram lang-ID, URL-tier curation composition — conf-bare
    # before any future rotation puts them in front of the driver
    "q_decode_charset",
    "lang_id_trigram",
    "curate_corpus_url",
    "url_filter",
    "q_scan_wet",
    # r13 wave (parked, promotion candidate): the crawl front door in
    # composition — Content-Encoding undo + charset transcode +
    # content-type-routed extraction under one oracle
    "q_crawl_transcode",
    "q_extract_links",
    "q_link_graph",
    "q_sniff_mime",
    "q_robots_gate",
    "q_crawl_frontier",
    "q_sitemap_frontier",
    "q_canonical_dedup",
    "q_fetch_schedule",
    # r14 wave (parked, promotion candidates): base-href resolution,
    # politeness-aware scheduling, host authority, page metadata —
    # conf-bare before any future rotation puts them in front of the
    # driver
    "q_extract_links_base",
    "q_fetch_schedule_polite",
    "q_host_authority",
    "q_extract_meta",
]


# started when collection ends and joined here (the ``subprocess_gate``
# marker, tests/conftest.py): its ~2 minutes of local[2] wall time
# overlap the rest of the suite
@pytest.mark.subprocess_gate(
    [sys.executable, "-c", _SCRIPT.format(repo=REPO, names=REPRESENTATIVES)]
)
def test_graded_queries_under_vanilla_session(gate_output):
    assert "VANILLA_GATE_PASS" in gate_output, gate_output[-6000:]
