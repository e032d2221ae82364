#!/usr/bin/env python
"""The last mile: from a curated corpus to trainer-ready artifacts.

Everything downstream of selection, composed end-to-end:

1. **Fit a real BPE tokenizer** on the corpus (one word-count scan +
   bounded driver merge loop), save it as a parquet artifact, and count
   every document's TRUE token cost — whitespace counts undercount
   morphology-rich text, so every budget below uses BPE tokens.
2. **Cut to a token budget**: per-language budgets first (no language
   starves), then the global best-N-tokens prefix via the distributed
   prefix sum.
3. **Split + pack**: deterministic md5 splits, then GPT-style sequence
   packing WITHIN each split (a sequence never mixes train and val
   text) using the BPE counts.
4. **Lay out the output for the cluster that reads it next**: Z-order
   the packed manifest by (stream, seq_id) for min/max pruning, and
   write the document payload bucketed by id so the trainer's
   payload-join runs with zero exchange.

Deterministic end to end; every step is a DataFrame plan whose shape is
unchanged at 100 TB (broadcast-sized model artifacts, bounded driver
collects, no single-task stage).

Run: python examples/trainer_handoff.py [sf_dir]
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mongo_arrow_spark.operators import layout, packing, selection
from mongo_arrow_spark.operators import tokenizer as tk
from mongo_arrow_spark.operators.quality import train_split
from mongo_arrow_spark.session import get_spark, load_tables


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = tempfile.mkdtemp(prefix="trainer_handoff_")
    spark = get_spark("trainer-handoff")
    docs = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", "lang", "text", "n_chars"
    )

    # 1. tokenizer: fit once, save, count true tokens
    model = tk.fit_bpe(docs, num_merges=120, max_fit_words=8192)
    tk.save_bpe(model, spark, f"{out_dir}/bpe")
    model = tk.load_bpe(spark, f"{out_dir}/bpe")  # prove the round-trip
    counted = tk.bpe_token_count(docs.repartition(8), model)
    total = counted.agg(F.sum("n_bpe_tokens")).first()[0]
    print(f"tokenizer: {len(model.merges)} merges, corpus = {total} BPE tokens")

    # 2. score: Borda-fuse two cheap signals (length, lexical variety)
    # into one calibration-free quality rank (r9) — substitute NB
    # log-odds / LM perplexity for real corpora; then per-language
    # budget floor (no language starves), then the global cut
    scored = selection.ensemble_rank(
        counted.withColumn(
            "dw",
            F.size(
                F.array_distinct(
                    F.split(F.coalesce("text", F.lit("")), " ", -1)
                )
            ).cast("long"),
        ),
        ["n_chars", "dw"],
        weights=[1, 2],
        keep_ranks=False,
    ).withColumn("quality", -F.col("ens_rank"))
    per_lang = selection.select_token_budget(
        scored,
        int(total) // 6,
        score_col="quality",
        token_col="n_bpe_tokens",
        group_col="lang",
    ).drop("n_tokens", "cum_tokens")
    chosen = selection.select_token_budget(
        per_lang,
        int(total) // 2,
        score_col="quality",
        token_col="n_bpe_tokens",
    ).drop("n_tokens", "cum_tokens")
    print(f"budget: {docs.count()} docs -> {chosen.count()} selected")

    # 3. split, then pack WITHIN splits by BPE counts
    split = train_split(chosen, train=0.9, val=0.05)
    packed = packing.pack_sequences(
        split,
        seq_len=512,
        n_streams=8,
        n_tokens_col="n_bpe_tokens",
        group_cols=["split"],
    )
    manifest = packing.pack_manifest(packed, seq_len=512, group_cols=["split"])
    print(
        "packed sequences per split:",
        sorted(
            (r["split"], r["n"])
            for r in manifest.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ),
    )

    # 3b. eval batches: the val split gets length-bucketed dynamic
    # batches (r9) — padded eval batches of ~2048 BPE tokens whose
    # members share a length bucket, fairseq --max-tokens style
    val_batches = packing.bucket_batches(
        split.filter(F.col("split") == "val"),
        capacity=2048,
        bucket_width=128,
        n_tokens_col="n_bpe_tokens",
    )
    n_b = (
        val_batches.select("len_bucket", "batch_id").distinct().count()
    )
    print(f"eval batching: {val_batches.count()} val docs -> {n_b} batches")

    # 4. layout for the next reader: Z-ordered manifest, bucketed payload
    layout.write_zordered(
        manifest.withColumn("seq_id", F.col("seq_id").cast("long")),
        f"{out_dir}/manifest",
        ["stream", "seq_id"],
        bits=6,
        num_files=8,
    )
    spark.sql("DROP TABLE IF EXISTS handoff_payload")
    layout.write_bucketed(
        split.select("doc_id", "text"),
        "handoff_payload",
        ["doc_id"],
        num_buckets=8,
        path=f"{out_dir}/payload",
    )
    st = layout.file_stats(
        spark.read.parquet(f"{out_dir}/manifest"), ["stream"]
    )
    span = st.agg(
        F.avg(F.col("stream_max") - F.col("stream_min"))
    ).first()[0]
    print(f"layout: manifest mean per-file stream span {span:.1f} of 7; "
          f"payload bucketed at {out_dir}/payload")
    print(f"artifacts under {out_dir}")


if __name__ == "__main__":
    main()
