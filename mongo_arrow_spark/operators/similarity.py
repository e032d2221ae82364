"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — one narrow scan, dot products in JVM
higher-order functions, TakeOrdered for the top-k (no global sort).

Every approximate path is one candidate generator followed by a
ranking scan over the survivors:
- sign-bucket (random hyperplane) LSH — deterministic seeded
  projections, candidates restricted to the query's bucket ring
  (``_ring_distance``), ranked by exact cosine;
- IVF cells — a deterministic Lloyd's fit on an ids-sorted sample,
  candidates restricted to the cells nearest the query (``_ivf_route``),
  ranked by exact cosine (``ivf_topk``) or by the PQ asymmetric
  distance (``ivf_pq_topk``; persisted as ``build_ivf_pq_index``).
Query×corpus joins broadcast the query side (``knn_join``,
``hard_negatives``); corpus×corpus mining routes through IVF cells
(``hard_negatives_ivf``).
"""

from __future__ import annotations

import math
import random
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mongo_arrow_spark.execution import local_frame, materialize, spread
from mongo_arrow_spark.operators.clustering import const_array, valid_vector


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(v: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def normalize(v: Column) -> Column:
    # the norm is let-bound so the O(d) aggregate runs once, not once per
    # element inside the transform lambda (O(d²) per row otherwise)
    from mongo_arrow_spark.operators.text import bind

    return bind(norm(v), lambda n: F.transform(v, lambda x: x.cast("double") / n))


def cosine(a: Column, b: Column) -> Column:
    return (dot(a, b) / (norm(a) * norm(b))).cast("double")


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    Plan: scan → per-row dot product (codegen) → TakeOrderedAndProject(k).
    At 1000 executors this is a map + k-row reduce; no shuffle of the data.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        df.select(
            F.col(id_col),
            cosine(F.col(vec_col), q).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def sign_buckets(v: Column, bits: int, dim: int = 64, seed: int = 42) -> Column:
    """Random-hyperplane sign bucket id (SimHash for vectors): ``bits``
    seeded Gaussian projections → packed int. Deterministic across runs."""
    planes = _hyperplanes(dim, bits, seed)
    acc = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        acc = acc + F.when(dot(v, p) >= 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return acc


def _ring_distance(
    vec_col: str, query: list[float], bits: int, seed: int
) -> Column:
    """Hamming distance between each row's sign bucket and the query's —
    the ring both LSH paths filter on. The query's bucket is computed on
    the driver with the same seeded hyperplanes as ``sign_buckets``."""
    q = [float(x) for x in query]
    qbits = 0
    for i, plane in enumerate(_hyperplanes(len(q), bits, seed)):
        if sum(a * b for a, b in zip(q, plane)) >= 0:
            qbits |= 1 << i
    bucket = sign_buckets(F.col(vec_col), bits, len(q), seed)
    return F.bit_count(bucket.bitwiseXOR(F.lit(qbits)))


def cosine_topk_lsh(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    max_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: only rows whose sign-bucket is within
    ``max_hamming`` bits of the query's bucket are scored. Bucketing is a
    pushable filter over a precomputable column — at scale, persist the
    bucket id as a partition column and this becomes partition pruning."""
    candidates = df.filter(
        _ring_distance(vec_col, query_vec, bits, seed) <= max_hamming
    )
    return cosine_topk(candidates, query_vec, k, id_col, vec_col)


def prune_candidates_lsh(
    df: DataFrame,
    query_vec: list[float],
    num_candidates: int,
    vec_col: str = "embedding",
    bits: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Candidate pruning for ANN search: keep the smallest sign-bucket
    Hamming ring around the query's bucket that holds ≥ ``num_candidates``
    rows (Atlas ``numCandidates`` semantics — more candidates, better
    recall, more work).

    Two passes: (1) a bits+1-row histogram of bucket distances (partial agg,
    collect is driver coordination only — ≤ 9 rows at bits=8), (2) the
    pruned scan ``bit_count(bucket ⊕ qbucket) ≤ radius``. At corpus scale,
    persist the bucket id as a partition column and pass (2) becomes
    partition pruning; pass (1) runs on the tiny bucket-stats table."""
    dist = _ring_distance(vec_col, query_vec, bits, seed)
    hist = {
        r["__d"]: r["count"]
        for r in df.select(dist.alias("__d")).groupBy("__d").count().collect()
    }
    cum, radius = 0, bits
    for r in range(bits + 1):
        cum += hist.get(r, 0)
        if cum >= num_candidates:
            radius = r
            break
    return df.filter(dist <= radius)


#: centroid-fit sample cap: ids-sorted prefix, so the fit is a pure
#: function of the corpus (no RNG in the data path, no Spark-ML model
#: state). 100 TB posture: you never fit KMeans on the full corpus —
#: centroids come from a bounded sample; only ASSIGNMENT is distributed.
IVF_FIT_SAMPLE = 4096


def fit_ivf_centroids(
    vectors: list[list[float]], n_clusters: int, seed: int = 42, iters: int = 8
) -> list[list[float]]:
    """Deterministic Lloyd's on a driver-side sample: seeded choice of
    initial centroids, fixed iteration count, ties to the lowest cell,
    left-to-right float accumulation — every step replayable in pure
    Python (tests/test_similarity.py pins the full output).

    The hot loop runs through numpy when available (r14: the pure-Python
    fit was 2.2 s of the benched IVF key at a 2000×32×64 sample and
    grows with the auto cell count) — but ONLY through operations whose
    float semantics are POSITIONALLY IDENTICAL to the scalar loop:
    elementwise subtract/multiply/divide are single IEEE ops either way,
    and ``np.cumsum``/``np.add.accumulate`` is sequential left-to-right
    by definition (each partial sum depends on the previous), unlike
    ``np.sum``'s pairwise reduction which is NOT used here. ``np.argmin``
    returns the first minimum — the same strict-< tie rule as
    ``_nearest_cell`` (early abandonment never changes the winner, only
    the op count). ``tests/test_similarity.py`` pins numpy == scalar
    on adversarial near-tie fixtures; ragged samples keep the scalar
    path (zip-truncation semantics have no rectangular equivalent)."""
    import random

    vecs = [[float(x) for x in v] for v in vectors]
    if len(vecs) <= n_clusters:
        return vecs
    rng = random.Random(seed)
    centroids = [list(v) for v in rng.sample(vecs, n_clusters)]
    np = None
    if vecs and all(len(v) == len(vecs[0]) for v in vecs):
        try:
            import numpy as np
        except ImportError:  # pragma: no cover
            np = None
    if np is not None:
        return _fit_lloyd_numpy(np, vecs, centroids, iters)
    for _ in range(iters):
        sums = [[0.0] * len(c) for c in centroids]
        counts = [0] * n_clusters
        for v in vecs:
            j = _nearest_cell(v, centroids)
            counts[j] += 1
            s = sums[j]
            for i, x in enumerate(v):
                s[i] += x
        centroids = [
            [x / counts[j] for x in sums[j]] if counts[j] else centroids[j]
            for j in range(n_clusters)
        ]
    return centroids


def _fit_lloyd_numpy(np, vecs, init, iters):
    """Vectorized Lloyd iterations, bit-identical to the scalar loop —
    see :func:`fit_ivf_centroids` for the op-by-op equivalence argument.
    Distance accumulation and centroid sums both go through ``cumsum``
    (strictly sequential), never ``sum`` (pairwise). Assignment is
    blocked so the (rows × cells × dim) temporary stays ~128 MB even at
    the 1024-cell auto cap."""
    V = np.asarray(vecs, dtype=np.float64)
    C = np.asarray(init, dtype=np.float64)
    n, d = V.shape
    k = C.shape[0]
    block = max(1, (1 << 24) // max(1, k * d))
    assign = np.empty(n, dtype=np.int64)
    for _ in range(iters):
        for s in range(0, n, block):
            e = min(n, s + block)
            diff = V[s:e, None, :] - C[None, :, :]
            np.multiply(diff, diff, out=diff)
            assign[s:e] = np.argmin(
                np.cumsum(diff, axis=2)[:, :, -1], axis=1
            )
        new = np.empty_like(C)
        for j in range(k):
            members = V[assign == j]
            if members.shape[0]:
                new[j] = np.cumsum(members, axis=0)[-1] / members.shape[0]
            else:
                new[j] = C[j]
        C = new
    return [[float(x) for x in row] for row in C]


def _nearest_cell(v: list[float], centroids: list[list[float]]) -> int:
    """Strict-`<` first-min argmin with early abandonment (r10): the
    partial sum of squares is monotone non-decreasing, so once it
    reaches the incumbent best it can never win the strict `<` test —
    breaking out changes nothing about the result, only the op count
    (the winner's distance is still the full left-to-right sum)."""
    best, best_d = 0, None
    for j, c in enumerate(centroids):
        d = 0.0
        if best_d is None:
            for a, b in zip(v, c):
                d += (a - b) * (a - b)
        else:
            for a, b in zip(v, c):
                d += (a - b) * (a - b)
                if d >= best_d:
                    d = None
                    break
            if d is None:
                continue
        if best_d is None or d < best_d:
            best, best_d = j, d
    return best


def _dist_structs(vec_col: str, centroids: list[list[float]]):
    """``array<struct<d double, j int>>`` of dist² to every centroid
    (left-to-right HOF fold — the same accumulation order as the Python
    fit/replay) tagged with its cell index.

    One ``transform`` over a single nested-array literal instead of
    n_clusters separate aggregate expressions each embedding its own
    64-literal array (r10): the expression tree shrinks ~n_clusters-fold,
    which at the 32-cell auto sizing was multiple SECONDS of per-query
    analysis/codegen constants — the distances themselves are computed
    by the identical zip_with+fold sequence, so every downstream
    comparison is bit-for-bit unchanged. r14: the nested literal itself
    is now ONE folded-constant node (``clustering.const_array`` — the
    k×d CreateArray tree cost ~2 s of py4j build + analyzer walks per
    query at 32×64; values bit-identical through the JSON round-trip)."""
    cents = const_array(
        [[float(x) for x in c] for c in centroids], "array<array<double>>"
    )
    return F.transform(
        cents,
        lambda c, j: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    c,
                    lambda a, b: (a.cast("double") - b)
                    * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            j.alias("j"),
        ),
    )


def _cell_expr(vec_col: str, centroids: list[list[float]]):
    """JVM-side argmin cell assignment: first minimum wins — the
    lexicographic struct min over (d, j) picks the smallest distance and
    the lowest index on exact-double ties, like the strict `<` in
    _nearest_cell (and like the previous array_position-of-min form).
    Corrupt vectors (NULL / NULL element / wrong dim) fold to NULL
    distances, which sort FIRST in struct ordering — so the NULL-d win
    is explicitly mapped back to a NULL cell (the contract every
    caller's hygiene path relies on: corrupt rows are never probed)."""
    m = F.array_min(_dist_structs(vec_col, centroids))
    return F.when(m["d"].isNotNull(), m["j"]).cast("int")


def _fit_ivf_from_df(
    df: DataFrame,
    n_clusters: int,
    seed: int,
    id_col: str,
    vec_col: str,
    dim: int,
) -> list[list[float]]:
    """Deterministic IVF fit from an ids-sorted driver sample — the one
    fit behind ``_ivf_route``, ``build_ivf_pq_index`` and
    ``hard_negatives_ivf``, so the in-plan and persisted routes derive
    IDENTICAL cells (the artifact round-trip parity contract). Full
    corrupt-vector filter: a NULL element would crash the float() pull,
    a wrong-dim row would silently skew the fit."""
    sample = [
        [float(x) for x in r[0]]
        for r in df.select(vec_col)
        .filter(valid_vector(vec_col, dim))
        .orderBy(F.col(id_col).asc())
        .limit(IVF_FIT_SAMPLE)
        .collect()
    ]
    return fit_ivf_centroids(sample, n_clusters, seed)


def _probe_cells(
    centroids: list[list[float]], query_vec: list, n_probe: int
) -> list[int]:
    q = [float(x) for x in query_vec]
    ranked = sorted(
        range(len(centroids)),
        key=lambda j: (
            sum((a - b) * (a - b) for a, b in zip(centroids[j], q)),
            j,
        ),
    )
    return [int(j) for j in ranked[: max(1, n_probe)]]


def _ivf_route(
    df: DataFrame,
    query: list,
    n_clusters: int,
    n_probe: int,
    seed: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """IVF candidate generation shared by ``ivf_topk`` and
    ``ivf_pq_topk``: fit the cells on the ids-sorted sample of valid
    ``len(query)``-dim rows, keep only rows whose cell is among the
    ``n_probe`` (at least 1) nearest the query. Corrupt vectors have no
    cell, so they are never candidates."""
    centroids = _fit_ivf_from_df(df, n_clusters, seed, id_col, vec_col, len(query))
    probe = _probe_cells(centroids, query, n_probe)
    return df.filter(_cell_expr(vec_col, centroids).isin(probe))


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: route the query to its ``n_probe``
    nearest cells (``_ivf_route``) and rank the survivors by exact
    cosine.

    At corpus scale the cell id is persisted as a partition column, so
    probing = partition pruning (scan shrinks n_clusters/n_probe-fold);
    here the assignment runs inline as one JVM-side projection. Centroids
    are tiny (n_clusters × dim) — the only driver-side state."""
    routed = _ivf_route(df, query_vec, n_clusters, n_probe, seed, id_col, vec_col)
    return cosine_topk(routed, query_vec, k, id_col, vec_col)


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """For each left row, its k nearest right rows by cosine (brute-force
    block-nested join + per-left-row window top-k).

    The left side is the query set and is broadcast: the kNN-join
    convention puts the (small) queries on the left, so the cartesian
    plans as a BroadcastNestedLoopJoin that streams the corpus once with
    no shuffle. There is no corpus×corpus kNN join: corpus-sized
    candidate generation runs through IVF cells in
    :func:`hard_negatives_ivf` (cross-label mining)."""
    from pyspark.sql import Window

    def unit(df, id_name, out_id, out_vec):
        # normalize BEFORE the join: norm is computed once per row (as a
        # plain column, so the transform stays O(d)), and the per-pair
        # work inside the O(|L|·|R|) loop is a single dot product
        return df.select(
            F.col(id_name).alias(out_id),
            F.col(vec_col).alias("__v"),
            norm(F.col(vec_col)).alias("__n"),
        ).select(
            out_id,
            F.transform("__v", lambda x: x.cast("double") / F.col("__n")).alias(
                out_vec
            ),
        )

    a = F.broadcast(unit(left, left_id, "lid", "lv"))
    b = unit(right, right_id, "rid", "rv")
    scored = a.crossJoin(b).select(
        "lid", "rid", dot(F.col("lv"), F.col("rv")).cast("double").alias("score")
    )
    w = Window.partitionBy("lid").orderBy(F.col("score").desc(), F.col("rid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("lid", "rid", "score", "rank")
    )


# ----------------------------------------------------------- quantization
# (int8 scalar quantization: the standard 4x memory/IO lever for ANN at
# scale — a 100 TB float32 corpus becomes ~25 TB of tinyint payload, and
# candidate scoring runs on integers, with exact re-ranking on the float
# survivors. No reference counterpart: Atlas quantizes inside the server.)


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", q_col: str = "qvec"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``q = round(x * 127/amax)``
    with the per-row scale kept alongside (``q_scale``), so dequantization
    is ``q / scale``. Pure HOFs — one projection, no shuffle, no UDF."""
    v = F.col(vec_col)
    amax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    scale = F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(1.0))
    return df.withColumn("q_scale", scale).withColumn(
        q_col,
        F.transform(v, _round_q(scale)),
    )


def _round_q(scale: Column):
    # arity-1 closure factory (2-param HOF lambdas bind (value, index))
    return lambda x: F.round(x.cast("double") * scale).cast("tinyint")


def dequantize_int8(
    df: DataFrame, q_col: str = "qvec", out_col: str = "embedding_deq"
) -> DataFrame:
    s = F.col("q_scale")
    return df.withColumn(
        out_col, F.transform(F.col(q_col), _deq(s))
    )


def _deq(scale: Column):
    return lambda q: q.cast("double") / scale


def cosine_topk_int8(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    q_col: str = "qvec",
    rerank: int = 0,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k over the quantized corpus. The query is quantized the same
    way; scoring divides the integer dot product by the stored scales, so
    ranking matches float cosine up to quantization error (recall test
    pins ≥0.9@10 on the corpus fixtures). ``rerank > 0`` takes that many
    int8 candidates and re-scores them on the float column — the standard
    exact-rerank ANN shape (needs ``vec_col`` present).

    Plan: same as cosine_topk — narrow scan + TakeOrdered; the win at
    scale is the 4x smaller column being scanned."""
    amax = max(abs(float(x)) for x in query_vec) or 1.0
    qs = 127.0 / amax
    q = F.array(*[F.lit(int(round(float(x) * qs))) for x in query_vec])
    qv = F.col(q_col)
    int_dot = F.aggregate(
        F.zip_with(qv, q, lambda a, b: a.cast("long") * b.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    qnorm2 = F.aggregate(
        qv, F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long") * x.cast("long")
    )
    qlit_norm = math.sqrt(sum(int(round(float(x) * qs)) ** 2 for x in query_vec)) or 1.0
    score = (
        int_dot.cast("double")
        / (F.sqrt(qnorm2.cast("double")) * F.lit(qlit_norm))
    )
    cands = (
        df.select(F.col(id_col), score.alias("score"), *(
            [F.col(vec_col)] if rerank else []
        ))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(max(k, rerank) if rerank else k)
    )
    if not rerank:
        return cands
    qf = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        cands.select(
            F.col(id_col), cosine(F.col(vec_col), qf).alias("score")
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


# --- product quantization (r8 eleventh wave) -------------------------------


class PQModel(NamedTuple):
    """Product-quantization codebooks: ``codebooks[j]`` is the k×dsub
    integer codeword table for subspace j (quantized space, shared
    ``scale`` fixed-point carrier)."""

    codebooks: list  # m × k × dsub ints
    scale: int

    @property
    def m(self) -> int:
        return len(self.codebooks)

    @property
    def k(self) -> int:
        return len(self.codebooks[0])

    @property
    def dsub(self) -> int:
        return len(self.codebooks[0][0])

    @property
    def dim(self) -> int:
        return self.m * self.dsub


def fit_pq(
    df: DataFrame,
    m: int = 8,
    codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10_000,
    dim: int | None = None,
) -> PQModel:
    """Fit product-quantization codebooks (Jégou et al. 2011): split the
    vector into ``m`` equal subspaces and run the DETERMINISTIC quantized
    k-means (``clustering.kmeans_fit``) independently in each — so the
    whole model, like everything on the 1e-4 fixed-point carrier, is
    bit-identical across engines, partitionings and re-runs (FAISS's
    float PQ is neither).

    PQ is the memory half of the 100 TB ANN recipe: a 64-dim float
    vector becomes ``m`` small code ids (here 8 bytes), queries scan
    codes against a per-query lookup table instead of raw vectors, and
    the standard composition is IVF (``fit_ivf_centroids``/``ivf_topk``
    cell-routing) over PQ-encoded cells. ``dim`` pins the input width;
    when None it is inferred from the MIN-ID row with a fully valid
    vector (deterministic, unlike a partition-order ``first()`` — but a
    corrupt min-id row still wins, so pin ``dim`` explicitly for
    corpora that may carry truncated vectors); it must divide into
    ``m`` equal subspaces.

    Cost: ``m`` bounded kmeans fits, each ``iters`` partial-agg shuffles
    of k×(dsub+1) longs over ONE shared projected frame — the corpus is
    scanned once per Lloyd action, never collected.
    """
    from mongo_arrow_spark.operators.clustering import kmeans_fit

    v = F.col(vec_col)
    if dim is None:
        first = (
            df.select(id_col, vec_col)
            .filter(valid_vector(v))
            .orderBy(F.col(id_col).asc())
            .first()
        )
        if first is None:
            raise ValueError(f"no valid {vec_col!r} rows to fit on")
        dim = len(first[1])
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible into m={m} subspaces")
    dsub = dim // m
    base = df.filter(valid_vector(v, dim)).select(
        F.col(id_col).alias("__id"),
        *[
            F.slice(v, j * dsub + 1, dsub).alias(f"__s{j}")
            for j in range(m)
        ],
    )
    # persist the shared sliced frame ONCE: each subspace fit otherwise
    # re-scans the raw corpus to materialize its own projection — m full
    # scans where one suffices (the fit-stage persist discipline)
    base = materialize(base)
    try:
        books = []
        for j in range(m):
            model = kmeans_fit(
                base,
                k=codes,
                iters=iters,
                id_col="__id",
                vec_col=f"__s{j}",
                scale=scale,
            )
            books.append(model.centroids)
        return PQModel(codebooks=books, scale=scale)
    finally:
        base.unpersist()


def pq_encode(
    df: DataFrame,
    model: PQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Tag each row with its ``m`` nearest-codeword ids — one map-only
    codegen projection (the m×k×dsub codebooks compile into the plan as
    literals, a few KB). Corrupt vectors (NULL / NULL element / wrong
    dim) get a NULL code array — the ``kmeans_assign`` contract."""
    from mongo_arrow_spark.operators.clustering import argmin_cluster, quantize_vec

    dsub, m = model.dsub, model.m
    q = quantize_vec(vec_col, model.scale)
    codes = F.array(
        *[
            argmin_cluster(
                F.slice(q, j * dsub + 1, dsub), model.codebooks[j]
            ).cast("int")
            for j in range(m)
        ]
    )
    return df.withColumn(out_col, F.when(valid_vector(vec_col, model.dim), codes))


def pq_topk(
    df: DataFrame,
    model: PQModel,
    query_vec: list,
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query builds one
    m×codes integer table of subspace distances ON THE DRIVER (tiny),
    and each row's distance is ``Σ_j table[j][code_j]`` — a map-only
    ``element_at`` sum against plan literals feeding a TakeOrdered.
    Nothing decodes, nothing joins; the scan reads only (id, m codes).
    Ties break to min id. Returns ``(id, pq_dist)`` — the integer ADC
    distance in quantized-space units. Corrupt code rows are skipped
    entirely: NULL arrays, wrong length, NULL elements, or out-of-range
    code ids (``pq_encode`` can emit only the first kind, but
    ``ivf_pq_topk`` accepts caller-precomputed codes, and a corrupt row
    would otherwise score a NULL distance that ``orderBy(asc)`` sorts
    FIRST, displacing real neighbors — r8 advice). The order is
    additionally ``asc_nulls_last`` as belt and braces."""
    if len(query_vec) != model.dim:
        raise ValueError(
            f"query dim {len(query_vec)} != model dim {model.dim}"
        )
    qq = [
        int(math.floor(float(x) * model.scale + 0.5)) for x in query_vec
    ]
    dsub = model.dsub
    table = [
        [
            sum(
                (qq[j * dsub + t] - c[t]) * (qq[j * dsub + t] - c[t])
                for t in range(dsub)
            )
            for c in model.codebooks[j]
        ]
        for j in range(model.m)
    ]
    lits = [
        F.array(*[F.lit(int(d)).cast("long") for d in row]) for row in table
    ]
    dist = None
    for j, lit in enumerate(lits):
        term = F.element_at(lit, F.col(codes_col)[j] + 1)
        dist = term if dist is None else dist + term
    n_codes = model.k
    codes = F.col(codes_col)
    valid = (
        codes.isNotNull()
        & (F.size(codes) == model.m)
        & F.forall(codes, lambda c: c.isNotNull() & (c >= 0) & (c < n_codes))
    )
    return (
        df.filter(valid)
        .select(F.col(id_col), dist.alias("pq_dist"))
        .orderBy(F.col("pq_dist").asc_nulls_last(), F.col(id_col).asc())
        .limit(k)
    )


def save_pq(spark, model: PQModel, path: str) -> None:
    """Persist the codebooks as parquet with params in schema metadata —
    the LSH-index / kmeans artifact discipline."""
    rows = [
        (j, i, list(map(int, c)))
        for j, book in enumerate(model.codebooks)
        for i, c in enumerate(book)
    ]
    schema = T.StructType(
        [
            T.StructField("subspace", T.IntegerType()),
            T.StructField("code", T.IntegerType()),
            T.StructField(
                "centroid",
                T.ArrayType(T.LongType()),
                metadata={"pq_scale": model.scale},
            ),
        ]
    )
    local_frame(spark, rows, schema).write.mode("overwrite").parquet(path)


def load_pq(spark, path: str) -> PQModel:
    df = spark.read.parquet(path)
    if set(df.columns) != {"subspace", "code", "centroid"}:
        raise ValueError(f"{path} is not a PQ artifact")
    meta = df.schema["centroid"].metadata
    if "pq_scale" not in meta:
        raise ValueError(f"{path} lacks pq_scale metadata")
    rows = df.collect()
    if not rows:
        raise ValueError(f"{path} is not a PQ artifact (empty)")
    m = max(r["subspace"] for r in rows) + 1
    books = []
    for j in range(m):
        sub = sorted(
            (r for r in rows if r["subspace"] == j),
            key=lambda r: r["code"],
        )
        if not sub or [r["code"] for r in sub] != list(range(len(sub))):
            raise ValueError(
                f"{path} is not a PQ artifact (subspace {j} incomplete)"
            )
        books.append([list(r["centroid"]) for r in sub])
    if len({len(b) for b in books}) != 1:
        raise ValueError(f"{path} is not a PQ artifact (uneven codebooks)")
    return PQModel(codebooks=books, scale=int(meta["pq_scale"]))


def ivf_pq_topk(
    df: DataFrame,
    pq_model: PQModel,
    query_vec: list,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """The composed 100 TB ANN shape — IVF routes, PQ scores: assign
    rows to deterministic IVF cells, keep only the ``n_probe`` cells
    nearest the query (at corpus scale: cell = partition column →
    probing is partition PRUNING), then rank the survivors by the PQ
    asymmetric distance over their codes (``pq_topk``'s map-only
    element_at scan). ``n_probe >= n_clusters`` degrades exactly to
    ``pq_topk`` over the whole corpus (pinned by test).

    Input needs the raw vectors (for cell assignment — persist the cell
    id instead at scale) and either precomputed ``codes_col`` or the
    vectors to encode on the fly."""
    if codes_col not in df.columns:
        df = pq_encode(df, pq_model, id_col=id_col, vec_col=vec_col,
                       out_col=codes_col)
    routed = _ivf_route(df, query_vec, n_clusters, n_probe, seed, id_col, vec_col)
    return pq_topk(
        routed, pq_model, query_vec, k=k, id_col=id_col, codes_col=codes_col
    )


def build_ivf_pq_index(
    df: DataFrame,
    path: str,
    pq_model: PQModel,
    n_clusters: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
) -> None:
    """Persist the IVF×PQ index with the cell id as a HIVE PARTITION
    column (r8 verdict item #3) — the persisted form of Atlas
    ``$vectorSearch``'s index (reference: the whole point of
    ``numCandidates`` routing): cell assignment and PQ encoding run
    ONCE at build time, and every later query reads only its
    ``n_probe`` cell DIRECTORIES — probing is partition pruning against
    the listing, not a filter over a full scan (``ivf_pq_index_topk``;
    the ``pack_shards`` layout precedent).

    Layout: ``path/__cell=J/…`` parquet carrying ONLY ``(id, codes)``
    — 8 small ints per row at the default m=8, never the raw vectors —
    plus ``path/_pq/`` (the ``save_pq`` artifact, hidden from Spark's
    listing by the ``_`` prefix) and ``path/_ivf_pq_index.json``
    recording centroids/params. Centroids are ``n_clusters × dim``
    floats — driver/manifest-sized. Rows with corrupt vectors (NULL /
    NULL element / wrong dim) get NULL cell AND NULL codes; they land
    in the hive default partition, are never probed, and ``pq_topk``
    would skip them anyway."""
    import json
    import os

    centroids = _fit_ivf_from_df(
        df, n_clusters, seed, id_col, vec_col, pq_model.dim
    )
    encoded = pq_encode(
        df, pq_model, id_col=id_col, vec_col=vec_col, out_col=codes_col
    )
    (
        encoded.withColumn("__cell", _cell_expr(vec_col, centroids))
        .select(id_col, codes_col, "__cell")
        .write.mode("overwrite")
        .partitionBy("__cell")
        .parquet(path)
    )
    save_pq(df.sparkSession, pq_model, os.path.join(path, "_pq"))
    with open(os.path.join(path, "_ivf_pq_index.json"), "w") as fh:
        json.dump(
            {
                "n_clusters": n_clusters,
                "seed": seed,
                "id_col": id_col,
                "codes_col": codes_col,
                "centroids": centroids,
            },
            fh,
        )


def ivf_pq_index_topk(
    spark,
    path: str,
    query_vec: list,
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """Top-k over a ``build_ivf_pq_index`` directory: rank the manifest
    centroids against the query ON THE DRIVER, read ONLY the winning
    ``n_probe`` cell directories (``__cell`` is a partition column, so
    the ``isin`` prunes against the listing — PartitionFilters in the
    scan node, non-probed directories never opened), and run
    ``pq_topk``'s join-free ADC scan over their ``(id, codes)`` rows.
    Bit-identical to the in-plan ``ivf_pq_topk`` built with the same
    model/params (pinned by the round-trip test)."""
    import json
    import os

    with open(os.path.join(path, "_ivf_pq_index.json")) as fh:
        meta = json.load(fh)
    model = load_pq(spark, os.path.join(path, "_pq"))
    probe = _probe_cells(meta["centroids"], query_vec, n_probe)
    routed = spark.read.parquet(path).filter(F.col("__cell").isin(probe))
    return pq_topk(
        routed,
        model,
        query_vec,
        k=k,
        id_col=meta["id_col"],
        codes_col=meta["codes_col"],
    )


def _hn_side(
    df, id_col, vec_col, label_col, dim, scale, out_id, out_q, out_lbl,
    keep_vec=False,
):
    """Shared hygiene + quantize projection of the two hard-negative
    miners (one contract, one implementation): NULL id / NULL label /
    NULL or corrupt vector / wrong dim rows are excluded."""
    from mongo_arrow_spark.operators.clustering import quantize_vec

    extra = [F.col(vec_col).alias("__v")] if keep_vec else []
    return df.filter(
        F.col(id_col).isNotNull()
        & F.col(label_col).isNotNull()
        & valid_vector(vec_col, dim)
    ).select(
        F.col(id_col).alias(out_id),
        *extra,
        quantize_vec(vec_col, scale).alias(out_q),
        F.col(label_col).alias(out_lbl),
    )


def _hn_topk(pairs, k, max_qdot):
    """Shared scoring tail: integer qdot, semi-hard cut, per-anchor
    row_number <= k (WindowGroupLimit pre-cut shape)."""
    from pyspark.sql import Window

    scored = pairs.select(
        "anchor_id",
        "anchor_label",
        "neg_id",
        F.aggregate(
            F.zip_with("__aq", "__bq", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("qdot"),
    )
    if max_qdot is not None:
        scored = scored.filter(F.col("qdot") <= int(max_qdot))
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("qdot").desc(), F.col("neg_id").asc()
    )
    return (
        scored.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select("anchor_id", "anchor_label", "neg_id", "qdot", "neg_rank")
    )


def hard_negatives(
    anchors: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
    scale: int = 10_000,
    max_qdot: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for each
    anchor, the ``k`` MOST similar corpus rows with a DIFFERENT label —
    the negatives that actually move the loss (random negatives are
    trivially separated after the first epochs; the hardest same-ish
    ones teach the boundary).

    ``max_qdot`` (quantized-dot-product units, ``scale²``-scaled) drops
    negatives ABOVE the threshold first — the standard guard against
    false negatives: a cross-label pair that similar is more likely a
    labeling error or an undetected near-duplicate than a informative
    negative (semi-hard mining, FaceNet-style).

    Similarity is the INTEGER dot product of 1e-4-quantized vectors
    (``clustering.quantize_vec`` — the repo's engine-portable carrier),
    so results are bit-identical across engines/partitionings and the
    battery oracle grades them exactly. Rows with NULL labels, NULL /
    corrupt vectors, or wrong ``dim`` are excluded on BOTH sides
    (a NULL-label row's class is unknown — it can't be certified a
    negative); an anchor never mines itself (same id excluded).

    Plan shape: anchors broadcast (the query set is the bounded side —
    a labeled seed or an eval batch, like ``knn_join``'s contract), the
    corpus streams ONCE through a BroadcastNestedLoopJoin, and the
    per-anchor top-k is a ``row_number() <= k`` cut that Catalyst
    rewrites into a map-side-partial ``WindowGroupLimit`` — each input
    partition pre-cuts to k rows per anchor before the one shuffle on
    the anchor id, so no anchor group ever streams corpus-sized data
    through one task. For corpus×corpus mining use the IVF-routed
    :func:`hard_negatives_ivf`.
    """
    a = _hn_side(
        anchors, id_col, vec_col, label_col, dim, scale,
        "anchor_id", "__aq", "anchor_label",
    )
    b = _hn_side(
        corpus, id_col, vec_col, label_col, dim, scale,
        "neg_id", "__bq", "__blbl",
    )
    pairs = (
        F.broadcast(a)
        .crossJoin(b)
        .filter(
            (F.col("anchor_label") != F.col("__blbl"))
            & (F.col("anchor_id") != F.col("neg_id"))
        )
    )
    return _hn_topk(pairs, k, max_qdot)


def hard_negatives_ivf(
    anchors: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_clusters: int | str = 8,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
    scale: int = 10_000,
    seed: int = 42,
    max_qdot: int | None = None,
    probe_per_label: bool = False,
    target_cell_rows: int = 256,
) -> DataFrame:
    """Corpus×corpus hard-negative mining — the scale path when the
    anchor set is itself corpus-sized (every doc mines its own
    negatives, the contrastive-pretraining shape) and
    :func:`hard_negatives`' broadcast contract no longer holds.

    Candidate generation is IVF routing with a PRODUCTIVE-cell twist.
    Each corpus row lands in its nearest of ``n_clusters`` deterministic
    IVF cells (map-only literal-centroid argmin, the ``ivf_topk`` cell
    contract) and candidates meet on a plain cell equi-join — never a
    cartesian. But an anchor must NOT simply probe its absolutely
    nearest cells: with tight label clusters those are its OWN label's
    cells, whose every row the cross-label filter then discards
    (measured recall 0.26 on a clustered corpus). So a bounded
    (cell × label) presence table is collected once (≤ n_clusters ×
    n_labels rows) and each anchor probes its ``n_probe`` nearest cells
    AMONG those containing at least one other-label row — the nearest
    foreign clusters. Measured recall@3 vs the brute form (sf0.001-
    sized corpora): 0.92 on a 4-label clustered corpus at the 8/4
    default (pinned ≥ 0.85 in tests), 0.55–0.89 when inter-cluster
    distance dwarfs cluster radius (centroid ranking can no longer
    tell WHICH foreign cells hold the boundary points — raise
    ``n_probe``), ~0.68 at 25 % probed on uniform-random vectors
    (no sublinear candidate generator beats uniformity).
    ``n_probe == n_clusters`` reproduces the brute result exactly
    (pinned) — the dial runs all the way to exact.

    Sign-bucket Hamming rings were measured strictly worse here
    (recall ≤ 0.83 even probing 64 % of the bucket space): hard
    negatives are typically FAR in absolute terms and hyperplane-sign
    agreement decays with angle, while IVF cells partition by locality.

    ``n_clusters="auto"`` (r10) sizes the cell count to the corpus —
    ``clamp(count / target_cell_rows, 8, 1024)`` — which is the 100 TB
    contract measured in SCALE.md: with cell size held CONSTANT, each
    anchor's candidate set is ``n_probe × target_cell_rows`` (bounded)
    and total work stays linear in the corpus, where a FIXED cell count
    lets cells grow with the corpus and the pairwise term reappear
    (measured 51.5 s vs 340.8 s at ×10, same n_probe). Costs one count
    aggregate to size k. The 1024 cap keeps the compiled literal
    centroid table inside codegen budget (k × dim literals — the
    ``clustering.argmin_cluster`` 64k guard rationale); past it, use
    the persisted ``build_ivf_pq_index`` route, whose cells are a
    partition column instead of compiled literals.

    ``probe_per_label=True`` (r10) probes the ``n_probe`` nearest
    eligible cells of EACH foreign label instead of ``n_probe`` cells
    overall — the fix for the documented tight-cluster failure, where
    one far label's cells are all (nearly) equidistant and global
    centroid ranking spends the whole probe budget on the nearest
    foreign label, never reaching the others (a ball-tree lower bound
    does not help: the radii tie too). Probe rows stay bounded
    (≤ n_labels × n_probe cells per anchor, deduplicated before the
    corpus join), and ``n_probe == n_clusters`` remains exactly brute.
    Costs proportionally more candidates when labels are many; the
    default stays the global ranking.

    Cross-label / self / hygiene filters apply to the CANDIDATES
    (before the top-k cut, so the k survivors are the best cross-label
    candidates, not a post-filter of mixed-label winners); scores are
    the same integer quantized dot products as the brute form. Same
    output schema as :func:`hard_negatives`. The per-anchor probe cut
    is a window over ≤ ``n_clusters`` exploded rows per anchor
    (bounded, WindowGroupLimit pre-cut), and the eligibility join is a
    broadcast of the tiny presence table."""
    from pyspark.sql import Window

    if n_clusters == "auto":
        n_rows = corpus.count()
        n_clusters = min(1024, max(8, -(-n_rows // int(target_cell_rows))))
    centroids = _fit_ivf_from_df(corpus, n_clusters, seed, id_col, vec_col, dim)
    n_probe = min(max(1, n_probe), len(centroids))

    # Self-mining (anchors IS the corpus frame — the contrastive-
    # pretraining shape and the benched/graded configuration) computes
    # the per-row centroid distances ONCE (r14): the corpus cell is by
    # definition the first element of the same sorted (dist, cell)
    # array the anchor side probes in order (``_cell_expr`` is
    # ``array_min`` over the structs, which equals ``array_sort(...)[0]``
    # under the identical struct ordering — no NULL struct elements can
    # occur, the fields are built by ``F.struct`` over non-null-safe
    # exprs), so one materialized pass carries ``__sorted`` and both
    # sides project from it instead of re-running the n_clusters × dim
    # distance fold over the same rows twice. Under AQE each
    # ``localCheckpoint(eager=False)`` below still runs the spread's
    # shuffle map stage at call time (1 job, by the status tracker); the
    # first action over the frame fills the checkpoint.
    self_mine = anchors is corpus
    if self_mine:
        base = (
            spread(
                _hn_side(
                    corpus, id_col, vec_col, label_col, dim, scale,
                    "neg_id", "__bq", "__blbl", keep_vec=True,
                )
            )
            .withColumn(
                "__sorted", F.array_sort(_dist_structs("__v", centroids))
            )
            .drop("__v")
            .localCheckpoint(eager=False)
        )
        _first = F.element_at(F.col("__sorted"), 1)
        corpus_side = base.withColumn(
            "__cell",
            F.when(_first["d"].isNotNull(), _first["j"]).cast("int"),
        ).drop("__sorted")
    else:
        corpus_side = (
            spread(
                _hn_side(
                    corpus, id_col, vec_col, label_col, dim, scale,
                    "neg_id", "__bq", "__blbl", keep_vec=True,
                )
            )
            .withColumn("__cell", _cell_expr("__v", centroids))
            .drop("__v")
            .localCheckpoint(eager=False)
        )
    # bounded presence table: which (label, cell) combinations exist
    present = {
        (r["__blbl"], r["__cell"])
        for r in corpus_side.select("__blbl", "__cell").distinct().collect()
    }
    corpus_labels = sorted({l for l, _ in present})
    all_cells = sorted({c for _, c in present})
    # anchor labels come from the ANCHORS (bounded by label cardinality,
    # like the presence table): a label absent from the corpus must see
    # EVERY non-empty cell — all its rows are cross-label — where the
    # old corpus-only table silently dropped those anchors whole (r9
    # review fix). Self-mining (anchors IS the corpus frame — the
    # contrastive-pretraining shape and the benched configuration) reuses
    # the presence table's label set instead of paying a second
    # scan+distinct job for the identical answer (r14).
    if self_mine:
        anchor_labels = corpus_labels
    else:
        anchor_labels = sorted(
            r[0]
            for r in anchors.filter(F.col(label_col).isNotNull())
            .select(label_col)
            .distinct()
            .collect()
        )
    spark = corpus.sparkSession
    lbl_type = corpus.schema[label_col].dataType.simpleString()
    if probe_per_label:
        # one eligibility row per (anchor label, cell, FOREIGN label in
        # that cell): the probe window below ranks cells per foreign
        # label, so every other label gets its own n_probe budget
        eligible = [
            (lbl, int(c), l2)
            for lbl in anchor_labels
            for (l2, c) in present
            if l2 != lbl
        ]
        elig = local_frame(
            spark,
            eligible,
            f"anchor_label {lbl_type}, __cell int, __flbl {lbl_type}",
        )
    else:
        eligible = [
            (lbl, int(c))
            for lbl in anchor_labels
            for c in all_cells
            if any(l2 != lbl and (l2, c) in present for l2 in corpus_labels)
        ]
        elig = local_frame(spark, eligible, f"anchor_label {lbl_type}, __cell int")
    wprobe = Window.partitionBy(
        "anchor_id", *(["__flbl"] if probe_per_label else [])
    ).orderBy(F.col("__pos").asc())
    if self_mine:
        exploded = base.select(
            F.col("neg_id").alias("anchor_id"),
            F.col("__bq").alias("__aq"),
            F.col("__blbl").alias("anchor_label"),
            F.posexplode(
                F.transform(F.col("__sorted"), lambda st: st["j"])
            ).alias("__pos", "__cell"),
        )
    else:
        dstructs = _dist_structs("__v", centroids)
        exploded = spread(
            _hn_side(
                anchors, id_col, vec_col, label_col, dim, scale,
                "anchor_id", "__aq", "anchor_label", keep_vec=True,
            )
        ).select(
            "anchor_id",
            "__aq",
            "anchor_label",
            F.posexplode(
                F.transform(F.array_sort(dstructs), lambda st: st["j"])
            ).alias("__pos", "__cell"),
        )
    anchor_side = (
        exploded.join(F.broadcast(elig), ["anchor_label", "__cell"])
        .withColumn("__prk", F.row_number().over(wprobe))
        .filter(F.col("__prk") <= n_probe)
        .drop("__pos", "__prk")
    )
    if probe_per_label:
        # a cell can win for several foreign labels — dedupe before the
        # corpus join or candidates (and top-k ties) would double-count
        anchor_side = anchor_side.drop("__flbl").dropDuplicates(
            ["anchor_id", "__cell"]
        )
    # Pin the candidate join's partitioning explicitly (r14): the join
    # inputs are slim quantized rows (~0.6 KB), so byte-based AQE
    # coalescing collapses the post-shuffle stage to ~1 partition — but
    # every joined row then fans out into a ~cell_size × dim integer
    # dot-product, so the stage's COMPUTE is ~n_probe × cell_size ×
    # heavier than its shuffle bytes suggest, and the scoring ran
    # single-task (measured 2.8 s of the benched key at sf0.1). An
    # explicit repartition by the join key at defaultParallelism is not
    # AQE-coalesced, and both sides sharing it means the join adds NO
    # extra exchange (the hash partitioning satisfies the join's
    # distribution requirement). Scale-adaptive by construction:
    # defaultParallelism is the cluster's core count, and join
    # parallelism is anyway bounded by the ≤1024 distinct cells (the
    # documented past-1024 route is build_ivf_pq_index).
    par = spark.sparkContext.defaultParallelism
    pairs = (
        anchor_side.repartition(par, "__cell")
        .join(corpus_side.repartition(par, "__cell"), "__cell")
        .filter(
            (F.col("anchor_label") != F.col("__blbl"))
            & (F.col("anchor_id") != F.col("neg_id"))
        )
    )
    return _hn_topk(pairs, k, max_qdot)
