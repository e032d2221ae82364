"""Graph centrality over id-pair edge tables: integer-exact PageRank.

``dedup.connected_components`` answers "which rows belong together";
nothing yet answers "which row (or domain) matters most". Centrality is
a standard curation signal: pick the canonical document of a near-dup
cluster by its position in the similarity graph, weight a source/domain
mix by link authority, prioritize a crawl frontier. MLlib has no
PageRank, and GraphX's is float — summation-order dependent, so its
ranks can't be hash-graded or replayed across engines.

This implementation is EXACT: all mass is fixed-point integer
(``scale``, default 1e12), the damping factor an exact rational
``d_num/d_den``, every division a truncating integer division (the
shared Spark ``div`` / DuckDB ``//`` semantics) — so ``pagerank`` is
bit-identical across engines, partitionings, and re-runs, and a DuckDB
oracle can unroll the identical power iterations as chained
materialized CTEs (``queries_ops.py:graph_pagerank``).

Recurrence (per node v, iteration t; w ≡ 1 when unweighted):
    share_t(u→v) = (p_t(u) · w_uv) div W_u          (W_u = out-weight)
    p_{t+1}(v)   = ((d_den − d_num) · p0) // d_den  (teleport)
                 + (d_num · Σ_{u→v} share_t(u→v)) // d_den
with ``p0 = scale // n`` the uniform start (personalized variant:
start/teleport concentrated on ``reset_nodes``). Dangling nodes (no
out-edges) simply leak their mass — the standard simplification;
ranks still order nodes identically for curation purposes and the
contract is what the oracle replays.

Scale design (100 TB posture):
- One-time prep: dedup edges, out-degree (one partial-agg shuffle),
  attach degree to edges (one shuffle join), node list — all
  localCheckpoint()ed once.
- Each iteration is a bounded, fixed plan: the rank frame joins the
  degree-annotated edge table by src (both sides exchange —
  localCheckpoint does NOT preserve hash partitioning, verified against
  the executed plan; at cluster scale write the prepared edges ONCE
  with ``layout.write_bucketed(keys=["src"])`` and every iteration's
  edge side joins with zero exchange), then one partial-aggregating
  sum by dst — hot destinations (high in-degree hubs) are absorbed
  map-side, and high out-degree hubs fan out in parallel. The result
  joins back to the node list (left, missing → no inbound mass) and is
  localCheckpoint()ed per round — the ``connected_components`` loop
  discipline (at cluster scale, checkpoint to reliable storage).
- The driver coordinates iteration count only; no per-node state ever
  reaches it.

The reference (mongodb-labs/mongo-arrow) has no graph surface — this
extends the training-data tier (SURVEY.md §2 extension block) next to
``dedup.connected_components``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongo_arrow_spark.execution import local_frame


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    reset_nodes: list | None = None,
    d_num: int = 85,
    d_den: int = 100,
    scale: int = 10**12,
) -> DataFrame:
    """Integer-exact PageRank over a directed edge table.

    Returns ``(node, rank)`` with ``rank`` the fixed-point integer mass
    after ``iters`` power iterations (divide by ``scale`` for the
    conventional [0, 1] reading; keep the integer for hashing/replay).
    Node set = distinct endpoints; NULL endpoints are dropped (a NULL
    node id is meaningless and would poison the degree join);
    self-loops are legal PageRank edges and kept; duplicate (src, dst)
    rows are collapsed to one edge of weight 1 — pass integer
    multiplicities through ``weight_col`` instead when they matter.

    ``weight_col`` (integer > 0; NULL/non-positive edges are dropped):
    each source distributes ``share(u→v) = (p(u)·w_uv) div W_u`` with
    ``W_u`` the total out-weight — the unweighted path is exactly the
    all-weights-1 case, so adding the dial changes no unweighted result.
    Keep weights small (≲1e6 at the default scale): the product
    ``p·w`` must stay inside int64.

    ``reset_nodes`` (bounded driver-held list): PERSONALIZED PageRank —
    both the start mass and the per-iteration teleport go uniformly to
    these nodes only, so ranks measure proximity to the seed set
    ("documents close to this trusted set" / topic-conditioned
    authority). Seeds that aren't graph endpoints still receive
    teleport mass (they join the node set).
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    if not (0 <= d_num <= d_den) or d_den < 1:
        raise ValueError("need 0 <= d_num <= d_den, d_den >= 1")
    spark = edges.sparkSession
    if weight_col is None:
        e = (
            edges.select(
                F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
            )
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .distinct()
            .withColumn("w", F.lit(1).cast("long"))
        )
    else:
        e = (
            edges.select(
                F.col(src_col).alias("src"),
                F.col(dst_col).alias("dst"),
                F.col(weight_col).cast("long").alias("w"),
            )
            .filter(
                F.col("src").isNotNull()
                & F.col("dst").isNotNull()
                & (F.col("w") > 0)
            )
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
    # one-time prep, materialized once: out-weight-annotated edges + nodes.
    # wout via a window over the one hash exchange on src (r14) instead of
    # a groupBy+join pair — same integer sum, one shuffle of e instead of
    # relying on exchange reuse across the agg and join branches.
    from pyspark.sql import Window

    ed = e.withColumn(
        "wout", F.sum("w").over(Window.partitionBy("src"))
    ).localCheckpoint(eager=True)
    # nodes derive from the checkpointed ed (every e row survives the
    # wout annotation), not from a second evaluation of e's lineage
    nodes = (
        ed.select(F.col("src").alias("node"))
        .union(ed.select(F.col("dst").alias("node")))
        .distinct()
    )
    if reset_nodes is not None:
        if not reset_nodes:
            raise ValueError("reset_nodes must be non-empty when given")
        seeds = local_frame(spark, [(v,) for v in reset_nodes], nodes.schema)
        nodes = nodes.union(seeds).distinct()
    nodes = nodes.localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(None).cast("long"))
    n_reset = len(set(reset_nodes)) if reset_nodes is not None else n
    p0 = scale // n_reset
    base = ((d_den - d_num) * p0) // d_den
    if reset_nodes is None:
        start = F.lit(p0).cast("long")
        base_col = F.lit(base).cast("long")
    else:
        in_seed = F.col("node").isin(list(set(reset_nodes)))
        start = F.when(in_seed, F.lit(p0)).otherwise(F.lit(0)).cast("long")
        base_col = (
            F.when(in_seed, F.lit(base)).otherwise(F.lit(0)).cast("long")
        )
    p = nodes.withColumn("rank", start)
    for it in range(iters):
        inbound = (
            ed.join(p, ed["src"] == p["node"])
            # `div` is Spark's INTEGER division (truncating) — never `/`,
            # whose double result can land below the exact quotient and
            # truncate differently than DuckDB's exact `//` at 1e12 scale
            .select(
                F.col("dst"), F.expr("(rank * w) div wout").alias("share")
            )
            .groupBy("dst")
            .agg(F.sum("share").alias("mass"))
        )
        p = (
            nodes.join(inbound, nodes["node"] == inbound["dst"], "left")
            .select(
                "node",
                (
                    base_col
                    + F.expr(
                        f"(CAST({d_num} AS BIGINT)"
                        f" * coalesce(mass, CAST(0 AS BIGINT))) div {d_den}"
                    )
                ).alias("rank"),
            )
        )
        # bounded checkpoint cadence (r14): a per-round eager checkpoint
        # made every iteration its own job barrier — at the default 3
        # iterations the whole recurrence now unrolls into ONE lazy plan
        # (linear in iters; ed/nodes are checkpointed scans the reused
        # exchanges serve), and only long runs cut lineage mid-loop.
        # The final eager checkpoint preserves the old external contract
        # (callers always received a materialized frame).
        if (it + 1) % 8 == 0 and (it + 1) < iters:
            p = p.localCheckpoint(eager=True)
    return p.localCheckpoint(eager=True)


def hits(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    scale: int = 10**6,
) -> DataFrame:
    """Integer-exact HITS (Kleinberg 1999): hub and authority scores
    over a directed edge table — the natural centrality for BIPARTITE
    curation graphs (domains→documents, parts→suppliers, queries→docs):
    a good hub points at good authorities and vice versa, mutually
    reinforcing, where PageRank only measures inbound mass.

    Each iteration: ``a'(v) = Σ_{u→v} h(u)`` then ``h'(u) = Σ_{u→v}
    a'(v)``, each half renormalized to ``max = scale`` by a truncating
    integer division (the classic ∞-norm variant; max is one bounded
    1-row agg per half, the only driver coordination). All integer, so
    results are bit-identical across engines/partitionings and a DuckDB
    oracle unrolls the same halves (``graph_hits``). Same edge
    contracts as ``pagerank``: NULL endpoints drop, duplicates
    collapse; nodes with no outgoing edges have hub 0, no incoming →
    authority 0. Returns ``(node, hub, authority)``.

    Scale shape: two partial-aggregating shuffles per iteration over
    the edge table plus a 1-row max agg per half; scores
    localCheckpoint per round (the pagerank loop discipline; bucket the
    edges for a zero-exchange join side at cluster scale).

    int64 bound (mirror of ``pagerank``'s weight bound): the renorm
    computes ``s · scale`` before the div, and ``s`` can reach
    ``max_in_degree × scale`` — so ``max_degree × scale² `` must stay
    under 2⁶³ (at the default ``scale=10**6``: degree ≲ 9.2×10⁶).
    The bound is CHECKED at runtime from the max raw sum the renorm
    already collects — a graph past it raises instead of silently
    wrapping; lower ``scale`` to trade precision for degree headroom.
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    h = nodes.withColumn("hub", F.lit(scale).cast("long"))
    a = nodes.withColumn("auth", F.lit(0).cast("long"))
    for _ in range(iters):
        raw_a = (
            e.join(h, e["src"] == h["node"])
            .groupBy("dst")
            .agg(F.sum("hub").alias("s"))
        )
        a = _renorm(nodes, raw_a, "dst", "auth", scale)
        raw_h = (
            e.join(a, e["dst"] == a["node"])
            .groupBy("src")
            .agg(F.sum("auth").alias("s"))
        )
        h = _renorm(nodes, raw_h, "src", "hub", scale)
    return (
        h.join(a.select(F.col("node").alias("__n"), "auth"),
               h["node"] == F.col("__n"))
        .select("node", "hub", F.col("auth").alias("authority"))
    )


def _renorm(nodes: DataFrame, raw: DataFrame, key: str, out: str, scale: int):
    """∞-norm renormalization: score·scale div max — one bounded 1-row
    agg, then a map-only projection; zero-sum frames stay all-zero.
    Checked multiplication: every summand is ``s ≤ mx``, so
    ``mx · scale`` fitting in int64 proves no projection overflows."""
    mx = raw.agg(F.max("s")).first()[0]
    if mx is not None and int(mx) > (2**63 - 1) // scale:
        raise ValueError(
            f"renorm overflow: max raw score {mx} x scale {scale} exceeds "
            "int64 — the graph's max degree is past scale's headroom "
            "(see the hits() int64 bound note); lower scale"
        )
    joined = nodes.join(raw, nodes["node"] == raw[key], "left")
    if not mx:
        return nodes.withColumn(out, F.lit(0).cast("long")).localCheckpoint(
            eager=True
        )
    return (
        joined.select(
            "node",
            F.expr(
                f"(coalesce(s, CAST(0 AS BIGINT))"
                f" * CAST({scale} AS BIGINT)) div CAST({mx} AS BIGINT)"
            ).alias(out),
        )
        .localCheckpoint(eager=True)
    )
