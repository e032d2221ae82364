"""Plan-hygiene inspection: the 100 TB questions, answerable in code.

Every operator in this engine was written against a shuffle budget
("does this partition correctly? is there a shuffle that becomes the
bottleneck at 1000×? is this join broadcast-able, and did AQE pick
it?") — and the test suite pins those properties with string greps over
``executedPlan``. This module productizes that discipline so PIPELINE
authors can assert it too: a structured census of a DataFrame's
physical plan plus a one-call scale-safety gate suitable for CI.

Pure plan-string analysis — nothing executes; calling these is free.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import DataFrame


class PlanReport(NamedTuple):
    """Census of one physical plan (counts of plan-shape landmarks)."""

    exchanges: int  # shuffle boundaries (Exchange hashpartitioning/range)
    broadcast_exchanges: int  # BroadcastExchange builds
    cartesian_products: int  # unbounded cross joins
    nested_loop_joins: int  # BroadcastNestedLoopJoin (bounded by build side)
    sort_merge_joins: int
    global_sorts: int  # Sort [ ... ] with a preceding rangepartitioning
    take_ordered: int  # TakeOrderedAndProject (top-k, never a full sort)
    codegen_spans: int  # codegen regions ('*(n)'; 0 until AQE finalizes)
    python_evals: int  # Batch/ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas
    file_scans: int  # source scans (FileScan and DSv2 BatchScan nodes)
    pushed_filter_scans: int  # FileScans carrying PushedFilters: [non-empty]

    @property
    def python_free(self) -> bool:
        return self.python_evals == 0


_PY_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "MapInArrow",
)


def plan_string(df: DataFrame) -> str:
    """The executed physical plan. After an action has run, AQE prints
    BOTH '== Final Plan ==' and '== Initial Plan ==' sections — only the
    final one is kept, or every landmark would double-count (r8 review
    fix, verified live)."""
    p = df._jdf.queryExecution().executedPlan().toString()
    if "== Initial Plan ==" in p:
        p = p.split("== Initial Plan ==", 1)[0]
    return p


def plan_report(df: DataFrame) -> PlanReport:
    """Census the plan. Counts are landmark substrings of the physical
    plan — the same signals the repo's own plan gates pin; they identify
    plan SHAPE (what kind of work happens), not cost."""
    p = plan_string(df)
    # DSv1 file sources print "FileScan parquet ..."; DSv2 sources,
    # the engine's Python ``documents``/``warc`` readers included,
    # print "BatchScan <name>[...]"
    scans = re.findall(r"FileScan \w+ [^\n]*", p) + re.findall(
        r"BatchScan \w+[^\n]*", p
    )
    pushed = [
        s
        for s in re.findall(r"PushedFilters: \[([^\]]*)\]", p)
        if s.strip()
    ]
    return PlanReport(
        # every shuffle Exchange variant (hashpartitioning,
        # rangepartitioning, SinglePartition, RoundRobinPartitioning —
        # r8 review fix, the old lowercase set missed the last two);
        # the lookbehind excludes BroadcastExchange, counted separately
        exchanges=len(re.findall(r"(?<![A-Za-z])Exchange ", p)),
        broadcast_exchanges=p.count("BroadcastExchange"),
        cartesian_products=p.count("CartesianProduct"),
        nested_loop_joins=p.count("BroadcastNestedLoopJoin"),
        sort_merge_joins=p.count("SortMergeJoin"),
        global_sorts=len(
            re.findall(r"Exchange rangepartitioning", p)
        ),
        take_ordered=p.count("TakeOrderedAndProject"),
        # executedPlan renders codegen regions as '*(n)' prefixes
        # (the literal 'WholeStageCodegen (n)' only appears in
        # explain mode='formatted') — r8 review fix, verified live
        codegen_spans=len(set(re.findall(r"\*\((\d+)\)", p))),
        python_evals=sum(p.count(n) for n in _PY_NODES),
        file_scans=len(scans),
        pushed_filter_scans=len(pushed),
    )


def assert_scale_safe(
    df: DataFrame,
    *,
    max_exchanges: int | None = None,
    forbid_cartesian: bool = True,
    forbid_global_sort: bool = False,
    require_python_free: bool = False,
    require_pushdown: bool = False,
) -> PlanReport:
    """One-call CI gate for pipeline plans: raises ``AssertionError``
    naming the violated property; returns the report when clean.

    - ``forbid_cartesian``: an unbounded cross join is never the plan
      you want at corpus scale (every operator here generates candidates
      through buckets/bands/cells instead).
    - ``forbid_global_sort``: a range-partitioned full sort is a
      deliberate choice (layout writers make it); selection ops should
      be TakeOrdered or windowed instead.
    - ``require_python_free``: hot paths should stay in whole-stage
      codegen; Arrow-batched Python is for codecs and user lambdas.
    - ``require_pushdown``: at least one scan must carry a non-empty
      ``PushedFilters`` list (lost pushdown re-reads the corpus).
    """
    r = plan_report(df)
    if forbid_cartesian and r.cartesian_products:
        raise AssertionError(
            f"plan contains {r.cartesian_products} CartesianProduct node(s)"
        )
    if max_exchanges is not None and r.exchanges > max_exchanges:
        raise AssertionError(
            f"plan has {r.exchanges} shuffles (budget {max_exchanges})"
        )
    if forbid_global_sort and r.global_sorts:
        raise AssertionError(
            f"plan has {r.global_sorts} range-partitioned global sort(s)"
        )
    if require_python_free and r.python_evals:
        raise AssertionError(
            f"plan has {r.python_evals} Python eval node(s) on the data path"
        )
    if require_pushdown and not r.pushed_filter_scans:
        raise AssertionError("no scan carries a non-empty PushedFilters list")
    return r
