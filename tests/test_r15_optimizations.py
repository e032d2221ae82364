"""Focused pins for the r15 optimization internals: the
canonical-survivors min_by carry and the decontaminate pre-filter's
broadcast gate — each changed an operator's plan shape, so its result
contract is pinned here. (The curate survivor persist is pinned in
test_execution.py.)"""

from mongo_arrow_spark.operators import dedup


def test_canonical_survivors_min_by_winner_semantics(spark):
    """The min_by struct-carry must pick the same winners the r14
    argmax+join-back form picked: highest score, ties to min id,
    NULL-score components still yield exactly one winner, unclustered
    rows pass through."""
    df = spark.createDataFrame(
        [
            (1, 10, "a"), (2, 30, "b"), (3, 30, "c"),  # tie on 30 → id 2
            (4, 5, "d"),                                # never in a pair
            (5, None, "e"), (6, None, "f"),             # NULL scores
            (7, 50, "g"), (8, 7, "h"),
            (9, 9, "i"), (10, None, "j"),               # mixed NULL/scored:
            # struct ordering sorts the NULL field first, so the NULL
            # row wins — the r14 join-back form behaved identically
            # (verified old-vs-new), pinned so nobody "fixes" one form
        ],
        "doc_id long, score long, text string",
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (7, 7), (8, 7),
         (9, 9), (10, 9)],
        "id long, component long",
    )
    out = dedup.canonical_survivors(df, comps, score_col="score")
    assert out.columns == df.columns
    rows = sorted(map(tuple, out.collect()))
    assert rows == [
        (2, 30, "b"), (4, 5, "d"), (5, None, "e"), (7, 50, "g"),
        (10, None, "j"),
    ]
    # one aggregation, no component join-back in the optimized plan
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "min_by" in plan


def test_cross_jaccard_prefilter_gate_fallback_identical(spark, monkeypatch):
    """An oversized right side must SKIP the broadcast pre-filter (r15
    ADVICE fix: never force-broadcast an unbounded key set) and produce
    identical pairs through the plain posting join — also when the right
    side holds a NULL-text row, whose NULL shingle array counts 0 in the
    gate's key bound."""
    left = spark.createDataFrame(
        [(i, f"w{i} x{i} common tail words here", ) for i in range(30)],
        "doc_id long, text string",
    )
    rows = [(100, "common tail words here extra"), (101, "nothing shared at all")]
    for right_rows in (rows, rows + [(102, None)]):
        right = spark.createDataFrame(right_rows, "doc_id long, text string")

        def run():
            return sorted(
                map(
                    tuple,
                    dedup.cross_jaccard_pairs(
                        left, right, threshold=0.1, max_df=1000
                    ).collect(),
                )
            )

        with_filter = run()
        with monkeypatch.context() as m:
            # force the gate shut: any right side now exceeds the budget
            m.setattr(dedup, "_PREFILTER_KEY_BYTES", 1 << 40)
            without_filter = run()
        assert with_filter == without_filter
        assert with_filter  # non-degenerate: the shared tail pairs up
