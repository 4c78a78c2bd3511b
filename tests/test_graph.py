"""PageRank edge semantics on hand-computable graphs: the exact
integer micro-unit fixed point, hub dominance, and tie-break order.
"""

from __future__ import annotations

from transitdata_omm_cancellation_source_spark.operators import graph
from transitdata_omm_cancellation_source_spark.operators.graph import _pagerank


def _li(spark, rows):
    return spark.createDataFrame(rows, "l_orderkey long, l_partkey long")


def test_symmetric_pair_is_the_exact_fixed_point(spark):
    # one order with two parts: each node's whole mass flows to the
    # other, so 150000 + (85 * 1_000_000) div 100 = 1_000_000 exactly —
    # the integer update has a true fixed point, no drift over rounds.
    out = _pagerank(spark, {"lineitem": _li(spark, [(1, 10), (1, 20)])}).collect()
    assert [(r.part, r.rank_micro, r.rnk) for r in out] == [
        (10, 1_000_000, 1),
        (20, 1_000_000, 2),
    ]


def test_hub_accumulates_rank_with_exact_integer_values(spark):
    # star graph: A co-occurs with B (order 1) and C (order 2).  Three
    # integer power-iteration rounds give exactly 1741625 / 629187 —
    # computed by hand, pinned to the last micro-unit (any float or
    # rounding difference would shift these).
    li = _li(spark, [(1, 100), (1, 200), (2, 100), (2, 300)])
    out = _pagerank(spark, {"lineitem": li}).collect()
    assert [(r.part, r.rank_micro, r.rnk) for r in out] == [
        (100, 1_741_625, 1),
        (200, 629_187, 2),  # partkey breaks the B/C tie
        (300, 629_187, 3),
    ]


def test_bounded_scratch_passes_are_bit_identical(spark, monkeypatch):
    """K-pass edge build == 1-pass, bit-for-bit (pass k aggregates the
    FULL weight of every pair whose dst is in range k, and a pair's
    dst lives in exactly one range), including the checkpointed
    supersteps the scratch mode adds.  Alongside the ngram pin in
    tests/test_ngram_passes.py."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [
        (int(o), int(p))
        for o in range(1, 60)
        for p in rng.choice(np.arange(10, 40), size=rng.integers(2, 6), replace=False)
    ]
    t = {"lineitem": _li(spark, rows)}
    results = []
    for k in (1, 3):  # forced single, forced K
        with monkeypatch.context() as m:
            m.setattr(graph, "_known_pass_count", lambda li: k)
            results.append(sorted(map(tuple, _pagerank(spark, t).collect())))
    results.append(sorted(map(tuple, _pagerank(spark, t).collect())))  # estimator
    assert results[0] == results[1] == results[2]
    assert len(results[0]) > 10  # non-vacuous


def test_pagerank_pass_count_estimator(spark, monkeypatch):
    from transitdata_omm_cancellation_source_spark import caching
    from transitdata_omm_cancellation_source_spark.operators.graph import (
        _PR_SPILL_BYTES_PER_PAIR,
        _pagerank_pass_count,
        _per_order_parts,
    )

    # the pass count is memoized per fact table, not per budget: empty
    # memo so the shrunk budget below re-estimates
    monkeypatch.setattr(caching, "_MEMO", {})
    # 4 orders x 3 parts = 3 pairs each -> 12 pair rows
    rows = [(o, p) for o in range(4) for p in (1, 2, 3)]
    items = _li(spark, rows)
    po = _per_order_parts(items)
    assert _pagerank_pass_count(items, po) == 1  # default budget
    caching._MEMO.clear()
    monkeypatch.setattr(
        caching, "SCRATCH_BUDGET_BYTES", 6 * _PR_SPILL_BYTES_PER_PAIR
    )  # budget for 6 rows
    assert _pagerank_pass_count(items, po) == 2


def test_broadcast_guard_raises_past_limit():
    """r13 verdict #3: the scratch-mode superstep broadcast hint is
    node-sized — past the limit the build must fail with the estimate
    and the limit, never hint the executor into an OOM."""
    import pytest

    from transitdata_omm_cancellation_source_spark.operators.graph import (
        _PR_BCAST_BYTES_PER_NODE,
        _PR_BCAST_LIMIT_BYTES,
        _guard_rank_broadcast,
    )

    # under the limit: no-op
    _guard_rank_broadcast(25_000_000)  # the measured sf125 point
    over = _PR_BCAST_LIMIT_BYTES // _PR_BCAST_BYTES_PER_NODE + 1
    with pytest.raises(ValueError, match=r"GiB for \d+ nodes, over the 4 GiB"):
        _guard_rank_broadcast(over)


def test_known_pass_count_skips_the_proxy_job(spark, tmp_path, monkeypatch):
    """r13 ADVICE: after one build, the pass count must answer from the
    memo without any Spark job — repeated builds were paying the
    estimator's fact count the memo existed to avoid."""
    from transitdata_omm_cancellation_source_spark import caching
    from transitdata_omm_cancellation_source_spark.operators.graph import (
        _known_pass_count,
    )

    monkeypatch.setattr(caching, "_MEMO", {})
    path = str(tmp_path / "li.parquet")
    _li(spark, [(1, 10), (1, 20)]).write.parquet(path)
    t = {"lineitem": spark.read.parquet(path)}
    assert _known_pass_count(t["lineitem"]) is None  # nothing built
    _pagerank(spark, t).collect()

    again = spark.read.parquet(path)  # schema inference may run a job
    sc = spark.sparkContext
    sc.setJobGroup("known-pass-count", "memo lookup")
    try:
        assert _known_pass_count(again) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("known-pass-count")) == []
