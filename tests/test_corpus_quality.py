"""Edge semantics of the corpus-quality operators added in round 7:
bigram-LM scoring, SemDeDup gating, boilerplate span pruning.

The registry parity test already pins full-table cross-engine equality;
these cases pin the BEHAVIORAL contracts on hand-built corners the
testdata doesn't necessarily contain (single-word docs, fully-covered
docs, duplicate groups larger than two).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from transitdata_omm_cancellation_source_spark.operators.pipeline_prep import (
    _BOILER_DF,
    _BOILER_N,
    _boilerplate_prune,
)
from transitdata_omm_cancellation_source_spark.operators.semdedup import (
    SEMDEDUP_TAU,
    _semdedup,
)
from transitdata_omm_cancellation_source_spark.operators.textops import (
    BIGRAM_NLL_DROP,
    _bigram_lm,
)


def _docs(spark, rows):
    return {
        "documents": spark.createDataFrame(rows, "doc_id long, text string")
    }


# --- bigram LM ----------------------------------------------------------------


def test_bigram_lm_excludes_sub_bigram_docs(spark):
    t = _docs(
        spark,
        [(0, "only"), (1, ""), (2, "two words"), (3, "a b c")],
    )
    out = _bigram_lm(spark, t).orderBy("doc_id").collect()
    # docs 0 and 1 have no bigram -> excluded entirely, not scored as 0
    assert [r.doc_id for r in out] == [2, 3]
    assert [r.n_bigrams for r in out] == [1, 2]


def test_bigram_lm_repeated_text_scores_lower_nll(spark):
    # doc 0 repeats the corpus's dominant pattern; doc 1 is the one-off.
    rows = [(i, "the cat sat on the mat") for i in range(9)]
    rows.append((9, "zebra quark flux zebra quark flux"))
    out = {
        r.doc_id: r
        for r in _bigram_lm(spark, _docs(spark, rows)).collect()
    }
    assert out[0].avg_nll < out[9].avg_nll
    # identical docs get identical scores (pure function of content)
    assert out[0].avg_nll == out[5].avg_nll
    for r in out.values():
        assert r.lm_gate in ("keep", "drop")
        assert (r.avg_nll > BIGRAM_NLL_DROP) == (r.lm_gate == "drop")


# --- SemDeDup -----------------------------------------------------------------


def test_semdedup_keeps_lowest_id_per_duplicate_group(spark):
    tables_sf = "/root/testdata/sf0.001"
    from transitdata_omm_cancellation_source_spark.catalog import load_tables

    t = load_tables(spark, tables_sf)
    out = _semdedup(spark, t)
    # planted copies (vec_id >= 1e6) are exact duplicates of their
    # source vector: the copy must drop, the (lower-id) source keep.
    planted = out.filter(F.col("vec_id") >= 1_000_000)
    assert planted.count() > 0
    assert planted.filter(F.col("semdedup_gate") != "drop").count() == 0
    sources = out.filter(F.col("vec_id") % 20 == 0).filter(
        F.col("vec_id") < 1_000_000
    )
    assert sources.filter(F.col("semdedup_gate") != "keep").count() == 0
    assert 0.9 < SEMDEDUP_TAU < 1.0  # gate is a near-dup, not any-pair, bar


def test_semdedup_dup_and_source_share_cell(spark):
    from transitdata_omm_cancellation_source_spark.catalog import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001")
    out = _semdedup(spark, t).select("vec_id", "cell")
    pairs = (
        out.filter(F.col("vec_id") >= 1_000_000)
        .select(
            (F.col("vec_id") - 1_000_000).alias("src_id"),
            F.col("cell").alias("copy_cell"),
        )
        .join(out.withColumnRenamed("vec_id", "src_id"), "src_id")
    )
    assert pairs.filter(F.col("copy_cell") != F.col("cell")).count() == 0


# --- boilerplate prune ----------------------------------------------------------


def test_boilerplate_prune_removes_exact_hot_span(spark):
    hot = "alpha beta gamma delta"  # one 4-gram, df = 3
    rows = [
        (0, f"{hot} unique0 tail0"),
        (1, f"lead1 {hot} tail1"),
        (2, f"lead2 mid2 {hot}"),
        (3, "no boiler here at all five"),
    ]
    assert _BOILER_N == 4 and _BOILER_DF == 3  # corners below assume this
    out = {
        r.doc_id: r
        for r in _boilerplate_prune(spark, _docs(spark, rows)).collect()
    }
    assert out[0].pruned_text == "unique0 tail0"
    assert out[1].pruned_text == "lead1 tail1"
    assert out[2].pruned_text == "lead2 mid2"
    assert out[3].pruned_text == rows[3][1]
    assert out[0].n_removed == 4 and out[3].n_removed == 0


def test_boilerplate_prune_fully_covered_doc_empties(spark):
    hot = "alpha beta gamma delta"
    rows = [(i, hot) for i in range(3)] + [(3, f"x {hot} y")]
    out = {
        r.doc_id: r
        for r in _boilerplate_prune(spark, _docs(spark, rows)).collect()
    }
    assert out[0].pruned_text == ""
    assert out[0].n_removed == 4 and out[0].n_words == 4
    assert out[0].removed_frac == 1.0
    assert out[3].pruned_text == "x y"


def test_boilerplate_prune_overlapping_spans_union_cover(spark):
    # two overlapping hot 4-grams cover 5 positions, not 8
    span5 = "a b c d e"
    rows = [(i, span5) for i in range(3)] + [(3, f"{span5} solo")]
    out = {
        r.doc_id: r
        for r in _boilerplate_prune(spark, _docs(spark, rows)).collect()
    }
    assert out[0].pruned_text == ""
    assert out[3].pruned_text == "solo"
    assert out[3].n_removed == 5


# --- PQ two-stage refine ------------------------------------------------------


def test_pq_refine_rank1_is_exact_nearest_in_shortlist(spark):
    """For every query, refine's rank-1 neighbor must have the minimal
    EXACT distance among the ADC shortlist — i.e. the rerank really
    reorders by exact distance, not by the ADC approximation."""
    from transitdata_omm_cancellation_source_spark.catalog import load_tables
    from transitdata_omm_cancellation_source_spark.operators.pq import (
        PQ_SHORTLIST,
        TOP_K,
        _knn_pq_refine,
    )
    from transitdata_omm_cancellation_source_spark.plans.queries import REGISTRY

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from transitdata_omm_cancellation_source_spark.operators.pq import (
        _adc_scored,
        _vectors,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    out = _knn_pq_refine(spark, t).collect()
    assert PQ_SHORTLIST > TOP_K

    # Independently rebuild the FULL ADC shortlist (not just TOP_K) and
    # recompute exact integer squared-L2 for every shortlist pair in
    # Python — the refine output must equal the exact top-k OF THE
    # SHORTLIST per query, ids and order.  A refine that truncated the
    # shortlist to TOP_K before reranking would still emit rows sorted
    # by exact_dist2, so sortedness alone cannot catch it.
    vecs = _vectors(t)
    scored = _adc_scored(spark, t, PQ_SHORTLIST)
    ws = Window.partitionBy("query_id").orderBy(
        F.col("s").asc(), F.col("neighbor_id").asc()
    )
    shortlist: dict[int, list[int]] = {}
    for r in (
        scored.withColumn("rnk", F.row_number().over(ws))
        .filter(F.col("rnk") <= PQ_SHORTLIST)
        .collect()
    ):
        shortlist.setdefault(r.query_id, []).append(r.neighbor_id)
    u = {r.vec_id: r.u for r in vecs.select("vec_id", "u").collect()}

    def d2(a: int, b: int) -> int:
        return sum((x - y) * (x - y) for x, y in zip(u[a], u[b]))

    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(shortlist)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        expected = sorted(shortlist[q], key=lambda n: (d2(q, n), n))[:TOP_K]
        assert [r.neighbor_id for r in rows] == expected, f"query {q}"
        for r in rows:
            assert abs(r.exact_dist2 - d2(q, r.neighbor_id) / 1e12) < 1e-9
    # at least one query must have been REORDERED by the exact pass or
    # pulled a winner from beyond the ADC top-k — otherwise this test
    # couldn't distinguish refine from plain ADC on this corpus
    adc = REGISTRY["knn_pq_adc"].build(spark, "/root/testdata/sf0.001")
    adc_top = {}
    for r in adc.collect():
        adc_top.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    differs = any(
        [n for _, n in sorted(adc_top.get(q, []))]
        != [r.neighbor_id for r in sorted(rows, key=lambda r: r.rank)]
        for q, rows in by_q.items()
    )
    assert differs, "refine output identical to ADC everywhere — vacuous corpus"
