"""Bounded-scratch K-pass execution of ``dedup_ngram_jaccard``.

The fourth-decade (sf125) one-shot plan died on shuffle disk even
though every stage measured linear — the SUM of linear spills exceeded
one node's scratch.  The fix processes the candidate space in K
disjoint hash-range passes over the prefix shingle.  These tests pin:

- K-pass == 1-pass exactness (the PPJoin prefix lemma holds per hash
  range; verified pairs union to the one-pass result bit-for-bit),
  including on a heavy-hitter corpus where the prefix order is
  hot-aware;
- the pass-count estimator: 1 below scale (the certified plan is
  unchanged), and >1 when ``caching.SCRATCH_BUDGET_BYTES`` shrinks
  below the estimated in-flight bytes.

K is forced by replacing ``_ngram_pass_count`` for the build.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from transitdata_omm_cancellation_source_spark import caching
from transitdata_omm_cancellation_source_spark.operators import dedup_fuzzy
from transitdata_omm_cancellation_source_spark.operators.dedup_fuzzy import (
    _NGRAM_SPILL_BYTES_PER_PREFIX_ROW,
    _minhash_shingles,
    _ngram_jaccard,
    _ngram_pass_count,
)
from transitdata_omm_cancellation_source_spark.plans.queries import REGISTRY
from transitdata_omm_cancellation_source_spark.testing import compare_frames


def _force_passes(monkeypatch, k: int) -> None:
    monkeypatch.setattr(dedup_fuzzy, "_ngram_pass_count", lambda sh: k)


def _corpus_rows() -> list[tuple[int, str]]:
    rows = []
    # clusters of near-dups sharing rare shingles + distinct fillers
    # (planted_corpus copies of % 10 == 0 ids are fine here — both
    # engines and all pass counts apply the same construction)
    for i in range(40):
        base = 3000 + 7 * i
        words = " ".join(f"w{i}x{j}" for j in range(12))
        rows.append((base + 1, words))
        rows.append((base + 2, words + " tail"))  # J = 10/12-ish pair
    for i in range(200):
        rows.append((9001 + 2 * i, f"filler a{i} b{i} c{i} d{i} e{i} f{i}"))
    # one heavy-hitter-ish shared trigram across many docs
    for i in range(150):
        rows.append((20001 + 2 * i, f"common stop words uniq{i} z{i} q{i}"))
    return rows


def _run(spark, docs):
    return (
        _ngram_jaccard(spark, {"documents": docs})
        .toPandas()
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )


def test_kpass_equals_one_pass_and_oracle(spark, monkeypatch):
    rows = _corpus_rows()
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    _force_passes(monkeypatch, 1)
    one_pass = _run(spark, docs)
    assert len(one_pass) >= 40  # the planted near-dup pairs are found

    for k in (2, 3, 7):
        _force_passes(monkeypatch, k)
        kp = _run(spark, docs)
        pd.testing.assert_frame_equal(one_pass, kp)

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    oracle = con.execute(REGISTRY["dedup_ngram_jaccard"].oracle).df()
    con.close()
    assert compare_frames(one_pass, oracle) == []


def test_pass_count_estimator(spark, monkeypatch):
    rows = _corpus_rows()
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = _minhash_shingles({"documents": docs})

    # default budget at toy scale -> single pass, certified plan intact
    assert _ngram_pass_count(sh) == 1

    # shrink the budget below the estimate -> K-pass mode engages, and
    # K tracks ceil(est / budget)
    from pyspark.sql import functions as F

    prefix_rows = sh.agg(
        F.sum(
            (F.size("shingles") - F.ceil(F.size("shingles") * F.lit(0.5)) + 1).cast(
                "long"
            )
        )
    ).first()[0]
    est = prefix_rows * _NGRAM_SPILL_BYTES_PER_PREFIX_ROW
    # ceil(~2.5) == 3, robust to rounding
    monkeypatch.setattr(caching, "SCRATCH_BUDGET_BYTES", int(est / 2.5))
    assert _ngram_pass_count(sh) == 3


def test_positional_filter_keeps_boundary_pair(spark, monkeypatch):
    """r16: single-pass mode applies PPJoin's positional filter
    (upper-bound prune before the verify joins).  A pair at Jaccard
    EXACTLY tau = 0.5 sits on the prune boundary — it must survive the
    filter (bound arithmetic is exact for tau = 0.5) and appear in the
    result with jaccard 0.5."""
    w = " ".join(f"w{i}q" for i in range(8))       # 8 words -> 6 shingles
    extra = " ".join(f"x{i}q" for i in range(6))   # stretch to 12 shingles
    rows = [
        (50_001, w),                  # 6 shingles
        (50_003, w + " " + extra),    # 14 words -> 12 shingles, 6 shared
        # fillers so the corpus isn't degenerate
        *[(60_001 + 2 * i, f"f{i}a f{i}b f{i}c f{i}d f{i}e") for i in range(30)],
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    _force_passes(monkeypatch, 1)  # positional-filter plan
    out = _run(spark, docs)
    pair = out[(out.doc_a == 50_001) & (out.doc_b == 50_003)]
    # J = 6 / (6 + 12 - 6) = 0.5 exactly — boundary case
    assert len(pair) == 1 and float(pair.jaccard.iloc[0]) == 0.5
