"""Product-quantization semantics that corpus parity can't isolate:
seed self-encoding, code-key positional folding, ADC ranking of an
exact duplicate, and the Lloyd-trained codebook improving on the seed
codebook (the k-means objective is non-increasing per round).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from transitdata_omm_cancellation_source_spark.operators.pq import (
    DSUB,
    K_CODES,
    M_SUB,
    _centroids,
    _knn_pq,
    _pq_codes,
    _train_codebook,
    _vectors,
    codebook_array,
    encode_codes,
)
from transitdata_omm_cancellation_source_spark.plans.queries import REGISTRY
from transitdata_omm_cancellation_source_spark.testing import compare_frames


def _vec(seed: int) -> list[float]:
    # distinct, well-separated deterministic vectors; the modulus must
    # exceed K_CODES=16, else seeds i and i+mod are identical vectors
    # (a 13-period generator made seed 13 duplicate seed 0, and the
    # engine — correctly — ranked it as a tied exact duplicate).
    return [
        round(((seed * 31 + d * 7) % 17 - 8) / 8.0, 3)
        for d in range(M_SUB * DSUB)
    ]


def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, v, 0) for i, v in rows],
        "vec_id long, embedding array<float>, label int",
    )


def test_seed_codebook_self_encodes(spark):
    # Under the UNTRAINED seed codebook, seed vec_ids 0..15 encode to
    # their own code in every subspace (distance 0 to themselves).
    rows = [(i, _vec(i)) for i in range(K_CODES)] + [(100, _vec(3))]
    vecs = _vectors({"embeddings": _emb(spark, rows)})
    seeds = _centroids(vecs).collect()
    C = codebook_array(
        {c: np.array([r[c] for r in seeds]) for c in ("sub", "code", "c")}
    )
    us = vecs.select("vec_id", "u").collect()
    codes = encode_codes(np.array([r.u for r in us]), C)
    by_vec = {r.vec_id: dict(enumerate(c)) for r, c in zip(us, codes.tolist())}
    assert by_vec[3] == {s: 3 for s in range(M_SUB)}
    assert by_vec[100] == {s: 3 for s in range(M_SUB)}  # exact duplicate


def test_duplicate_shares_codes_and_matches_oracle(spark):
    # 100 duplicates vec 3: under ANY codebook their per-subspace
    # argmins coincide, so the positional code_key must match; the
    # trained-codebook oracle pins every assignment cross-engine.
    rows = [(i, _vec(i)) for i in range(K_CODES)] + [(100, _vec(3))]
    emb = _emb(spark, rows)
    out = {r.vec_id: r for r in _pq_codes(spark, {"embeddings": emb}).collect()}
    assert out[100].code_key == out[3].code_key
    assert out[100].n_sub == M_SUB
    assert out[100].code_sum == out[3].code_sum

    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(
            [(i, v, 0) for i, v in rows],
            columns=["vec_id", "embedding", "label"],
        ),
    )
    oracle = con.execute(REGISTRY["embedding_pq_codes"].oracle).df()
    con.close()
    assert compare_frames(
        _pq_codes(spark, {"embeddings": emb}).toPandas(), oracle
    ) == []


def _distortion(vec_rows, cent_rows) -> float:
    """k-means objective: sum over (vec, sub) of min-code ||sv - c||^2.

    Codebook coordinates are BIGINT micro-units (1e-6); rescale to the
    original coordinate units before comparing against the raw floats.
    """
    cent = {}
    for r in cent_rows:
        cent.setdefault(r.sub, []).append(
            (r.code, np.array(r.c, dtype=float) / 1e6)
        )
    total = 0.0
    for _, v in vec_rows:
        v = np.array(v)
        for s in range(M_SUB):
            sv = v[s * DSUB : (s + 1) * DSUB]
            total += min(
                float(((sv - c) ** 2).sum()) for _, c in cent[s]
            )
    return total


def test_trained_codebook_reduces_quantization_error(spark):
    # 64 distinct vectors, 16 seeds.  Training reads only the
    # deterministic sample vec_id % PQ_TRAIN_MOD == 0; Lloyd is monotone
    # ON THAT SAMPLE (6-decimal rounding perturbs at most ~1e-6 per
    # term), so the sample objective must not increase.  The full-corpus
    # objective has no such theorem — its strict decrease here is an
    # empirical pin on this deterministic spread-out corpus, guarding
    # against a training regression that overfits the sample.
    from transitdata_omm_cancellation_source_spark.operators.pq import (
        PQ_TRAIN_MOD,
    )

    rows = [(i, _vec(i)) for i in range(64)]
    sample = [r for r in rows if r[0] % PQ_TRAIN_MOD == 0]
    vecs = _vectors({"embeddings": _emb(spark, rows)})
    seed_cent = _centroids(vecs).collect()
    trained_cent = _train_codebook(vecs).collect()
    assert _distortion(sample, trained_cent) <= (
        _distortion(sample, seed_cent) + 1e-3
    )
    assert _distortion(rows, trained_cent) < _distortion(rows, seed_cent)


def test_codebook_shared_across_pq_queries(spark):
    # Both PQ queries consume one trained codebook per (session, corpus
    # plan): the second request returns the SAME DataFrame (no second
    # training).  The artifact is a materialized local relation holding
    # zero executor memory, so it SURVIVES release_tracked (which frees
    # cluster cache, not driver-side trained artifacts) — while a
    # different corpus plan still trains its own codebook.
    from transitdata_omm_cancellation_source_spark.caching import (
        release_tracked,
    )
    from transitdata_omm_cancellation_source_spark.operators.pq import (
        _shared_codebook,
    )

    rows = [(i, _vec(i)) for i in range(K_CODES)]
    emb = _emb(spark, rows)
    first = _shared_codebook(spark, _vectors({"embeddings": emb}))
    again = _shared_codebook(spark, _vectors({"embeddings": emb}))
    assert again is first
    release_tracked()
    assert _shared_codebook(spark, _vectors({"embeddings": emb})) is first
    other = _emb(spark, rows + [(99, _vec(1))])
    assert _shared_codebook(spark, _vectors({"embeddings": other})) is not first


def test_adc_ranks_exact_duplicate_first(spark):
    # query 0 (vec_id 0 is both a seed and a query: 0 % QUERY_MOD == 0)
    # has an exact duplicate at vec_id 17 — identical vector => same
    # LSH bucket and same per-subspace argmin codes, so its ADC sum is
    # the global minimum over candidates: it must be rank 1.
    rows = [(i, _vec(i)) for i in range(K_CODES)] + [
        (17, _vec(0)),
        (18, _vec(7)),
    ]
    emb = _emb(spark, rows)
    out = _knn_pq(spark, {"embeddings": emb}).collect()
    top = {
        r.query_id: r.neighbor_id for r in out if r.rank == 1
    }
    assert top[0] == 17
