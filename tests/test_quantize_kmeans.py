"""Semantic pins for the int8 quantization and Lloyd k-means operators
(oracle parity is covered by test_oracle_parity; these assert the
properties parity alone can't see)."""

from __future__ import annotations

import numpy as np

from transitdata_omm_cancellation_source_spark.functions.hyperplane import DIM
from transitdata_omm_cancellation_source_spark.plans.queries import REGISTRY

from conftest import SF_ORACLE


def test_int8_reconstruction_error_bound(spark):
    # Symmetric half-up rounding guarantees |v_j - q_j * s| <= s/2.
    rows = (
        REGISTRY["embedding_int8_quantize"].build(spark, SF_ORACLE).collect()
    )
    assert rows
    for r in rows:
        assert r.n_dims == DIM
        if r.scale == 0.0:  # zero vector -> zero codes, zero error
            assert r.q_l1 == 0 and r.max_abs_err == 0.0
        else:
            # emitted columns are rounded (err to 6 dp, scale to 9 dp),
            # so allow half-ulp-of-rounding slack on the raw bound
            assert r.max_abs_err <= r.scale / 2 + 5e-7
            # codes bounded by int8 range (symmetric: amax -> ±127)
            assert r.q_norm2 <= DIM * 127 * 127


def test_int8_knn_agrees_with_float_lsh(spark):
    # knn_int8_cosine is the same single-probe hyperplane LSH as
    # knn_lsh_hyperplane, with buckets and scoring on the codes.
    # Quantization perturbs each component by <= scale/2, so bucket
    # assignments and within-bucket top-5 sets should mostly survive;
    # high agreement with the float LSH path is the documented trade.
    float_lsh = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["knn_lsh_hyperplane"].build(spark, SF_ORACLE).collect()
    }
    coded = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["knn_int8_cosine"].build(spark, SF_ORACLE).collect()
    }
    assert float_lsh and coded
    agreement = len(float_lsh & coded) / len(float_lsh)
    assert agreement >= 0.8, f"int8 LSH diverged from float LSH: {agreement:.3f}"


def test_lloyd_rounds_partition_the_corpus(spark):
    # Every Lloyd round reassigns each vector to exactly one cell, so
    # the final per-cell counts must partition the corpus and every
    # surviving cell must carry all DIM dimensions.
    n_corpus = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").count()
    rows = REGISTRY["kmeans_lloyd_centroids"].build(spark, SF_ORACLE).collect()
    cells = {}
    for r in rows:
        cells.setdefault(r.cell, []).append(r)
    for cell, dims in cells.items():
        assert len(dims) == DIM
        assert len({d.n_vecs for d in dims}) == 1  # same count on every dim
    assert sum(dims[0].n_vecs for dims in cells.values()) == n_corpus


def test_assign_zero_norm_centroid_matches_oracle_null_ordering(spark):
    """A centroid that quantizes to the zero vector scores 0/0 for
    EVERY vector: NaN in numpy, NULL in the gate's DuckDB (division by
    zero yields NULL — probed below by running the oracle's own
    ordering), and the oracle's ORDER BY score DESC puts NULLs LAST —
    so zero-norm centroids must be IGNORED while any real centroid
    exists, and only an all-zero codebook falls to the lowest cell.
    The raw np.argmax would instead treat the NaN column as the max
    and poison its whole chunk (the r12 ADVICE finding); this pins the
    exclusion branch across everything sharing the kernel (IVF paths,
    SemDeDup, Lloyd rounds)."""
    import duckdb

    from transitdata_omm_cancellation_source_spark.operators.similarity import (
        assign_to_centroids,
    )

    # ground truth: the literal oracle ordering on the gate's DuckDB —
    # a NULL (0/0) score loses to ANY real score, and an all-NULL set
    # falls to the lowest cell
    con = duckdb.connect()
    assert con.execute(
        """SELECT cell FROM (
               SELECT cell, row_number() OVER (ORDER BY s DESC, cell) rn
               FROM (VALUES (3, -0.9), (5, 0.0/0.0)) t(cell, s)) WHERE rn=1"""
    ).fetchone()[0] == 3
    assert con.execute(
        """SELECT cell FROM (
               SELECT cell, row_number() OVER (ORDER BY s DESC, cell) rn
               FROM (VALUES (9, 0.0/0.0), (5, 0.0/0.0)) t(cell, s)) WHERE rn=1"""
    ).fetchone()[0] == 5

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7])],
        "vec_id long, v array<double>",
    )
    cvec = (
        np.array([3, 5, 7, 9]),
        np.array([[1.0, 0.0], [0.0, 0.0], [0.0, 1.0], [0.0, 0.0]]),
    )
    got = {
        r["vec_id"]: r["cell"]
        for r in assign_to_centroids(vecs, cvec).collect()
    }
    # zero-norm cells 5 and 9 never win; ties keep the lowest cell
    assert got == {1: 3, 2: 7, 3: 3}
    # all-zero codebook: every oracle score is NULL -> lowest cell
    cvec0 = (np.array([5, 9]), np.zeros((2, 2)))
    got0 = {
        r["vec_id"]: r["cell"]
        for r in assign_to_centroids(vecs, cvec0).collect()
    }
    assert got0 == {1: 5, 2: 5, 3: 5}
