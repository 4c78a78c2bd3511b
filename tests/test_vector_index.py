"""The per-vector index frame (``operators.pq.vector_index``) and the
bounded artifacts it reads as numpy arrays.

- each vector's ``u``, ``bucket``, ``cell`` and ``codes`` equal the
  DuckDB oracle's micro-units, hyperplane bucket, ``assign`` CTE
  (``ivf_assign_cte``) and ``codes`` CTE (``_CODEBOOK_CTE``);
- the frame is identical at kernel width 1 and at full width, is served
  as the same object until ``release_tracked`` drops it;
- the five searches it feeds stay hash-green when their shuffles are
  spread over 7 partitions with AQE coalescing off;
- serving the quantizer and the codebook runs no Spark job, from the
  session memo or from the disk tier, and a warm ``knn_ivfpq_adc``
  runs at most 5 jobs.
"""

from __future__ import annotations

import os

import pytest

from transitdata_omm_cancellation_source_spark import artifacts, caching
from transitdata_omm_cancellation_source_spark.caching import release_tracked
from transitdata_omm_cancellation_source_spark.catalog import load_tables
from transitdata_omm_cancellation_source_spark.functions.hyperplane import (
    full_bucket_expr_duck,
    pow2_grid_cte,
)
from transitdata_omm_cancellation_source_spark.operators import pq
from transitdata_omm_cancellation_source_spark.operators import similarity as sim
from transitdata_omm_cancellation_source_spark.plans.queries import REGISTRY
from transitdata_omm_cancellation_source_spark.testing import (
    assert_oracle_parity,
    duckdb_connection,
)

from conftest import SF_SMOKE, jobs_run_by

INDEX_FED = (
    "knn_ivfpq_adc",
    "knn_ivf_kmeans",
    "embedding_pq_codes",
    "knn_pq_adc",
    "knn_pq_refine",
)

_ORACLE = f"""
    WITH {pq._CODEBOOK_CTE},
    {sim.ivf_assign_cte()},
    {pow2_grid_cte("lsh_params")},
    packed AS (
        SELECT vec_id, list(code ORDER BY sub) AS codes FROM codes GROUP BY vec_id
    )
    SELECT v.vec_id, v.u, ({full_bucket_expr_duck("v.v")}) % p.nb AS bucket,
           a.cell, k.codes
    FROM v JOIN assign a USING (vec_id) JOIN packed k USING (vec_id), lsh_params p
"""


def _index_rows(spark, t):
    return sorted(
        (r.vec_id, list(r.u), r.bucket, r.cell, list(r.codes))
        for r in pq.vector_index(spark, t).collect()
    )


@pytest.mark.parametrize("sf", [SF_SMOKE, os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")])
def test_index_frame_matches_oracle_cells_and_codes(spark, sf):
    con = duckdb_connection(sf)
    try:
        oracle = sorted(
            (vec_id, list(u), bucket, cell, list(codes))
            for vec_id, u, bucket, cell, codes in con.execute(_ORACLE).fetchall()
        )
    finally:
        con.close()
    assert oracle
    assert _index_rows(spark, load_tables(spark, sf)) == oracle
    release_tracked()


def test_index_frame_is_shared_and_width_independent(spark, monkeypatch):
    t = load_tables(spark, SF_SMOKE)
    release_tracked()
    monkeypatch.setattr(pq, "_INDEX_TASK_ROWS", 1 << 40)  # width 1
    narrow = pq.vector_index(spark, t)
    assert narrow.rdd.getNumPartitions() == 1
    assert pq.vector_index(spark, t) is narrow, "one frame serves every consumer"
    narrow_rows = _index_rows(spark, t)
    release_tracked()
    monkeypatch.setattr(pq, "_INDEX_TASK_ROWS", 1)  # full width
    wide = pq.vector_index(spark, t)
    assert wide is not narrow, "release_tracked must evict the index frame"
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism > 1
    assert _index_rows(spark, t) == narrow_rows
    release_tracked()


@pytest.mark.parametrize("name", INDEX_FED)
def test_index_fed_searches_match_oracle_over_seven_partitions(spark, name):
    """The index is rebuilt and every shuffle hashed over 7 partitions
    with coalescing off; ``load_tables`` turns coalescing back on, so
    both confs are set after the build."""
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    partitions = "spark.sql.shuffle.partitions"
    before = spark.conf.get(partitions)
    release_tracked()
    df = REGISTRY[name].build(spark, SF_SMOKE)
    spark.conf.set(coalesce, "false")
    spark.conf.set(partitions, "7")
    try:
        assert_oracle_parity(df, REGISTRY[name].oracle, SF_SMOKE)
    finally:
        spark.conf.set(coalesce, "true")
        spark.conf.set(partitions, before)
        release_tracked()


def test_serving_the_artifacts_runs_no_job(spark, tmp_path, monkeypatch):
    """From the session memo, and from the disk tier in a session whose
    memo is empty: the published parquet is read with pyarrow."""
    spark.conf.set(artifacts.ARTIFACT_DIR_CONF, str(tmp_path))
    monkeypatch.setattr(caching, "_MEMO", {})
    try:
        t = load_tables(spark, SF_SMOKE)

        def serve():
            return sim.ivf_quantizer(spark, t), pq._shared_codebook(spark, pq._vectors(t))

        (keys, cv), C = serve()  # trains and publishes both
        assert jobs_run_by(spark, serve) == 0
        monkeypatch.setattr(caching, "_MEMO", {})
        served = []
        assert jobs_run_by(spark, lambda: served.append(serve())) == 0
        (keys2, cv2), C2 = served[0]
        assert keys2.tolist() == keys.tolist() and cv2.tolist() == cv.tolist()
        assert C2.tolist() == C.tolist()
    finally:
        spark.conf.unset(artifacts.ARTIFACT_DIR_CONF)


def test_warm_ivfpq_search_runs_at_most_five_jobs(spark):
    """Artifacts and corpus count warm, the index frame released: the
    index pass, the two scan sides, the merge window and the write."""

    def run():
        df = REGISTRY["knn_ivfpq_adc"].build(spark, SF_SMOKE)
        df.write.format("noop").mode("overwrite").save()

    run()
    release_tracked()
    assert jobs_run_by(spark, run) <= 5
    release_tracked()
