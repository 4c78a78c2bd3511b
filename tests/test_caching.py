"""Tracked-persist bookkeeping: persisted shared subtrees get a
deterministic release point instead of relying on LRU eviction; the
session memo keys, evicts and releases its entries by one policy."""

from __future__ import annotations

import pytest

from transitdata_omm_cancellation_source_spark import caching
from transitdata_omm_cancellation_source_spark.plans.queries import REGISTRY

from conftest import SF_SMOKE


def test_release_tracked_frees_query_caches(spark):
    caching.release_tracked()  # clean slate
    df = REGISTRY["dedup_minhash_lsh"].build(spark, SF_SMOKE)
    df.count()  # materialize: fills the tracked caches
    assert len(caching._TRACKED) > 0
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() > 0
    released = caching.release_tracked()
    assert released == len(caching._TRACKED) == 0 or released > 0
    assert len(caching._TRACKED) == 0
    assert caching.release_tracked() == 0  # idempotent


def test_lloyd_rounds_release(spark):
    caching.release_tracked()
    REGISTRY["kmeans_lloyd_centroids"].build(spark, SF_SMOKE).count()
    assert len(caching._TRACKED) > 0
    caching.release_tracked()
    assert len(caching._TRACKED) == 0


def test_artifact_cache_key_is_content_sensitive(spark, tmp_path):
    from transitdata_omm_cancellation_source_spark.caching import (
        artifact_cache_key,
    )

    p = str(tmp_path / "vecs")
    spark.range(5).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    k1 = artifact_cache_key(spark, df)
    assert k1 == artifact_cache_key(spark, spark.read.parquet(p))  # stable

    # rewriting the files behind the SAME path must change the key —
    # a plan-hash-only key would serve a stale trained artifact here
    spark.range(7).write.mode("overwrite").parquet(p)
    k2 = artifact_cache_key(spark, spark.read.parquet(p))
    assert k2 != k1


@pytest.fixture()
def fresh_memo(monkeypatch):
    """An empty session memo for the test; production entries stay."""
    monkeypatch.setattr(caching, "_MEMO", {})
    return caching


def test_memo_rewrite_is_a_miss_that_evicts_the_old_entry(
    spark, tmp_path, fresh_memo
):
    p = str(tmp_path / "vecs")
    spark.range(5).write.parquet(p)
    old = spark.read.parquet(p)
    other = spark.range(9)  # a different plan: the rewrite leaves it alone
    assert caching.memo("n", old, old.count) == 5
    assert caching.memo("n", other, other.count) == 9
    assert caching.memo("n", spark.read.parquet(p), None) == 5  # a hit

    # rewriting the files behind the SAME path is a miss, and storing
    # the new result evicts the superseded entry for that plan
    spark.range(7).write.mode("overwrite").parquet(p)
    new = spark.read.parquet(p)
    assert caching.memo("n", new, None) is None
    assert caching.memo("n", new, new.count) == 7
    assert len(caching._MEMO) == 2
    assert caching.memo("n", other, None) == 9


def test_memo_values_survive_release_frames_do_not(spark, fresh_memo):
    src = spark.range(3)
    assert caching.memo("v", src, lambda: 42) == 42
    frame = caching.memo("f", src, lambda: src.selectExpr("id * 2 AS x"), frame=True)
    assert frame.storageLevel.useMemory or frame.storageLevel.useDisk
    assert caching.memo("f", src, None) is frame
    caching.release_tracked()
    assert caching.memo("v", src, None) == 42, "values survive release_tracked"
    assert caching.memo("f", src, None) is None, "frames do not"
    caching.clear_value_memos()
    assert caching._MEMO == {}


def test_memo_keyed_on_persisted_file_backed_frame_computes_once(
    spark, tmp_path, fresh_memo
):
    """A persisted frame reports no input files, so a key built from
    input fingerprints alone never hit on it; the plan hash does."""
    p = str(tmp_path / "docs")
    spark.range(20).write.parquet(p)
    sh = caching.persist_tracked(spark.read.parquet(p).selectExpr("id AS doc_id"))
    sh.count()
    calls = []

    def estimate():
        calls.append(1)
        return 3

    try:
        assert caching.memo("estimate", sh, estimate) == 3
        assert caching.memo("estimate", sh, estimate) == 3
        assert calls == [1]
    finally:
        caching.release_tracked()


def test_scratch_passes_rounds_up_past_the_budget():
    budget = caching.SCRATCH_BUDGET_BYTES
    assert caching.scratch_passes(0) == 1
    assert caching.scratch_passes(budget) == 1
    assert caching.scratch_passes(budget + 1) == 2
