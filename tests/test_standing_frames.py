"""Disk-persisted STANDING INDEXES for the incremental-dedup family
(r14 verdict #1): the band index, shingle sets and embedding
assignment frame live as parquet artifacts keyed by source-file
fingerprints, the builder's source and the package's source, so a FRESH
session's first delta batch LOADS the corpus index instead of
re-paying its build — and a corpus rewrite is a key miss.
"""

from __future__ import annotations

import os
import shutil

import pytest

import transitdata_omm_cancellation_source_spark.artifacts as artifacts
from transitdata_omm_cancellation_source_spark.artifacts import (
    ARTIFACT_DIR_CONF,
    load_or_build_frame,
)
from transitdata_omm_cancellation_source_spark.caching import release_tracked
from transitdata_omm_cancellation_source_spark.operators.dedup_fuzzy import (
    _cosine_vb,
    _family_frame,
    _minhash_shingles,
)

from conftest import SF_SMOKE


@pytest.fixture()
def artifact_dir(spark, tmp_path):
    """Point the artifact root at a per-test dir and clear the
    in-session frame cache around it, so each test sees a cold disk."""
    prior = spark.conf.get(ARTIFACT_DIR_CONF, "")
    spark.conf.set(ARTIFACT_DIR_CONF, str(tmp_path / "artifacts"))
    release_tracked()
    yield str(tmp_path / "artifacts")
    release_tracked()
    if prior:
        spark.conf.set(ARTIFACT_DIR_CONF, prior)
    else:
        spark.conf.unset(ARTIFACT_DIR_CONF)


def _tables(spark):
    return {
        "documents": spark.read.parquet(f"{SF_SMOKE}/documents.parquet"),
        "embeddings": spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet"),
    }


def _builds(monkeypatch):
    calls = []
    orig = artifacts._invoke_build

    def guard(build):
        calls.append(build)
        return orig(build)

    monkeypatch.setattr(artifacts, "_invoke_build", guard)
    return calls


def test_fresh_session_loads_standing_index(spark, artifact_dir, monkeypatch):
    """First build publishes; a 'fresh session' (in-session caches
    cleared) serves the SAME rows from disk with ZERO builder
    invocations — the load-not-rebuild contract."""
    calls = _builds(monkeypatch)
    t = _tables(spark)
    first = _minhash_shingles(t)
    rows = first.count()
    assert len(calls) == 1  # cold disk: built exactly once

    release_tracked()  # simulate the fresh session: no frame objects,
    # no persisted data — only the disk artifact remains
    again = _minhash_shingles(_tables(spark))
    assert again.count() == rows
    assert len(calls) == 1  # served from disk, builder never re-ran

    # value-identity, not just count: the loaded frame IS the built one
    assert sorted(map(tuple, again.collect())) == sorted(
        map(tuple, first.collect())
    )


def test_embedding_assignment_frame_loads(spark, artifact_dir, monkeypatch):
    calls = _builds(monkeypatch)
    t = _tables(spark)
    rows = _cosine_vb(spark, t).count()
    built_cold = len(calls)
    assert built_cold >= 1
    release_tracked()
    assert _cosine_vb(spark, _tables(spark)).count() == rows
    assert len(calls) == built_cold  # disk hit


def test_corpus_rewrite_is_a_key_miss(spark, tmp_path, monkeypatch):
    """Same path, rewritten bytes -> different fingerprints -> the
    standing index is REBUILT, never served stale."""
    spark.conf.set(ARTIFACT_DIR_CONF, str(tmp_path / "artifacts"))
    try:
        corpus = tmp_path / "docs"
        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        docs.write.parquet(str(corpus))
        calls = _builds(monkeypatch)
        release_tracked()

        def t():
            return {"documents": spark.read.parquet(str(corpus))}

        _minhash_shingles(t()).count()
        assert len(calls) == 1

        # rewrite the corpus in place (drop half the docs)
        half = docs.filter("doc_id % 2 = 0")
        tmp_out = tmp_path / "docs2"
        half.write.parquet(str(tmp_out))
        shutil.rmtree(corpus)
        os.rename(tmp_out, corpus)

        release_tracked()
        n2 = _minhash_shingles(t()).count()
        assert len(calls) == 2  # rewrite missed the cache
        assert n2 < docs.count() * 2  # rebuilt over the smaller corpus
    finally:
        release_tracked()
        spark.conf.unset(ARTIFACT_DIR_CONF)


def test_builder_edit_is_a_key_miss(spark, artifact_dir, monkeypatch):
    """Two different build recipes over the same source publish two
    different digests — the builder-source staleness contract
    applied to frame artifacts."""
    t = _tables(spark)
    src = t["documents"]

    def make(limit):
        return lambda: src.select("doc_id").limit(limit)

    a = load_or_build_frame(spark, "probe_frame", src, make(3))
    b = load_or_build_frame(spark, "probe_frame", src, make(5))
    assert a.count() == 3 and b.count() == 5
    digests = os.listdir(os.path.join(artifact_dir, "probe_frame"))
    assert len(digests) == 2


def test_publish_evicts_old_digests(spark, artifact_dir):
    src = _tables(spark)["documents"]
    keep = artifacts._FRAME_KEEP_DIGESTS
    for i in range(keep + 2):
        df = load_or_build_frame(
            spark, "evict_probe", src, (lambda k: lambda: src.limit(k))(i + 1)
        )
        assert df.count() == i + 1
    digests = os.listdir(os.path.join(artifact_dir, "evict_probe"))
    assert len(digests) == keep
    # the newest artifact is among the survivors (served, not evicted)
    newest = load_or_build_frame(
        spark, "evict_probe", src, (lambda k: lambda: src.limit(k))(keep + 2)
    )
    assert newest.count() == keep + 2


def test_full_scan_intermediates_stay_in_session(spark, artifact_dir):
    """band_candidates / verified pairs are query output mass, not
    standing state — they must NOT publish disk artifacts."""
    from transitdata_omm_cancellation_source_spark.operators.dedup_fuzzy import (
        _band_candidates,
    )

    t = _tables(spark)
    _band_candidates(t).count()
    published = (
        os.listdir(artifact_dir) if os.path.isdir(artifact_dir) else []
    )
    assert "band_candidates" not in published


def test_fileless_corpus_builds_in_session_without_collision(
    spark, artifact_dir, monkeypatch
):
    """createDataFrame corpora have no input files, so the disk key
    cannot see their data — they must build in-session (plan-hash
    keyed), never publish, and never collide with each other."""
    a = spark.createDataFrame([(1, "alpha beta gamma delta")], "doc_id long, text string")
    b = spark.createDataFrame(
        [(1, "epsilon zeta eta theta"), (2, "iota kappa lambda mu")],
        "doc_id long, text string",
    )
    # (the family frames run over the PLANTED corpus, which adds
    # perturbed copies — the exact counts don't matter here, only that
    # the two corpora get DIFFERENT frames, not one shared digest)
    na = _minhash_shingles({"documents": a}).count()
    nb = _minhash_shingles({"documents": b}).count()
    assert na < nb
    published = (
        os.listdir(artifact_dir) if os.path.isdir(artifact_dir) else []
    )
    assert "shingle_sets" not in published
    # called directly, a fileless source builds and publishes nothing
    calls = _builds(monkeypatch)
    assert load_or_build_frame(spark, "bad", a, lambda: a).count() == 1
    assert len(calls) == 1
    published = (
        os.listdir(artifact_dir) if os.path.isdir(artifact_dir) else []
    )
    assert "bad" not in published
