"""Bucket-count and salt-width invariance for the blocked scans.

The bucket-pair (triangle) pair scans come first.

The pair-dedup scans (``corpus_semdedup``, ``dedup_embedding_cosine``)
run the bucket-PAIR cogroup (operators/pairscan.py): per block the ids
split into ``nb`` buckets and the (lo <= hi) bucket pairs cogroup, with
the claim that every unordered pair lands in exactly one task — so the
result is exact at ANY bucket count.  These tests force pathological
widths through the sizing hook and require BIT-IDENTICAL results:

- ``nb = 1`` IS the classic single-triangle-per-block scan (one task
  per block, no member side at all), so the 1-vs-adaptive pin is the
  bucket-pair-vs-single-scan EQUIVALENCE proof the r11 verdict asked
  to land next to these pins;
- ``nb = 5`` (not a power of two, wider than the adaptive sizing would
  ever pick at this scale) exercises diagonal + off-diagonal tasks and
  the id-orientation path.

The six bucket-confined kNN searches come last: they salt-split each
bucket or cell's members and replicate the queries across the salts,
keep each group's local top-k, and merge the survivors in one window.
Top-k is distributive over a partition of the candidate set, so every
salt width must give the same rows, bit for bit.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from transitdata_omm_cancellation_source_spark.catalog import load_tables
from transitdata_omm_cancellation_source_spark.operators.dedup_fuzzy import (
    _embedding_neardup,
)
from transitdata_omm_cancellation_source_spark.operators.semdedup import (
    _semdedup,
)
from transitdata_omm_cancellation_source_spark.plans.queries import REGISTRY

from conftest import SF_SMOKE


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _force_nb(monkeypatch, width):
    import transitdata_omm_cancellation_source_spark.operators.pairscan as ps

    if width is None:
        return  # adaptive: the module's own occupancy-sized CASE chain
    monkeypatch.setattr(
        ps,
        "_nb_for_occupancy_col",
        lambda occ, mode, _w=width: F.lit(_w).cast("int"),
    )


@pytest.mark.parametrize(
    "fn", [_semdedup, _embedding_neardup], ids=lambda f: f.__name__
)
def test_scan_result_is_bucket_count_invariant(spark, fn, monkeypatch):
    t = load_tables(spark, SF_SMOKE)
    results = []
    for width in (1, 5, None):
        with monkeypatch.context() as m:
            _force_nb(m, width)
            results.append(_rows(fn(spark, t)))
    assert results[0] == results[1] == results[2]
    assert results[0]  # non-vacuous: the planted duplicates must appear


def test_nb_sizing_column_mirrors_python_reference(spark):
    """Both sizing regimes, boundary-exact against a Python mirror:
    pairs mode == similarity._nsalt_for_occupancy (shared constants); counts
    mode holds at the NB_PAR parallelism floor until occupancy
    outgrows NB_PAR buckets of COUNT_BUCKET_ROWS (the measured
    mega-cell shuffle-bytes fix), then grows to the cap."""
    from transitdata_omm_cancellation_source_spark.operators import pairscan as ps
    from transitdata_omm_cancellation_source_spark.operators.similarity import (
        _nsalt_for_occupancy,
    )

    def counts_ref(occ: int) -> int:
        small = min(ps.NB_PAR, _nsalt_for_occupancy(occ))
        big = 1
        while (
            occ / big > ps.COUNT_BUCKET_ROWS and big < ps.PAIR_MAX_BUCKETS
        ):
            big *= 2
        return max(small, big)

    occs = [
        1,
        ps.PAIR_GROUP_TARGET - 1,
        ps.PAIR_GROUP_TARGET,
        ps.PAIR_GROUP_TARGET + 1,
        2 * ps.PAIR_GROUP_TARGET,
        2 * ps.PAIR_GROUP_TARGET + 1,
        17 * ps.PAIR_GROUP_TARGET,
        ps.NB_PAR * ps.PAIR_GROUP_TARGET + 1,
        ps.COUNT_BUCKET_ROWS,
        ps.COUNT_BUCKET_ROWS + 1,
        481_760,  # the measured sf125 hottest cell
        ps.NB_PAR * ps.COUNT_BUCKET_ROWS,
        ps.NB_PAR * ps.COUNT_BUCKET_ROWS + 1,
        ps.PAIR_MAX_BUCKETS * ps.PAIR_GROUP_TARGET,
        ps.PAIR_MAX_BUCKETS * ps.PAIR_GROUP_TARGET + 1,
        ps.PAIR_MAX_BUCKETS * ps.COUNT_BUCKET_ROWS + 1,
        10**9,
    ]
    df = spark.createDataFrame([(o,) for o in occs], "occ long").select(
        "occ",
        ps._nb_for_occupancy_col(F.col("occ"), "pairs").alias("nb_pairs"),
        ps._nb_for_occupancy_col(F.col("occ"), "counts").alias("nb_counts"),
    )
    rows = {r["occ"]: (r["nb_pairs"], r["nb_counts"]) for r in df.collect()}
    for o in occs:
        assert rows[o][0] == _nsalt_for_occupancy(o), o
        assert rows[o][1] == counts_ref(o), o
    # the fix itself: the measured hottest sf125 cell must sit at the
    # parallelism floor, not the cap
    assert rows[481_760][1] == ps.NB_PAR


#: the searches that run the salted per-(key, salt) top-k scan
SEARCHES = (
    "knn_lsh_hyperplane",
    "knn_lsh_multiprobe",
    "knn_ivf_kmeans",
    "knn_pq_adc",
    "knn_pq_refine",
    "knn_ivfpq_adc",
)


def _bits(df):
    """Sorted rows with every double as its ``float.hex`` bit pattern."""
    return sorted(
        tuple(v.hex() if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


def _force_nsalt(monkeypatch, width, calls):
    """Force the width ``salted_topk_scan`` takes, recording each use."""
    from transitdata_omm_cancellation_source_spark.operators import similarity

    def forced(hot):
        calls.append(width)
        return width

    monkeypatch.setattr(similarity, "_nsalt_for_occupancy", forced)


@pytest.mark.parametrize("name", SEARCHES)
def test_search_result_is_salt_width_invariant(spark, name, monkeypatch):
    """Widths 1, 3 (not a power of two) and 64 against the adaptive
    width: the same rows and doubles, and not empty."""
    build = REGISTRY[name].build
    adaptive = _bits(build(spark, SF_SMOKE))
    assert adaptive
    for width in (1, 3, 64):
        calls = []
        with monkeypatch.context() as m:
            _force_nsalt(m, width, calls)
            assert _bits(build(spark, SF_SMOKE)) == adaptive, width
        assert calls == [width]  # the scan took its width from the seam


@pytest.mark.parametrize("name", SEARCHES)
def test_search_groups_meet_across_partitions(spark, name, monkeypatch):
    """With AQE's partition coalescing off, the member and query sides
    of every (key, salt) group are hashed over all shuffle partitions,
    so the two sides only meet if their key columns hash alike (an INT
    salt and a BIGINT salt of equal value do not).  Widths 1 and 3."""
    build = REGISTRY[name].build
    coalesced = _bits(build(spark, SF_SMOKE))
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    for width in (1, 3):
        with monkeypatch.context() as m:
            _force_nsalt(m, width, [])
            df = build(spark, SF_SMOKE)  # loading re-applies the engine confs
            spark.conf.set(key, "false")
            try:
                spread = _bits(df)
            finally:
                spark.conf.set(key, "true")
        assert spread == coalesced, width
