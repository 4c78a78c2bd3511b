"""Pins for the r15 shared-frame optimizations: the corpus tokenize
frame (functions.corpus.doc_words_frame) and the PQ packed-code
assignment (operators.pq._shared_packed_codes).

Both are session artifacts in the _family_frame discipline: built
once, served as the SAME object to every consumer, values identical
to the per-query derivations they replaced, and released (with their
persisted data) by release_tracked so a bench pass can never carry
them across runs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from transitdata_omm_cancellation_source_spark.caching import release_tracked
from transitdata_omm_cancellation_source_spark.catalog import load_tables
from transitdata_omm_cancellation_source_spark.functions import text as X
from transitdata_omm_cancellation_source_spark.functions.corpus import (
    doc_words_frame,
)

SF = "/root/testdata/sf0.001"


def test_doc_words_frame_is_shared_and_released(spark):
    t = load_tables(spark, SF)
    a = doc_words_frame(t)
    b = doc_words_frame(t)
    assert a is b, "second call must serve the same session artifact"
    release_tracked()
    c = doc_words_frame(t)
    assert c is not a, "release_tracked must evict the frame"
    release_tracked()


def test_doc_words_frame_matches_per_query_derivation(spark):
    t = load_tables(spark, SF)
    dw = doc_words_frame(t)
    # dtype pin: the narrowing to ARRAY<INT> must stay exact
    assert dict(dw.dtypes)["wh"] == "array<int>"
    old = t["documents"].select(
        "doc_id",
        X.words("text").alias("ws"),
        X.word_hashes("text").alias("wh"),
    )
    new = dw.select(
        "doc_id", "ws", F.col("wh").cast("array<bigint>").alias("wh")
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    release_tracked()


def test_pq_packed_codes_shared_and_width_independent(spark):
    import transitdata_omm_cancellation_source_spark.operators.pq as pq

    t = load_tables(spark, SF)
    vecs = pq._vectors(t)
    cent = pq._shared_codebook(spark, vecs)
    a = pq._shared_packed_codes(spark, t)
    b = pq._shared_packed_codes(spark, t)
    assert a is b, "second consumer must serve the same assignment frame"
    # codes are per-row argmins: any kernel width yields identical rows
    wide = pq._encode(vecs, cent, width=spark.sparkContext.defaultParallelism)
    narrow = pq._encode(vecs, cent, width=1)
    assert narrow.exceptAll(wide).count() == 0
    assert wide.exceptAll(narrow).count() == 0
    # the shared frame itself matches the direct encode
    assert a.exceptAll(wide).count() == 0
    release_tracked()
    c = pq._shared_packed_codes(spark, t)
    assert c is not a, "release_tracked must evict the assignment frame"
    release_tracked()
