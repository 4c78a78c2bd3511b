"""Pins for the shared corpus tokenize frame
(functions.corpus.doc_words_frame).

It is a session artifact in the _family_frame discipline: built once,
served as the SAME object to every consumer, values identical to the
per-query derivations it replaced, and released (with its persisted
data) by release_tracked so a bench pass can never carry it across
runs.  The vector index frame has the same pins in
tests/test_vector_index.py.
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
