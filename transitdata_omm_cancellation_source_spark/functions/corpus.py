"""Shared planted-duplicate corpus construction for the dedup and
corpus-prep operator families.

Lives under ``functions/`` so the two operator families share it
without one operator module importing the other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import (
    artifact_cache_key,
    persist_tracked,
    register_artifact_frame_cache,
    replace_plan_artifact,
)
from . import text as X
from .wordhash_kernel import with_word_hashes

#: Session cache for the shared tokenize+hash frame over the RAW
#: documents table (the dedup family's _FRAME_CACHE discipline);
#: registered so release_tracked clears it with its data.
_DOC_WORDS_CACHE: dict[tuple, object] = register_artifact_frame_cache({})


def doc_words_frame(t) -> DataFrame:
    """Persisted (doc_id, ws, wh, jh) of the raw documents table — the
    ONE tokenize-and-hash pass shared by every text operator that
    consumes the word stream of the raw corpus (r15; guide §1.2 don't
    recompute).

    Before r15 each consumer re-ran the regex tokenize (and the
    span-prune pair additionally re-ran the per-word char folds, twice
    each) over the documents scan; now the corpus text is tokenized and
    char-folded exactly once per session and every consumer reads the
    persisted arrays (columnar cache prunes to the columns actually
    read, so ws-only consumers never touch wh).  ``wh`` is stored
    ARRAY<INT> (values < HASH_MOD = 2^31 - 1, exact narrowing — halves
    the cached bytes); gram-key folds re-widen via explicit CAST AS
    BIGINT so the 62-bit key arithmetic is unchanged.

    r16: the hashes come from the vectorized Arrow kernel
    (``functions.wordhash_kernel``, guide §4.2) instead of the
    interpreted ``aggregate(split(t, ''), ...)`` char fold — values
    bit-identical (pinned in tests/test_wordhash_kernel.py), build cost
    per corpus byte ~3x lower.  ``jh`` is the BIGINT polyhash of the
    space-joined words (== ``polyhash(array_join(ws, ' '))``), computed
    in the same kernel pass for the fingerprint consumer."""
    docs = t["documents"]
    spark = docs.sparkSession
    app_id, plan_hash, files = artifact_cache_key(spark, docs)
    key = (("doc_words", app_id), plan_hash, files)
    df = _DOC_WORDS_CACHE.get(key)
    if df is None:
        df = persist_tracked(
            with_word_hashes(
                docs.select("doc_id", X.words("text").alias("ws")),
                joined_col="jh",
            )
        )
        replace_plan_artifact(_DOC_WORDS_CACHE, key, df)
    return df


#: planted sub-shingle-length document: 2 words < the k=3 shingle
#: window, so every shingle/minhash path must take its empty-array
#: guard (functions/text.py word_shingles / shingle_hashes /
#: shingles_from_word_hashes) on driver-oracle runs, not only in unit
#: tests.  The id sits far above the dup-copy range (doc_id + 1e6).
SHORT_DOC_ID = 2_000_000
SHORT_DOC_TEXT = "tiny doc"


def planted_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ perturbed copies of every 10th doc (id + 1e6)
    ∪ one sub-shingle-length document (guard-path coverage)."""
    dups = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" corpusmarker")).alias("text"),
    )
    short = docs.limit(1).select(
        F.lit(SHORT_DOC_ID).cast("long").alias("doc_id"),
        F.lit(SHORT_DOC_TEXT).alias("text"),
    )
    return docs.select("doc_id", "text").unionAll(dups).unionAll(short)


#: DuckDB form of the same construction (oracle CTE body).
CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text || ' corpusmarker' AS text
    FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT CAST({SHORT_DOC_ID} AS BIGINT) AS doc_id,
           '{SHORT_DOC_TEXT}' AS text
"""
