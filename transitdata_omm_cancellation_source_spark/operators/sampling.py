"""Deterministic corpus-sampling operators over ``documents``.

Training-data pipelines rarely train on the raw crawl mix — they
*re-weight* it.  Two standard shapes, both reproducible run-to-run
(pure hash arithmetic, no RNG state):

- ``corpus_mixture_sample``:  per-source Bernoulli downsampling to a
  configured mixture (the "data mixing" step: e.g. keep all of a
  high-quality source, 10 % of a noisy one).  Keep/drop is decided by
  ``polyhash(normalized_text) % 1000 < rate``, so the decision is a
  property of the *content*: byte-identical duplicates get one fate
  regardless of which source shard they sit in, and re-runs are
  byte-stable.  Each kept row carries its inverse-probability weight
  so downstream token accounting can de-bias.

- ``corpus_stratified_split``: per-stratum (language) proportional
  train/val/test assignment with exact integer quotas — small strata
  get their proportional share by construction, which a global
  Bernoulli split does not guarantee.  Rank-within-stratum is ordered
  by (content hash, doc_id), so the assignment is deterministic and
  content-stable; quota edges use pure integer arithmetic
  (``rn * 10 <= n * 8``), no float rounding anywhere.

Scale notes (100 TB): mixture sampling is a shuffle-free per-row map
(hash + CASE) — perfectly parallel per parquet split.  The stratified
split shuffles once on the stratum key; strata counts come from a
window over the same shuffle (no second pass).  With a handful of
languages the per-stratum partitions are large — at real scale the
same plan holds with AQE skew splitting on the hot stratum, because
rank-within-stratum is the only order-sensitive step and it sorts
within the stratum partition only.

The reference has no sampling operators (SURVEY §2.5 notes GROUP BY
never appears in its SQL); this module is north-star surface per
BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as X
from ..functions.wordhash_kernel import with_joined_polyhash
from ..plans.registry import registered_query as _q

_WORDS_D = X.WORDS_D  # DuckDB-side words("text"); single source in functions/text
_NORM_TEXT_D = f"array_to_string({_WORDS_D}, ' ')"
_NORM_TEXT_S = X.NORM_TEXT_S  # single source in functions/text

_POLY_D = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(string_split({expr}, ''), x -> CAST(ascii(x) AS BIGINT))),"
    f" (acc, x) -> (acc * 31 + x) % {X.HASH_MOD})"
)


# --- per-source mixture sampling --------------------------------------------

#: Target keep-rates in per-mille, keyed by source.  A real pipeline
#: reads this from config; the spread below exercises keep-all,
#: heavy, and light downsampling plus the default for unlisted
#: sources.
MIXTURE_PERMILLE: dict[str, int] = {
    "src0": 1000,
    "src1": 900,
    "src2": 750,
    "src3": 600,
    "src4": 500,
    "src5": 400,
    "src6": 300,
    "src7": 200,
    "src8": 150,
    "src9": 100,
}
_DEFAULT_PERMILLE = 250


def _rate_case_sql() -> str:
    whens = " ".join(
        f"WHEN source = '{s}' THEN {r}" for s, r in MIXTURE_PERMILLE.items()
    )
    return f"CASE {whens} ELSE {_DEFAULT_PERMILLE} END"


def _rate_col() -> F.Column:
    c = F
    expr = None
    for s, r in MIXTURE_PERMILLE.items():
        expr = (
            c.when(F.col("source") == s, r)
            if expr is None
            else expr.when(F.col("source") == s, r)
        )
    return expr.otherwise(_DEFAULT_PERMILLE)


@_q(
    "corpus_mixture_sample",
    "north-star sampling: per-source mixture downsampling (content-hash Bernoulli)",
    f"""
    WITH rated AS (
        SELECT doc_id, source,
               CAST({_POLY_D.format(expr=_NORM_TEXT_D)} % 1000 AS INTEGER) AS bucket,
               {_rate_case_sql()} AS rate_permille
        FROM documents
    )
    SELECT doc_id, source, bucket, rate_permille,
           round(1000.0 / rate_permille, 6) AS sample_weight
    FROM rated
    WHERE bucket < rate_permille
    """,
)
def _mixture_sample(spark, t):
    # r16: the content hash comes from the vectorized Arrow kernel
    # (bit-identical to polyhash(array_join(words(text), ' ')) —
    # tests/test_wordhash_kernel.py); tokenize stays JVM codegen, the
    # per-char fold no longer runs interpreted, and only (doc_id,
    # source, h) leave the Python worker.
    hashed = with_joined_polyhash(
        t["documents"].select("doc_id", "source", X.words("text").alias("ws"))
    )
    rate = _rate_col()
    return (
        hashed.select(
            "doc_id",
            "source",
            (F.col("h") % 1000).cast("int").alias("bucket"),
            rate.alias("rate_permille"),
        )
        .filter(F.col("bucket") < F.col("rate_permille"))
        .withColumn(
            "sample_weight",
            F.round(F.lit(1000.0) / F.col("rate_permille"), 6),
        )
    )


# --- per-language stratified split ------------------------------------------

#: train/val/test deciles: rn*10 <= n*8 -> train, <= n*9 -> val.
_TRAIN_DECILES, _VAL_DECILES = 8, 9


@_q(
    "corpus_stratified_split",
    "north-star sampling: per-language stratified split (exact integer quotas)",
    f"""
    WITH ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY {_POLY_D.format(expr=_NORM_TEXT_D)}, doc_id
               ) AS rn,
               count(*) OVER (PARTITION BY lang) AS n_stratum
        FROM documents
    )
    SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn,
           CAST(n_stratum AS BIGINT) AS n_stratum,
           CASE WHEN rn * 10 <= n_stratum * {_TRAIN_DECILES} THEN 'train'
                WHEN rn * 10 <= n_stratum * {_VAL_DECILES} THEN 'val'
                ELSE 'test' END AS split
    FROM ranked
    """,
)
def _stratified_split(spark, t):
    # r16: content hash from the Arrow kernel (see _mixture_sample) —
    # additionally, the stratum exchange now ships (doc_id, lang, h)
    # instead of carrying text to a post-shuffle hash evaluation
    # (guide §2.3 project before the exchange).
    hashed = with_joined_polyhash(
        t["documents"].select("doc_id", "lang", X.words("text").alias("ws"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("h").asc(), F.col("doc_id").asc()
    )
    wn = Window.partitionBy("lang")
    rn = F.row_number().over(w).cast("bigint")
    n = F.count(F.lit(1)).over(wn).cast("bigint")
    return (
        hashed.select(
            "doc_id",
            "lang",
            rn.alias("rn"),
            n.alias("n_stratum"),
        )
        .withColumn(
            "split",
            F.when(F.col("rn") * 10 <= F.col("n_stratum") * _TRAIN_DECILES, "train")
            .when(F.col("rn") * 10 <= F.col("n_stratum") * _VAL_DECILES, "val")
            .otherwise("test"),
        )
    )
