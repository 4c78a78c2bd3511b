"""Tokenizer-training statistics over ``documents``.

Two corpus-scale primitives a training-data pipeline runs before any
model sees a byte:

- ``corpus_bpe_pair_counts``: the inner statistic of byte-pair-encoding
  tokenizer training (Sennrich et al. 2016) — adjacent-symbol pair
  frequencies weighted by word frequency.  The classic distributed
  shape: first collapse the corpus to a (word, freq) vocabulary (the
  map-side-combinable aggregation that turns 10^11 tokens into 10^5
  rows), then expand each DISTINCT word into its character pairs and
  weight by freq.  The expensive explode runs over the vocabulary, not
  the corpus — the reason BPE training is tractable at 100 TB.

- ``corpus_bigram_pmi``: collocation mining — pointwise mutual
  information over adjacent word pairs,
  ``pmi = ln(c_xy) - ln(B) - ln(c_x) - ln(c_y) + 2 ln(T)``
  with a minimum pair count.  The association-scoring step behind
  phrase vocabularies (word2phrase) and boilerplate lexicons, distinct
  from ``corpus_ngram_topk``'s raw counts.

Determinism: all counts are exact BIGINTs; the only transcendental is
``ln``, and every ``ln`` is quantized ``round(.., 9)`` BEFORE the +/-
chain (Spark's Math.log and libm differ by 1 ulp on ~3 % of inputs —
the measured pattern from ``retrieval.py``), and the chain itself is
written left-associatively in byte-identical SQL for both engines, so
the IEEE double arithmetic is exact and engine-independent.

Scale notes: BPE pair counting shuffles twice, both map-side-combined
— corpus tokens -> vocabulary (bounded by vocab size), vocabulary
pairs -> pair table (bounded by symbol-pair space).  PMI shuffles the
corpus bigram explode once (combinable), then joins the bigram table
to the unigram table on each side — equi-joins on the word key, AQE-
broadcastable when the vocabulary side fits; the corpus totals join is
a 1-row broadcast.  Both top-ks compile to TakeOrdered (no global
sort).  The reference has no tokenizer surface (it is a cancellation
ETL, `OmmCancellationHandler.java:106-166`); this module is
north-star surface per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import text as X
from ..functions.corpus import doc_words_frame
from ..plans.registry import registered_query as _q

_WORDS_D = X.WORDS_D  # DuckDB-side words("text"); single source in functions/text

_BPE_TOPK = 50
_PMI_TOPK = 100
_PMI_MIN_COUNT = 5


# --- BPE pair statistics ----------------------------------------------------


@_q(
    "corpus_bpe_pair_counts",
    "north-star tokenizer: BPE adjacent-pair statistics over the "
    "(word, freq) vocabulary",
    f"""
    WITH wf AS (
        SELECT word, count(*) AS freq
        FROM (SELECT unnest({_WORDS_D}) AS word FROM documents)
        GROUP BY word
    ),
    pairs AS (
        SELECT word, freq,
               unnest(list_transform(range(1, length(word)),
                      i -> substr(word, i, 2))) AS pair
        FROM wf WHERE length(word) >= 2
    )
    SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count,
           CAST(count(DISTINCT word) AS BIGINT) AS n_words_with_pair
    FROM pairs GROUP BY pair
    ORDER BY pair_count DESC, pair
    LIMIT {_BPE_TOPK}
    """,
)
def _bpe_pair_counts(spark, t):
    # Corpus -> vocabulary first: the token explode aggregates with
    # map-side combine down to |vocab| rows, and the per-character
    # pair explode then runs over DISTINCT words only — each pair
    # occurrence votes with the word's corpus frequency.  A length-1
    # word has no pairs; the >= 2 filter also keeps Spark's
    # sequence(1, 0) from generating a DESCENDING range.
    vocab = (
        doc_words_frame(t)
        .select(F.explode("ws").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pair_list = F.expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"
    )
    return (
        vocab.filter(F.length("word") >= 2)
        .select("word", "freq", F.explode(pair_list).alias("pair"))
        .groupBy("pair")
        .agg(
            F.sum("freq").alias("pair_count"),
            F.countDistinct("word").alias("n_words_with_pair"),
        )
        .orderBy(F.col("pair_count").desc(), F.col("pair"))
        .limit(_BPE_TOPK)
    )


# --- PMI collocations -------------------------------------------------------

#: The PMI chain, shared verbatim by both dialects (`ln` and `round`
#: parse identically in Spark SQL and DuckDB): each log quantized to 9
#: decimals, then a fixed left-associative +/- chain, final round(6).
_PMI_EXPR = (
    "round(((round(ln(CAST(pair_count AS DOUBLE)), 9)"
    " - round(ln(CAST(b_total AS DOUBLE)), 9))"
    " - round(ln(CAST(cx AS DOUBLE)), 9)"
    " - round(ln(CAST(cy AS DOUBLE)), 9))"
    " + 2 * round(ln(CAST(t_total AS DOUBLE)), 9), 6)"
)

_BIGRAMS_D = f"""
    bg AS (
        SELECT unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                      i -> w[i] || ' ' || w[i + 1])) AS bigram
        FROM (SELECT {_WORDS_D} AS w FROM documents)
    )
"""


@_q(
    "corpus_bigram_pmi",
    "north-star tokenizer: PMI-scored collocations (quantized-log "
    "determinism, min-count gate)",
    f"""
    WITH {_BIGRAMS_D},
    bgc AS (
        SELECT bigram,
               split_part(bigram, ' ', 1) AS x,
               split_part(bigram, ' ', 2) AS y,
               count(*) AS pair_count
        FROM bg GROUP BY bigram
    ),
    uni AS (
        SELECT word, count(*) AS c
        FROM (SELECT unnest({_WORDS_D}) AS word FROM documents)
        GROUP BY word
    ),
    totals AS (
        SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS t_total,
               (SELECT CAST(count(*) AS BIGINT) FROM bg) AS b_total
    )
    SELECT bigram, CAST(pair_count AS BIGINT) AS pair_count,
           {_PMI_EXPR} AS pmi
    FROM (SELECT b.bigram, b.pair_count, ux.c AS cx, uy.c AS cy,
                 t.t_total, t.b_total
          FROM bgc b
          JOIN uni ux ON ux.word = b.x
          JOIN uni uy ON uy.word = b.y
          CROSS JOIN totals t
          WHERE b.pair_count >= {_PMI_MIN_COUNT})
    ORDER BY pmi DESC, bigram
    LIMIT {_PMI_TOPK}
    """,
)
def _bigram_pmi(spark, t):
    words = doc_words_frame(t).select(F.col("ws").alias("__w"))
    bigram_list = F.expr(
        "CASE WHEN size(__w) >= 2 THEN"
        " transform(sequence(1, size(__w) - 1),"
        " i -> concat(element_at(__w, i), ' ', element_at(__w, i + 1)))"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    bg = words.select(F.explode(bigram_list).alias("bigram"))
    bgc = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .withColumn("x", F.expr("split_part(bigram, ' ', 1)"))
        .withColumn("y", F.expr("split_part(bigram, ' ', 2)"))
        .filter(F.col("pair_count") >= _PMI_MIN_COUNT)
    )
    uni = (
        doc_words_frame(t)
        .select(F.explode("ws").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # corpus totals: one row, broadcast — T from the unigram table, B
    # re-counted from the bigram explode (NOT sum(pair_count) post
    # min-count filter, which would undercount).
    totals = F.broadcast(
        uni.agg(F.sum("c").cast("bigint").alias("t_total")).crossJoin(
            bg.agg(F.count(F.lit(1)).cast("bigint").alias("b_total"))
        )
    )
    joined = (
        bgc.join(uni.withColumnRenamed("word", "x").withColumnRenamed("c", "cx"), "x")
        .join(uni.withColumnRenamed("word", "y").withColumnRenamed("c", "cy"), "y")
        .crossJoin(totals)
    )
    return (
        joined.select(
            "bigram",
            F.col("pair_count").cast("bigint").alias("pair_count"),
            F.expr(_PMI_EXPR).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("bigram"))
        .limit(_PMI_TOPK)
    )


# --- heavy hitters with a Misra-Gries-style coverage contract ---------------

#: An item whose share exceeds _HH_SHARE is a certified heavy hitter;
#: the sketch runs at the looser _HH_SUPPORT so the Misra-Gries
#: guarantee (every item with share > support is retained in a 1/support
#: summary) covers the certified set with margin.
_HH_SHARE = 0.01
_HH_SUPPORT = 0.005


@_q(
    "corpus_word_freqitems",
    "north-star 100 TB path: one-pass Misra-Gries heavy hitters "
    "(freqItems) with the coverage contract hash-certified",
    f"""
    WITH w AS (SELECT unnest({_WORDS_D}) AS word FROM documents),
    c AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM w)
    SELECT word, CAST(cnt AS BIGINT) AS cnt,
           round(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
           TRUE AS in_sketch
    FROM c CROSS JOIN tot
    WHERE CAST(cnt AS DOUBLE) > {_HH_SHARE} * CAST(total AS DOUBLE)
    """,
)
def _word_freqitems(spark, t):
    # The exact per-word count needs a full groupBy shuffle; the
    # Misra-Gries summary (``freqItems``) replaces it with a bounded
    # 1/support-slot map per partition merged pairwise — ONE pass,
    # fixed memory, no shuffle of the word space: the 100 TB shape.
    # Summary CONTENTS are partition-order-specific (false positives
    # vary), so they can't be hash-compared; the COVERAGE GUARANTEE can:
    # every word with share > support must be retained.  The query
    # certifies exactly that — the exact heavy-hitter set (shares are
    # Zipf-stable across corpus scale, so the certified set is too)
    # with a per-word ``in_sketch`` boolean the driver's value hash
    # covers; the oracle asserts TRUE.  CONTRACTUALLY EAGER: freqItems
    # materializes its one-row summary at build time.
    tokens = doc_words_frame(t).select(F.explode("ws").alias("word"))
    counts = tokens.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = F.broadcast(tokens.agg(F.count(F.lit(1)).cast("bigint").alias("total")))
    sketch_words = (
        tokens.stat.freqItems(["word"], _HH_SUPPORT)
        .select(F.explode("word_freqItems").alias("word"))
        .withColumn("in_sketch", F.lit(True))
    )
    return (
        counts.crossJoin(total)
        .filter(F.col("cnt").cast("double") > _HH_SHARE * F.col("total").cast("double"))
        .join(F.broadcast(sketch_words), "word", "left")
        .select(
            "word",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.round(F.col("cnt").cast("double") / F.col("total").cast("double"), 6).alias("share"),
            F.coalesce("in_sketch", F.lit(False)).alias("in_sketch"),
        )
    )
