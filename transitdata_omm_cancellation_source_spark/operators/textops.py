"""North-star text analysis over the ``documents`` table.

Four operator families: token counting (whitespace + BPE-ish regex),
quality scoring (length/punct/stopword ratios), language ID (marker
n-gram heuristic) and document fingerprinting (md5 + rolling polyhash).
All are single-pass, shuffle-free scans (the only shuffle is the
optional final aggregation) — at 100 TB they parallelize perfectly per
parquet split.  Oracles are generated from the same constants the
Spark expressions use, so parity is structural, not coincidental.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as X
from ..functions.corpus import doc_words_frame
from ..plans.registry import registered_query as _q


_WORDS_D = X.WORDS_D  # DuckDB-side words("text"); single source in functions/text


@_q(
    "text_token_stats",
    "north-star: token counting (whitespace + BPE-ish regex)",
    f"""
    SELECT doc_id,
           len(string_split_regex(text, '\\s+')) AS n_ws_tokens,
           len(regexp_extract_all(text, '{X.BPE_TOKEN_PATTERN}', 0)) AS n_bpe_tokens,
           len({_WORDS_D}) AS n_words,
           length(text) AS n_chars_measured
    FROM documents
    """,
)
def _token_stats(spark, t):
    return t["documents"].select(
        "doc_id",
        X.token_count_ws("text").alias("n_ws_tokens"),
        X.token_count_bpe("text").alias("n_bpe_tokens"),
        F.size(X.words("text")).alias("n_words"),
        F.length("text").alias("n_chars_measured"),
    )


def _stopword_sql() -> str:
    return ", ".join("'" + w + "'" for w in X.STOPWORDS_EN)


@_q(
    "text_quality_score",
    "north-star: document quality scoring (length/punct/stopword ratios)",
    f"""
    SELECT doc_id,
           round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]', 0)) AS DOUBLE)
                 / length(text), 6) AS punct_ratio,
           round(CAST(len(list_filter({_WORDS_D}, x -> x IN ({_stopword_sql()}))) AS DOUBLE)
                 / len({_WORDS_D}), 6) AS stopword_ratio,
           round(CAST(length(text) AS DOUBLE) / len({_WORDS_D}), 6) AS chars_per_word,
           CASE WHEN length(text) >= 100
                 AND CAST(len(list_filter({_WORDS_D}, x -> x IN ({_stopword_sql()}))) AS DOUBLE)
                     / len({_WORDS_D}) >= 0.05
                THEN 'keep' ELSE 'drop' END AS quality_gate
    FROM documents
    WHERE length(text) > 0 AND len({_WORDS_D}) > 0
    """,
)
def _quality(spark, t):
    nw = F.size(X.words("text"))
    sw = X.stopword_ratio("text")
    return (
        t["documents"]
        .filter((F.length("text") > 0) & (nw > 0))
        .select(
            "doc_id",
            F.round(X.punct_ratio("text"), 6).alias("punct_ratio"),
            F.round(sw, 6).alias("stopword_ratio"),
            F.round(F.length("text") / nw, 6).alias("chars_per_word"),
            F.when((F.length("text") >= 100) & (sw >= 0.05), "keep")
            .otherwise("drop")
            .alias("quality_gate"),
        )
    )


def _langid_sql() -> str:
    """DuckDB CASE-chain replicating functions.text.lang_hit_counts /
    lang_from_hits exactly (forward order, strict > , 'und' default)."""
    hits = {
        lang: f"len(list_filter({_WORDS_D}, x -> x IN ({', '.join(chr(39) + m + chr(39) for m in markers)})))"
        for lang, markers in X.LANG_MARKERS.items()
    }
    best, best_score = "'und'", "0"
    for lang, h in hits.items():
        best = f"CASE WHEN {h} > {best_score} THEN '{lang}' ELSE {best} END"
        best_score = f"CASE WHEN {h} > {best_score} THEN {h} ELSE {best_score} END"
    return best


@_q(
    "text_language_id",
    "north-star: n-gram/marker language identification",
    f"""
    SELECT lang_pred, count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM (SELECT doc_id, {_langid_sql()} AS lang_pred FROM documents)
    GROUP BY lang_pred
    """,
)
def _langid(spark, t):
    # tokenize once into a column, then the argmax chain touches only
    # cheap int hit-counts (a one-expression form that inlines the regex
    # in each score re-runs it ~15x per row through the when-chain
    # duplication).
    withw = doc_words_frame(t).select("doc_id", F.col("ws").alias("__w"))
    hits = withw.select(
        "doc_id",
        *[c.alias(f"__h_{lang}") for lang, c in X.lang_hit_counts("__w").items()],
    )
    return (
        hits.select(
            "doc_id",
            X.lang_from_hits(
                {lang: f"__h_{lang}" for lang in X.LANG_MARKERS}
            ).alias("lang_pred"),
        )
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
    )


_POLY_D = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(string_split({expr}, ''), x -> CAST(ascii(x) AS BIGINT))),"
    " (acc, x) -> (acc * 31 + x) % " + str(X.HASH_MOD) + ")"
)


@_q(
    "text_fingerprint",
    "north-star: document fingerprinting (md5 + rolling polyhash)",
    f"""
    SELECT doc_id,
           md5(array_to_string({_WORDS_D}, ' ')) AS fp_md5,
           {_POLY_D.format(expr="array_to_string(" + _WORDS_D + ", ' ')")} AS fp_poly
    FROM documents
    """,
)
def _fingerprint(spark, t):
    # Shared tokenized frame: md5 runs over array_join(ws, ' ') — the
    # exact normalized text the old words("text") forms produced, with
    # the regex tokenize paid once per session instead of twice per
    # build here.  The rolling polyhash is the frame's precomputed
    # ``jh`` column (r16): the joined-text char fold ran interpreted
    # per build; the kernel form is bit-identical
    # (tests/test_wordhash_kernel.py) and already cached.
    return doc_words_frame(t).select(
        "doc_id",
        F.md5(F.array_join("ws", " ")).alias("fp_md5"),
        F.col("jh").alias("fp_poly"),
    )


@_q(
    "text_repetition_score",
    "north-star: repetition-based quality filter (duplicate-word and "
    "top-bigram mass per document, Gopher-style)",
    f"""
    WITH w AS (
        SELECT doc_id, {_WORDS_D} AS ws FROM documents
        WHERE len({_WORDS_D}) > 0
    ),
    g AS (
        SELECT w.doc_id, ws[i] || ' ' || ws[i + 1] AS gram
        FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
    ),
    gc AS (
        SELECT doc_id, CAST(max(c) AS BIGINT) AS top_c,
               CAST(sum(c) AS BIGINT) AS tot_c
        FROM (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
        GROUP BY doc_id
    )
    SELECT w.doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           round(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)
                 / len(ws), 6) AS dup_word_frac,
           round(CAST(COALESCE(gc.top_c, 0) AS DOUBLE)
                 / COALESCE(gc.tot_c, 1), 6) AS top_bigram_frac,
           CASE WHEN round(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)
                           / len(ws), 6) > 0.65
                  OR round(CAST(COALESCE(gc.top_c, 0) AS DOUBLE)
                           / COALESCE(gc.tot_c, 1), 6) > 0.07
                THEN 'drop' ELSE 'keep' END AS repetition_gate
    FROM w LEFT JOIN gc ON gc.doc_id = w.doc_id
    """,
)
def _repetition(spark, t):
    """Gopher-style repetition filters (Rae et al. 2021, §A1.1 — public
    method): documents dominated by repeated words or a single repeated
    n-gram are low-quality for LM training.  Two per-doc statistics:

    - ``dup_word_frac``: 1 - distinct(words)/words — computed entirely
      inside codegen (``array_distinct``/``size``), zero shuffle.
    - ``top_bigram_frac``: mass of the most frequent bigram.  Bigrams
      explode into one map-side-combinable (doc_id, gram) count then a
      per-doc max/sum — two partial-agg shuffles on slim rows, the same
      shape at any corpus size (no per-doc collect, no UDF).

    The gate compares the ROUNDED ratios (both engines round to 6
    before the threshold), so the keep/drop decision is cross-engine
    stable even at a threshold boundary.  Thresholds (0.65 / 0.07) are
    calibrated to this corpus's distribution (short docs over a small
    synthetic vocabulary push dup_word_frac to a 0.54 median — the
    Gopher paper's 0.2-0.3 cutoffs assume natural prose) and sit at
    ~p75-p90, so the gate actually discriminates.
    """
    docs = doc_words_frame(t).select("doc_id", "ws").filter(
        F.size("ws") > 0
    )
    # size >= 2 guard: Spark's sequence(0, size-2) DESCENDS for a
    # single-word doc ([0, -1] → null grams); DuckDB's range is empty.
    grams = docs.filter(F.size("ws") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ws) - 2),"
                " i -> concat(ws[i], ' ', ws[i + 1]))"
            )
        ).alias("gram"),
    )
    gc = (
        grams.groupBy("doc_id", "gram")
        .count()
        .groupBy("doc_id")
        .agg(
            F.max("count").cast("bigint").alias("top_c"),
            F.sum("count").cast("bigint").alias("tot_c"),
        )
    )
    dup_frac = F.round(
        F.lit(1.0)
        - F.size(F.array_distinct("ws")).cast("double") / F.size("ws"),
        6,
    )
    top_frac = F.round(
        F.coalesce(F.col("top_c"), F.lit(0)).cast("double")
        / F.coalesce(F.col("tot_c"), F.lit(1)),
        6,
    )
    return (
        docs.join(gc, "doc_id", "left")
        .select(
            "doc_id",
            F.size("ws").cast("bigint").alias("n_words"),
            dup_frac.alias("dup_word_frac"),
            top_frac.alias("top_bigram_frac"),
            F.when((dup_frac > 0.65) | (top_frac > 0.07), "drop")
            .otherwise("keep")
            .alias("repetition_gate"),
        )
    )


#: Laplace-smoothed bigram LM gate: docs whose average negative
#: log-likelihood under the corpus's own bigram model exceeds this are
#: "surprising" (ill-fitting) text.  Calibrated at ~p88 of this corpus's
#: avg_nll distribution (see distribution note in ``_bigram_lm``);
#: compared against the 6-decimal-ROUNDED score so the keep/drop
#: decision is cross-engine stable at the boundary.
BIGRAM_NLL_DROP = 3.42

#: micro-unit scale for per-bigram log-probs: each instance's
#: ``round(ln(p), 9)`` is quantized once to an integer number of
#: millionths, so the per-document score is an EXACT BIGINT sum —
#: associative, partition-order-independent — instead of a float sum
#: whose value depends on Spark's reduce order.
_LP_SCALE = 1_000_000


@_q(
    "text_bigram_lm_score",
    "north-star: corpus-trained bigram-LM quality scoring (CCNet-style "
    "perplexity filter; Laplace smoothing, exact integer score fold)",
    f"""
    WITH w AS (
        SELECT doc_id, {_WORDS_D} AS ws FROM documents
        WHERE len({_WORDS_D}) >= 2
    ),
    g AS (
        SELECT w.doc_id, ws[i] AS w1, ws[i + 1] AS w2
        FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
    ),
    c2 AS (SELECT w1, w2, count(*) AS c FROM g GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c FROM c2 GROUP BY 1),
    vocab AS (
        SELECT count(DISTINCT x) AS v FROM (SELECT unnest(ws) AS x FROM w)
    ),
    inst AS (
        SELECT g.doc_id,
               CAST(floor(round(ln((c2.c + 1.0) / (c1.c + vocab.v)), 9)
                          * {_LP_SCALE} + 0.5) AS BIGINT) AS lp_u
        FROM g JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(-CAST(sum(lp_u) AS DOUBLE)
                 / ({_LP_SCALE}.0 * count(*)), 6) AS avg_nll,
           CASE WHEN round(-CAST(sum(lp_u) AS DOUBLE)
                           / ({_LP_SCALE}.0 * count(*)), 6) > {BIGRAM_NLL_DROP}
                THEN 'drop' ELSE 'keep' END AS lm_gate
    FROM inst GROUP BY doc_id
    """,
)
def _bigram_lm(spark, t):
    """CCNet-style LM quality filter (Wenzek et al. 2020 — public
    method): score each document by its average negative log-likelihood
    under a bigram model trained on the corpus itself, Laplace-smoothed
    ``P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V)``.  High-NLL documents
    fit the corpus distribution poorly — the classic perplexity gate,
    with the corpus standing in for CCNet's external Wikipedia LM
    (self-contained: no external model artifact).

    Scale shape (100 TB): bigram instances are one explode (no UDF);
    ``c2``/``c1`` are vocabulary-bounded map-side-combinable counts
    (NOT corpus-proportional once the vocabulary saturates); the
    score join is a shuffle equi-join on the gram key where hot keys
    (stopword bigrams) each match exactly ONE count row, so AQE's
    skew split handles fan-in without replication; the per-doc fold
    is one partial-agg shuffle on slim (doc_id, BIGINT) rows.

    Float determinism: ``ln`` differs by 1 ulp between Spark's
    ``Math.log`` and DuckDB's libm on ~3 % of inputs (measured for
    the tf-idf path), so each instance's log-prob is rounded to 9
    decimals (both engines land on the identical double) and then
    quantized ONCE to BIGINT millionths; the per-doc sum is exact
    integer arithmetic, so no engine's aggregation order can show
    through.  ``avg_nll`` distribution on this corpus: mean 3.39,
    sd 0.035, p90 3.425 — the 3.42 gate sits at ~p88.

    Distribution note: docs with fewer than two words have no bigram
    and are excluded (none exist in the testdata; the WHERE mirrors
    the oracle so the contract is explicit anyway).
    """
    w = (
        doc_words_frame(t)
        .select("doc_id", "ws")
        .filter(F.size("ws") >= 2)
    )
    g = w.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ws) - 2),"
                " i -> struct(ws[i] AS w1, ws[i + 1] AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    c2 = g.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").cast("bigint").alias("c1"))
    vocab = w.select(F.explode("ws").alias("x")).agg(
        F.countDistinct("x").alias("v")
    )
    lp_u = (
        F.floor(
            F.round(
                F.log(
                    (F.col("c2") + F.lit(1.0))
                    / (F.col("c1") + F.col("v")),
                ),
                9,
            )
            * F.lit(_LP_SCALE)
            + F.lit(0.5)
        )
    ).cast("bigint")
    inst = (
        g.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", lp_u.alias("lp_u"))
    )
    avg_nll = F.round(
        -F.sum("lp_u").cast("double") / (F.lit(float(_LP_SCALE)) * F.count("*")),
        6,
    )
    return inst.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        avg_nll.alias("avg_nll"),
        F.when(avg_nll > BIGRAM_NLL_DROP, "drop")
        .otherwise("keep")
        .alias("lm_gate"),
    )
