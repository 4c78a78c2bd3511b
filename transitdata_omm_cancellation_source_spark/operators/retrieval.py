"""Lexical retrieval / relevance-scoring operators over ``documents``.

The search-side counterpart of the corpus-prep family: the operators a
training-data pipeline runs to *find* documents — term weighting,
ranked retrieval, and conjunctive keyword search over an inverted
posting list:

- ``text_tfidf_topk``:    per-document top-k TF-IDF terms (the
                          classic ``tf * (ln((N+1)/(df+1)) + 1)``
                          smooth-idf weighting)
- ``text_bm25_search``:   Okapi BM25 ranked retrieval for a fixed
                          query, top-20 documents
- ``docs_keyword_search``: conjunctive (AND) keyword search — the
                          inverted-index semi-join shape

Float determinism: Spark's ``Math.log`` and DuckDB's libm ``ln``
disagree by 1 ulp on ~3 % of inputs (measured), so every idf is
quantized with ``round(.., 9)`` *before* entering downstream
arithmetic; all arithmetic after that point is IEEE +,*,/ (exactly
rounded, bit-identical across engines), so scores — and therefore
ranks — are reproducible bit-for-bit.  The exact cross-engine check is
the driver's oracle-parity hash (and the same comparison in the verify
harness); the behavioral tests in tests/test_retrieval_sampling.py
compare a pure-Python reimplementation with a 1e-6 tolerance.

Scale notes (100 TB): the tokenize→explode→count pipeline is the
standard inverted-index build — one shuffle on (doc, term), one on
term.  The document-frequency side is vocabulary-sized (≪ corpus) and
joins back on the term key; for BM25 the query's posting rows are
filtered *before* the shuffle (predicate on the exploded term), so
the shuffled volume is the posting lists of the query terms only.
Corpus-level scalars (N, avgdl) ride along as a broadcast cross join
of a 1-row aggregate.  No driver-side collect anywhere.

The reference has no text retrieval (it is a cancellation ETL,
`OmmCancellationHandler.java:106-166`); this module is north-star
surface per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as X
from ..functions.corpus import doc_words_frame
from ..plans.registry import registered_query as _q

_WORDS_D = X.WORDS_D  # DuckDB-side words("text"); single source in functions/text

#: BM25 hyperparameters (Robertson's defaults).
_K1, _B = 1.2, 0.75

#: Fixed retrieval query: two high-df terms plus the rare planted
#: marker — exercises both ends of the idf range.
_QUERY_TERMS = ("join", "window", "dup")

#: Conjunctive search terms (AND semantics).
_AND_TERMS = ("join", "vector", "sort")

_TFIDF_K = 5
_BM25_TOPN = 20


def _postings(dw: DataFrame) -> DataFrame:
    """(doc_id, term, tf) — the inverted-index build over the shared
    tokenized frame (functions.corpus.doc_words_frame: the corpus is
    tokenized once per session, not once per retrieval query)."""
    return (
        dw.select("doc_id", F.explode("ws").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


# --- per-document top-k TF-IDF terms ----------------------------------------


@_q(
    "text_tfidf_topk",
    "north-star retrieval: per-doc top-k TF-IDF terms (smooth idf)",
    f"""
    WITH tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest({_WORDS_D}) AS term FROM documents)
        GROUP BY doc_id, term
    ),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               tf.tf * round(ln((n.n_docs + 1) / CAST(dft.df + 1 AS DOUBLE)) + 1.0, 9) AS s
        FROM tf JOIN dft USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, tfidf, rnk FROM (
        SELECT doc_id, term, tf, round(s, 6) AS tfidf,
               CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, term) AS INT) AS rnk
        FROM scored
    ) WHERE rnk <= {_TFIDF_K}
    """,
)
def _tfidf_topk(spark, t):
    dw = doc_words_frame(t)
    tf = _postings(dw)
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = dw.agg(F.count(F.lit(1)).alias("n_docs"))
    # idf is quantized BEFORE the tf multiply so the ordering key is
    # built from bit-identical doubles on both engines (module docstring).
    idf = F.round(
        F.log((F.col("n_docs") + F.lit(1)) / (F.col("df") + F.lit(1)).cast("double"))
        + F.lit(1.0),
        9,
    )
    s = F.col("tf") * idf
    w = Window.partitionBy("doc_id").orderBy(s.desc(), F.col("term").asc())
    return (
        tf.join(dft, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TFIDF_K)
        .select("doc_id", "term", "tf", F.round(s, 6).alias("tfidf"), "rnk")
    )


# --- Okapi BM25 ranked retrieval --------------------------------------------


def _bm25_scored_ctes() -> str:
    """The CTE chain up to ``scored(doc_id, s)`` — shared by the BM25
    oracle and the RRF hybrid oracle (same sharing as ``_bm25_scored``
    on the Spark side).  Same parenthesization as the Spark plan —
    identical IEEE operation order keeps the score bit-identical."""
    qt = ", ".join(f"'{q}'" for q in _QUERY_TERMS)
    contribs = " + ".join(
        f"""(COALESCE(idf_{i}, 0.0) * (COALESCE(tf_{i}, 0) * {_K1 + 1.0})
             / (COALESCE(tf_{i}, 0) + {_K1} * ((1.0 - {_B}) + {_B} * (dl / avgdl))))"""
        for i in range(len(_QUERY_TERMS))
    )
    tf_cols = ", ".join(
        f"sum(CASE WHEN term = '{q}' THEN tf END) AS tf_{i}"
        for i, q in enumerate(_QUERY_TERMS)
    )
    idf_cols = ", ".join(
        f"""max(CASE WHEN term = '{q}' THEN
               round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 9) END) AS idf_{i}"""
        for i, q in enumerate(_QUERY_TERMS)
    )
    return f"""tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest({_WORDS_D}) AS term FROM documents)
        GROUP BY doc_id, term
    ),
    stats AS (
        SELECT count(*) AS n_docs,
               avg(CAST(len({_WORDS_D}) AS BIGINT)) AS avgdl
        FROM documents
    ),
    idf AS (
        SELECT {idf_cols}
        FROM (SELECT term, count(*) AS df FROM tf
              WHERE term IN ({qt}) GROUP BY term), stats
    ),
    qtf AS (
        SELECT doc_id, {tf_cols}
        FROM tf WHERE term IN ({qt}) GROUP BY doc_id
    ),
    dl AS (
        SELECT doc_id, CAST(len({_WORDS_D}) AS BIGINT) AS dl FROM documents
    ),
    scored AS (
        SELECT qtf.doc_id, ({contribs}) AS s
        FROM qtf JOIN dl USING (doc_id), stats, idf
    )"""


def _bm25_oracle() -> str:
    return f"""
    WITH {_bm25_scored_ctes()}
    SELECT doc_id, bm25, rnk FROM (
        SELECT doc_id, round(s, 6) AS bm25,
               CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT) AS rnk
        FROM scored
    ) WHERE rnk <= {_BM25_TOPN}
    """


def _bm25_scored(dw: DataFrame) -> DataFrame:
    """(doc_id, _s): the full BM25-scored candidate set for the fixed
    query — shared by the ranked search and the RRF hybrid fusion so
    the lexical leg can never drift between them.  Takes the shared
    tokenized frame: the old form tokenized the corpus three times
    (postings, avgdl, per-doc dl)."""
    tf = _postings(dw).filter(F.col("term").isin(*_QUERY_TERMS))
    # Per-term tf pivoted into fixed columns so the 3-term score sum has
    # ONE evaluation order (a float sum over an unordered groupBy would
    # be partition-order-dependent).
    qtf = tf.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("term") == q, F.col("tf"))).alias(f"tf_{i}")
            for i, q in enumerate(_QUERY_TERMS)
        ]
    )
    stats = dw.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size("ws").cast("bigint")).alias("avgdl"),
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .groupBy()
        .agg(
            *[
                F.max(
                    F.when(
                        F.col("term") == q,
                        F.round(
                            F.log(
                                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                                / (F.col("df") + F.lit(0.5))
                                + F.lit(1.0)
                            ),
                            9,
                        ),
                    )
                ).alias(f"idf_{i}")
                for i, q in enumerate(_QUERY_TERMS)
            ]
        )
    )
    dl = dw.select("doc_id", F.size("ws").cast("bigint").alias("dl"))
    scored = (
        qtf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(idf))
    )
    contrib = [
        F.coalesce(F.col(f"idf_{i}"), F.lit(0.0))
        * (F.coalesce(F.col(f"tf_{i}"), F.lit(0)) * F.lit(_K1 + 1.0))
        / (
            F.coalesce(F.col(f"tf_{i}"), F.lit(0))
            + F.lit(_K1)
            * (F.lit(1.0 - _B) + F.lit(_B) * (F.col("dl") / F.col("avgdl")))
        )
        for i in range(len(_QUERY_TERMS))
    ]
    s = contrib[0]
    for c in contrib[1:]:
        s = s + c
    return scored.select("doc_id", s.alias("_s"))


@_q(
    "text_bm25_search",
    "north-star retrieval: Okapi BM25 ranked search, fixed 3-term query",
    _bm25_oracle(),
)
def _bm25(spark, t):
    # Top-N via orderBy().limit() — TakeOrderedAndProject, a per-partition
    # heap + driver merge of N rows, never a full single-partition sort of
    # every scored doc.  The row_number window then runs over only the
    # N surviving rows, so its single partition is bounded by _BM25_TOPN.
    scored = _bm25_scored(doc_words_frame(t))
    topn = (
        scored.select(
            "doc_id", F.round("_s", 6).alias("bm25"), "_s"
        )
        .orderBy(F.col("_s").desc(), F.col("doc_id").asc())
        .limit(_BM25_TOPN)
    )
    w = Window.orderBy(F.col("_s").desc(), F.col("doc_id").asc())
    return (
        topn.withColumn("rnk", F.row_number().over(w))
        .select("doc_id", "bm25", "rnk")
    )


# --- conjunctive keyword search ---------------------------------------------


@_q(
    "docs_keyword_search",
    "north-star retrieval: conjunctive AND search (inverted-index semi-join)",
    f"""
    WITH hits AS (
        SELECT doc_id
        FROM (SELECT DISTINCT doc_id, term
              FROM (SELECT doc_id, unnest({_WORDS_D}) AS term FROM documents)
              WHERE term IN ({", ".join("'" + q + "'" for q in _AND_TERMS)}))
        GROUP BY doc_id
        HAVING count(*) = {len(_AND_TERMS)}
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d JOIN hits USING (doc_id)
    """,
)
def _keyword_search(spark, t):
    docs = t["documents"]
    # Postings are filtered to the query terms BEFORE the distinct
    # shuffle, so the exchanged volume is the query's posting lists
    # only; the HAVING count == |terms| gives AND semantics.
    hits = (
        doc_words_frame(t)
        .select("doc_id", F.explode("ws").alias("term"))
        .filter(F.col("term").isin(*_AND_TERMS))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == len(_AND_TERMS))
        .select("doc_id")
    )
    return docs.join(hits, "doc_id").select("doc_id", "lang", "source", "n_chars")


# --- hybrid retrieval: reciprocal-rank fusion (lexical + semantic) ----------

#: RRF constant (Cormack et al. 2009's k=60 — public method) and leg /
#: fusion depths.
_RRF_K = 60
_RRF_LEG_DEPTH = 50
_RRF_TOPN = 20


def _rrf_oracle() -> str:
    from ..functions.hyperplane import DOT_D

    dot_vq = DOT_D.format(a="e.v", b="q.qv")
    dot_vv = DOT_D.format(a="e.v", b="e.v")
    dot_qq = DOT_D.format(a="q.qv", b="q.qv")
    return f"""
    WITH {_bm25_scored_ctes()},
    lex AS (
        SELECT doc_id, rnk AS lex_rnk FROM (
            SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rnk
            FROM scored
        ) WHERE rnk <= {_RRF_LEG_DEPTH}
    ),
    qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id = 0),
    semsc AS (
        SELECT e.vec_id AS doc_id,
               {dot_vq} / sqrt({dot_vv} * {dot_qq}) AS cos
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings) e, qv q
    ),
    sem AS (
        SELECT doc_id, rnk AS sem_rnk FROM (
            SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rnk
            FROM semsc
        ) WHERE rnk <= {_RRF_LEG_DEPTH}
    ),
    fused AS (
        SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
               lex.lex_rnk, sem.sem_rnk,
               COALESCE(1.0 / ({_RRF_K} + lex.lex_rnk), 0.0)
                   + COALESCE(1.0 / ({_RRF_K} + sem.sem_rnk), 0.0) AS rrf
        FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id
    )
    SELECT doc_id, CAST(lex_rnk AS INTEGER) AS lex_rnk,
           CAST(sem_rnk AS INTEGER) AS sem_rnk,
           round(rrf, 9) AS rrf_score, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rnk
          FROM fused)
    WHERE rnk <= {_RRF_TOPN}
    """


@_q(
    "docs_hybrid_rrf_search",
    "north-star retrieval: hybrid lexical+semantic search fused by "
    "reciprocal-rank fusion (BM25 leg + embedding-cosine leg, RRF k=60)",
    _rrf_oracle(),
)
def _hybrid_rrf(spark, t):
    """Reciprocal-rank fusion over two retrieval legs — the standard
    hybrid-search shape of RAG / training-data retrieval stacks: BM25
    ranks the fixed-term query, embedding cosine ranks against a fixed
    query vector (vec_id 0's embedding, doc_id-aligned), and documents
    are fused by sum of 1/(k + rank) over the legs that retrieved them.
    RRF operates on RANKS, not scores, so the fusion needs no score
    calibration — exactly why production systems use it.

    Determinism: each leg's rank comes from certified bit-identical
    orderings (the shared ``_bm25_scored`` fold; the shared DOT left
    fold for cosine); the fusion sum is two IEEE divisions added in a
    pinned order — identical across engines — and is only rounded for
    display.

    Scale shape (100 TB): each leg ends in orderBy().limit(50)
    (TakeOrderedAndProject — per-partition heaps, no global sort); the
    fusion full-outer join and final top-20 touch at most 100 slim
    rows.  The semantic leg is the capped exact baseline here; at
    corpus scale it swaps for any of the bucketed ANN paths without
    touching the fusion (ranks are ranks).
    """
    from ..functions.hyperplane import DOT_S

    lex = (
        _bm25_scored(doc_words_frame(t))
        .orderBy(F.col("_s").desc(), F.col("doc_id").asc())
        .limit(_RRF_LEG_DEPTH)
        .withColumn(
            "lex_rnk",
            F.row_number().over(
                Window.orderBy(F.col("_s").desc(), F.col("doc_id").asc())
            ),
        )
        .select("doc_id", "lex_rnk")
    )
    emb = t["embeddings"].select(
        "vec_id", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("v")
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cos = F.expr(
        f"{DOT_S.format(a='v', b='qv')}"
        f" / sqrt({DOT_S.format(a='v', b='v')} * {DOT_S.format(a='qv', b='qv')})"
    )
    sem = (
        emb.crossJoin(F.broadcast(qv))
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("doc_id").asc())
        .limit(_RRF_LEG_DEPTH)
        .withColumn(
            "sem_rnk",
            F.row_number().over(
                Window.orderBy(F.col("cos").desc(), F.col("doc_id").asc())
            ),
        )
        .select("doc_id", "sem_rnk")
    )
    fused = lex.join(sem, "doc_id", "full").select(
        "doc_id",
        "lex_rnk",
        "sem_rnk",
        (
            F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rnk")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("sem_rnk")), F.lit(0.0))
        ).alias("rrf"),
    )
    top = fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(
        _RRF_TOPN
    )
    w = Window.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .select(
            "doc_id",
            F.col("lex_rnk").cast("int").alias("lex_rnk"),
            F.col("sem_rnk").cast("int").alias("sem_rnk"),
            F.round("rrf", 9).alias("rrf_score"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )
