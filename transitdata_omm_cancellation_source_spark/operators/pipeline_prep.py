"""Training-corpus preparation operators over ``documents``.

The operations a large-scale LLM training-data pipeline runs between
raw crawl and tokenizer, each expressed Spark-first and each with an
exact DuckDB oracle:

- ``corpus_hash_split``:    deterministic content-hash train/val/test
                            assignment (shuffle-free map; duplicate
                            texts land in the same split by construction)
- ``corpus_ngram_topk``:    corpus-level top-k word bigrams (partial
                            map-side aggregation + TakeOrdered — the
                            scalable "top 50 of 10^11" shape)
- ``corpus_decontaminate``: drop documents sharing any 3-word shingle
                            with a benchmark/eval set (shingle-level
                            semi-join, then doc-level anti-join; the
                            benchmark side is eval-suite-sized, so its
                            exploded shingle set stays broadcastable)
- ``text_pii_redact``:      regex PII scrubbing (emails, phone numbers)
                            with per-doc match counts and a redacted-
                            text digest; single-pass, shuffle-free
- ``corpus_prep_pipeline``: the end-to-end composition — quality gate
                            -> language filter -> exact dedup -> hash
                            split -> per-split token accounting
- ``corpus_token_chunks``:  overlapping fixed-window chunking (the step
                            feeding the tokenizer; shuffle-free 1->N
                            fan-out, chunk content pinned by digest)
- ``corpus_pack_sequences``: concat-then-cut packing into context-
                            window bins via a DISTRIBUTED two-phase
                            prefix sum (the oracle's global window
                            form serializes through one task at scale)

Scale notes: splits and PII are pure per-row maps (parallel per parquet
split at any scale).  The n-gram top-k aggregates with map-side combine
and never materializes a global sort — ``orderBy().limit(k)`` compiles
to TakeOrdered.  Decontamination's only data-proportional shuffle is
the corpus-side explode; the benchmark side is tiny by definition.
The prep pipeline's one wide shuffle is the dedup groupBy on the text
fingerprint.

The reference has no corpus operators (it is a cancellation ETL,
`OmmCancellationHandler.java:106-166`); this module is north-star
surface per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import persist_tracked
from ..functions import text as X
from ..functions.corpus import CORPUS_SQL as _CORPUS_D
from ..functions.corpus import doc_words_frame as _doc_words_frame
from ..functions.corpus import planted_corpus
from ..plans.registry import registered_query as _q

P = X.HASH_MOD

_WORDS_D = X.WORDS_D  # DuckDB-side words("text"); single source in functions/text

#: DuckDB polyhash over an arbitrary string expression (mirrors
#: functions.text.polyhash).
_POLY_D = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(string_split({expr}, ''), x -> CAST(ascii(x) AS BIGINT))),"
    f" (acc, x) -> (acc * 31 + x) % {P})"
)


# --- deterministic content-hash split ---------------------------------------

#: percent thresholds: [0, TRAIN) train, [TRAIN, VAL) val, rest test.
_SPLIT_TRAIN, _SPLIT_VAL = 80, 90

_NORM_TEXT_D = f"array_to_string({_WORDS_D}, ' ')"
_NORM_TEXT_S = X.NORM_TEXT_S  # single source in functions/text


@_q(
    "corpus_hash_split",
    "north-star: deterministic content-hash train/val/test split",
    f"""
    WITH b AS (
        SELECT doc_id, CAST({_POLY_D.format(expr=_NORM_TEXT_D)} % 100 AS INTEGER) AS bucket
        FROM documents
    )
    SELECT doc_id, bucket,
           CASE WHEN bucket < {_SPLIT_TRAIN} THEN 'train'
                WHEN bucket < {_SPLIT_VAL} THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def _hash_split(spark, t):
    # Hash of the NORMALIZED TEXT, not the doc_id: byte-identical
    # near-duplicate documents land in the same split by construction,
    # so exact dupes can never straddle the train/test boundary — the
    # standard leakage guard.  Pure projection: no shuffle, perfectly
    # parallel per parquet split at any corpus size.  r16: the content
    # hash comes from the Arrow kernel (bit-identical to the
    # interpreted polyhash fold — tests/test_wordhash_kernel.py).
    from ..functions.wordhash_kernel import with_joined_polyhash

    hashed = with_joined_polyhash(
        t["documents"].select("doc_id", X.words("text").alias("ws"))
    )
    bucket = (F.col("h") % 100).cast("int")
    return hashed.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < _SPLIT_TRAIN, "train")
        .when(bucket < _SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )


# --- corpus-level n-gram top-k ----------------------------------------------

_TOPK_NGRAMS = 50


@_q(
    "corpus_ngram_topk",
    "north-star: corpus-wide top-k word bigrams (map-side combine + TakeOrdered)",
    f"""
    WITH w AS (SELECT {_WORDS_D} AS w FROM documents),
    bg AS (
        SELECT unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                      i -> w[i] || ' ' || w[i + 1])) AS ngram
        FROM w
    )
    SELECT ngram, count(*) AS n_occurrences
    FROM bg GROUP BY ngram
    ORDER BY n_occurrences DESC, ngram
    LIMIT {_TOPK_NGRAMS}
    """,
)
def _ngram_topk(spark, t):
    # Occurrence counts (not per-doc distinct): every bigram instance
    # votes.  groupBy(count) gets map-side partial aggregation for
    # free; orderBy().limit(k) compiles to TakeOrdered — no global
    # sort of the (huge) distinct-ngram space ever materializes.  The
    # (count DESC, ngram ASC) order makes the selected top-k SET
    # deterministic under ties, which is what the oracle compares.
    bigrams = F.expr(
        "CASE WHEN size(__w) >= 2 THEN"
        " transform(sequence(1, size(__w) - 1),"
        " i -> concat(element_at(__w, i), ' ', element_at(__w, i + 1)))"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    return (
        t["documents"]
        .select(X.words("text").alias("__w"))
        .select(F.explode(bigrams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram"))
        .limit(_TOPK_NGRAMS)
    )


# --- benchmark decontamination ----------------------------------------------

#: every doc_id divisible by this is "the benchmark/eval set" — a
#: deterministic stand-in for the held-out suites a production pipeline
#: decontaminates against.
_BENCH_MOD = 97


@_q(
    "corpus_decontaminate",
    "north-star: eval-set decontamination via shingle semi-join + doc anti-join",
    f"""
    WITH whs AS (SELECT doc_id, {{wh}} AS wh FROM documents),
    sh AS (SELECT doc_id, {{sh}} AS shingles FROM whs),
    inv AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM sh
        WHERE doc_id % {_BENCH_MOD} <> 0
    ),
    binv AS (
        SELECT DISTINCT unnest(shingles) AS shingle FROM sh
        WHERE doc_id % {_BENCH_MOD} = 0
    ),
    contaminated AS (
        SELECT DISTINCT doc_id FROM inv JOIN binv USING (shingle)
    )
    SELECT doc_id, CAST(len(shingles) AS INTEGER) AS n_shingles
    FROM sh
    WHERE doc_id % {_BENCH_MOD} <> 0
      AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    """.format(
        wh=(
            f"list_transform({_WORDS_D}, t -> list_reduce(list_prepend(CAST(0 AS BIGINT),"
            f" list_transform(string_split(t, ''), x -> CAST(ascii(x) AS BIGINT))),"
            f" (acc, x) -> (acc * 31 + x) % {P}))"
        ),
        sh=(
            f"list_distinct(list_transform(range(1, greatest(len(wh) - 2, 0) + 1),"
            f" i -> ((wh[i] * 1000003 + wh[i + 1]) % {P} * 1000003 + wh[i + 2]) % {P}))"
        ),
    ),
)
def _decontaminate(spark, t):
    # A doc is contaminated when it shares ANY 3-word shingle with the
    # benchmark set.  Candidate detection is a semi-join at the
    # SHINGLE level (one equi-shuffle on a bounded key) and removal is
    # an anti-join at the DOC level — never a cross join, never a
    # collected id list.  The benchmark side is eval-suite-sized by
    # definition, so AQE broadcasts its exploded shingles; the corpus
    # side streams through at any scale.  Shingle hashing reuses the
    # per-word polyhash fold shared with the dedup family
    # (functions/text.py), so the oracle is structurally identical.
    #
    # The persist is load-bearing, not a cache nicety: exploding an
    # UNpersisted nested-lambda array column re-evaluates the whole
    # word-hash/shingle expression tree per EMITTED row (measured 87 s
    # vs 0.3 s at sf0.1 — interpreted higher-order functions don't
    # codegen), and the frame is consumed by three plan branches.
    # r16: the word hashes come from the SHARED tokenize frame
    # (functions.corpus.doc_words_frame — raw documents, exactly this
    # query's corpus) instead of re-running the tokenize + interpreted
    # char fold here; shingles_from_word_hashes widens the frame's INT
    # hashes to BIGINT before its multiply, so the shingle keys are
    # unchanged.
    sh = persist_tracked(
        _doc_words_frame(t).select(
            "doc_id",
            X.shingles_from_word_hashes("wh").alias("shingles"),
        )
    )
    corpus_sh = sh.filter(F.col("doc_id") % _BENCH_MOD != 0)
    bench_keys = (
        sh.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    contaminated = (
        corpus_sh.select("doc_id", F.explode("shingles").alias("shingle"))
        .join(bench_keys, "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return corpus_sh.join(contaminated, "doc_id", "left_anti").select(
        "doc_id", F.size("shingles").alias("n_shingles")
    )


# --- PII redaction ----------------------------------------------------------

#: RE2- and Java-regex compatible patterns (no lookaround, no backrefs).
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+[0-9]{7,}"

#: deterministic PII planting: the synthetic corpus contains no real
#: PII, so every 7th doc gets an email and every 11th a phone number
#: appended (both derived from doc_id) — the oracle plants identically.
_PII_TEXT_D = (
    "text"
    " || CASE WHEN doc_id % 7 = 0"
    "         THEN ' mailto user' || CAST(doc_id AS VARCHAR) || '@example.org'"
    "         ELSE '' END"
    " || CASE WHEN doc_id % 11 = 0"
    "         THEN ' tel +35840' || lpad(CAST(doc_id % 100000 AS VARCHAR), 5, '0')"
    "         ELSE '' END"
)


@_q(
    "text_pii_redact",
    "north-star: regex PII scrub (emails, phones) with counts + digest",
    f"""
    WITH pii AS (SELECT doc_id, {_PII_TEXT_D} AS ptext FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(ptext, '{_EMAIL_RE}', 0)) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(ptext, '{_PHONE_RE}', 0)) AS INTEGER) AS n_phones,
           md5(regexp_replace(regexp_replace(ptext, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM pii
    """,
)
def _pii_redact(spark, t):
    # Single-pass per-row map, zero shuffles.  Patterns avoid
    # lookaround/backreferences so Java (Spark) and RE2 (DuckDB)
    # produce identical matches; DuckDB needs the explicit 'g' flag to
    # match Spark's replace-all default.  The md5 digest proves the
    # full redacted text matches byte-for-byte without hauling the
    # text through the compare harness.
    ptext = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" mailto user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.org"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" tel +35840"),
                F.lpad((F.col("doc_id") % 100000).cast("string"), 5, "0"),
            ),
        ).otherwise(""),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("ptext"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    # Spark SQL string literals process backslash escapes (DuckDB's do
    # not), so patterns embedded in F.expr need their backslashes
    # doubled — same convention as functions.text.token_count_bpe.
    email_sql = _EMAIL_RE.replace("\\", "\\\\")
    phone_sql = _PHONE_RE.replace("\\", "\\\\")
    return (
        t["documents"]
        .select("doc_id", ptext.alias("ptext"))
        .select(
            "doc_id",
            F.size(F.expr(f"regexp_extract_all(ptext, '{email_sql}', 0)")).alias(
                "n_emails"
            ),
            F.size(F.expr(f"regexp_extract_all(ptext, '{phone_sql}', 0)")).alias(
                "n_phones"
            ),
            F.md5(redacted).alias("redacted_md5"),
        )
    )


# --- end-to-end corpus prep pipeline ----------------------------------------


def _stopword_in_d() -> str:
    return ", ".join("'" + w + "'" for w in X.STOPWORDS_EN)


def _prep_oracle() -> str:
    from .textops import _langid_sql

    sw_ratio = (
        f"CAST(len(list_filter({_WORDS_D}, x -> x IN ({_stopword_in_d()}))) AS DOUBLE)"
        f" / len({_WORDS_D})"
    )
    return f"""
    WITH corpus AS ({_CORPUS_D}),
    gated AS (
        SELECT doc_id, text FROM corpus
        WHERE length(text) >= 100 AND len({_WORDS_D}) > 0
          AND {sw_ratio} >= 0.05
    ),
    lang AS (
        SELECT doc_id, text FROM gated
        WHERE {_langid_sql()} = 'en'
    ),
    dedup AS (
        SELECT min(doc_id) AS doc_id,
               arbitrary(md5(array_to_string({_WORDS_D}, ' '))) AS fp,
               arbitrary(len({_WORDS_D})) AS n_words
        FROM lang
        GROUP BY md5(array_to_string({_WORDS_D}, ' '))
    ),
    split AS (
        SELECT *, CASE WHEN b < {_SPLIT_TRAIN} THEN 'train'
                       WHEN b < {_SPLIT_VAL} THEN 'val'
                       ELSE 'test' END AS split
        FROM (SELECT *, {_POLY_D.format(expr="fp")} % 100 AS b FROM dedup)
    )
    SELECT split, count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words_total,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM split GROUP BY split
    """


@_q(
    "corpus_prep_pipeline",
    "north-star: composed prep pipeline (quality -> lang -> dedup -> split)",
    _prep_oracle(),
)
def _prep_pipeline(spark, t):
    # The full corpus-prep composition as ONE logical plan: the only
    # wide exchanges in the physical plan are the dedup groupBy and
    # the final 3-row split aggregate.  Stage order mirrors production
    # pipelines: cheap row-local gates first (shrink before shuffling),
    # content dedup before split assignment so survivors alone pay the
    # hash.  Splitting on the FINGERPRINT hash keeps near-identical
    # survivors consistent with corpus_hash_split's leakage guard.
    #
    # ONE tokenization per row (r15, guide §4.1 higher-order
    # functions / §1.2 don't recompute): the old staged
    # filter-then-project form collapsed under Catalyst into a single
    # interpreted Filter that re-inlined the words() regex per
    # reference — ~25 regexp_extract_all evaluations per document
    # (HOF expressions run interpreted, where no common-subexpression
    # elimination exists).  The whole quality+language gate is now one
    # expression with the token array bound ONCE as a transform-lambda
    # variable (`transform(array(words), w -> ...)[0]` is SQL's
    # let-binding) and the en-hit count bound once inside it; the
    # argmax == 'en' condition is the equivalent h_en > 0 AND every
    # later language's hits <= h_en (strict-> forward scan semantics
    # of lang_from_hits).  Same sub-expressions, same arithmetic —
    # measured value-identical at sf0.1, 3.4-4.1 -> 0.8-1.2 s.
    corpus = planted_corpus(t["documents"])
    stop_list = ", ".join("'" + w + "'" for w in X.STOPWORDS_EN)
    ml = {
        lang: ", ".join("'" + m + "'" for m in ms)
        for lang, ms in X.LANG_MARKERS.items()
    }
    later_cmp = " AND ".join(
        f"size(filter(w, x -> x IN ({ml[lang]}))) <= h"
        for lang in X.LANG_MARKERS
        if lang != "en"
    )
    gate = F.expr(
        f"length(text) >= 100 AND transform(array({X.WORDS_S}), w ->"
        " CASE WHEN size(w) > 0"
        f" AND size(filter(w, x -> x IN ({stop_list}))) / size(w) >= 0.05"
        f" THEN transform(array(size(filter(w, x -> x IN ({ml['en']})))),"
        f" h -> h > 0 AND {later_cmp})[0]"
        " ELSE false END)[0]"
    )
    lang = corpus.filter(gate)
    dedup = (
        lang.select(
            "doc_id",
            X.fingerprint_md5("text").alias("fp"),
            F.size(X.words("text")).alias("n_words"),
        )
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.first("n_words").alias("n_words"),
        )
    )
    bucket = X.polyhash("fp") % 100
    split = F.when(bucket < _SPLIT_TRAIN, "train").when(
        bucket < _SPLIT_VAL, "val"
    ).otherwise("test")
    return (
        dedup.select("doc_id", "n_words", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words_total"),
            F.min("doc_id").alias("first_doc"),
        )
    )


# --- tokenizer-facing chunking and packing ----------------------------------

#: chunk geometry: CHUNK-word windows advancing by CHUNK - OVERLAP words.
_CHUNK, _OVERLAP = 64, 16
_STRIDE = _CHUNK - _OVERLAP

#: context-window budget for sequence packing, in words.
_PACK_BUDGET = 256

#: doc_id range width for the distributed prefix sum in packing.
_PACK_RANGE = 1 << 20


@_q(
    "corpus_token_chunks",
    "north-star: overlapping fixed-window document chunking (1->N fan-out)",
    f"""
    WITH w AS (SELECT doc_id, {_WORDS_D} AS w FROM documents),
    chunks AS (
        SELECT doc_id,
               unnest(range(0, (len(w) - 1) // {_STRIDE} + 1)) AS chunk_idx,
               w
        FROM w WHERE len(w) > 0
    )
    SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
           CAST(len(list_slice(w, chunk_idx * {_STRIDE} + 1,
                               chunk_idx * {_STRIDE} + {_CHUNK})) AS INTEGER)
               AS chunk_tokens,
           md5(array_to_string(list_slice(w, chunk_idx * {_STRIDE} + 1,
                                          chunk_idx * {_STRIDE} + {_CHUNK}), ' '))
               AS chunk_md5
    FROM chunks
    """,
)
def _token_chunks(spark, t):
    # The step between cleaning and tokenization: overlapping
    # fixed-size word windows (stride = chunk - overlap), one output
    # row per chunk.  Pure per-row fan-out — explode over a cheap
    # arithmetic sequence (codegen-friendly; the expensive nested-HOF
    # explode pathology documented in _decontaminate does not apply to
    # flat regex/slice expressions) — so it parallelizes per parquet
    # split with zero shuffle at any corpus size.  Chunk text is
    # emitted as an md5 digest: parity proves the exact byte content
    # of every chunk without hauling text through the compare harness.
    w = t["documents"].select("doc_id", X.words("text").alias("w")).filter(
        F.size("w") > 0
    )
    chunks = w.select(
        "doc_id",
        F.explode(
            F.expr(f"sequence(0, (size(w) - 1) div {_STRIDE})")
        ).alias("chunk_idx"),
        "w",
    )
    sliced = F.expr(f"slice(w, chunk_idx * {_STRIDE} + 1, {_CHUNK})")
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(sliced).alias("chunk_tokens"),
        F.md5(F.array_join(sliced, " ")).alias("chunk_md5"),
    )


@_q(
    "corpus_pack_sequences",
    "north-star: concat-then-cut sequence packing via distributed prefix sum",
    f"""
    WITH d AS (
        SELECT doc_id, len({_WORDS_D}) AS n FROM documents
        WHERE len({_WORDS_D}) > 0
    ),
    c AS (
        SELECT doc_id, n,
               sum(n) OVER (ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) - n AS start_off
        FROM d
    )
    SELECT CAST(start_off // {_PACK_BUDGET} AS BIGINT) AS pack_id,
           count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM c GROUP BY pack_id
    """,
)
def _pack_sequences(spark, t):
    # Concat-then-cut packing (the shape LLM pipelines actually use):
    # documents concatenated in doc_id order are cut into
    # _PACK_BUDGET-token context windows; a doc belongs to the pack
    # its first token lands in.  The global running offset is computed
    # as a DISTRIBUTED two-phase prefix sum — per-range subtotals
    # (one small aggregate), cumulated on the tiny range table, then
    # broadcast back and added to intra-range running sums — because
    # the textbook global-window form (the oracle's SQL) serializes
    # the whole corpus through ONE task at scale.  Results are
    # identical; only the physical shape differs.
    d = (
        t["documents"]
        .select("doc_id", F.size(X.words("text")).alias("n"))
        .filter(F.col("n") > 0)
        .withColumn("rng", F.expr(f"doc_id div {_PACK_RANGE}"))
    )
    rng_totals = d.groupBy("rng").agg(F.sum("n").alias("rng_n"))
    w_rng = Window.orderBy("rng").rowsBetween(Window.unboundedPreceding, -1)
    rng_offsets = rng_totals.withColumn(
        "rng_off", F.coalesce(F.sum("rng_n").over(w_rng), F.lit(0))
    ).select("rng", "rng_off")
    w_in = Window.partitionBy("rng").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    packed = (
        d.join(F.broadcast(rng_offsets), "rng")
        .withColumn(
            "start_off",
            F.col("rng_off") + F.coalesce(F.sum("n").over(w_in), F.lit(0)),
        )
        .withColumn("pack_id", F.expr(f"start_off div {_PACK_BUDGET}"))
    )
    return packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


# --- span pruning (shared skeleton) ------------------------------------------

#: boilerplate span length (words) and the document-frequency threshold
#: above which a span counts as boilerplate.  n=4 / df>=3 calibrated on
#: this corpus: 100 of 24k distinct 4-grams are hot (max df 4), so the
#: prune touches a meaningful minority of documents without shredding
#: them (3-grams are too common here — 2.3k of 16k hit df>=3).
_BOILER_N, _BOILER_DF = 4, 3

#: span length (words) for cross-document repeated-substring removal.
#: 8 words ~ the ExactSubstr idea at this corpus's scale (the public
#: method uses 50 BPE tokens over web-scale text; this corpus's dup
#: spans are full templated sentences, so 8 captures them without
#: false positives — 1015 of ~24k distinct 8-grams repeat across docs,
#: touching 47 of 500 docs at sf0.01).
_SUBDUP_N = 8


def _span_prune_oracle(n: int, trig_cte: str, cov_where: str, out_col: str) -> str:
    """Shared span-prune oracle skeleton: positional n-gram KEY explode
    (62-bit two-fold span keys over per-word polyhashes — the exact
    arithmetic of the Spark side, see ``functions.text.gram_key_terms``),
    a query-specific trigger CTE (``trig``), positional union cover,
    exact text rebuild.  The g-to-trig join is fixed as
    ``USING (gram)``; ``cov_where`` optionally restricts which
    occurrences are covered; ``out_col`` names the rebuilt text
    column.  One template serving both span-prune queries keeps the
    four former copies (two builders + two oracle strings) from
    drifting independently."""
    wh_list = (
        f"list_transform(ws, t -> list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(string_split(t, ''), x -> CAST(ascii(x) AS BIGINT))),"
        f" (acc, x) -> (acc * 31 + x) % {P}))"
    )
    gram = X.gram_key_terms(lambda j: f"wh[i + {j + 1}]", n)
    return f"""
    WITH w AS (
        SELECT doc_id, {_WORDS_D} AS ws FROM documents
    ),
    whs AS (SELECT doc_id, {wh_list} AS wh FROM w),
    g AS (
        SELECT whs.doc_id, i, {gram} AS gram
        FROM whs, LATERAL (SELECT unnest(range(0, len(wh) - {n - 1}))
                         AS i)
    ),
    trig AS ({trig_cte}),
    cov AS (
        SELECT DISTINCT g.doc_id, g.i + j.j AS pos
        FROM g JOIN trig USING (gram),
             (SELECT unnest(range(0, {n})) AS j) j
        {cov_where}
    ),
    words AS (
        SELECT w.doc_id, p.pos, ws[p.pos + 1] AS word
        FROM w, LATERAL (SELECT unnest(range(0, len(ws))) AS pos) p
    ),
    kept AS (
        SELECT words.doc_id,
               string_agg(word, ' ' ORDER BY words.pos) AS {out_col},
               count(*) AS n_kept
        FROM words LEFT JOIN cov
          ON cov.doc_id = words.doc_id AND cov.pos = words.pos
        WHERE cov.doc_id IS NULL
        GROUP BY words.doc_id
    )
    SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_words,
           CAST(len(ws) - COALESCE(kept.n_kept, 0) AS BIGINT) AS n_removed,
           round(CAST(len(ws) - COALESCE(kept.n_kept, 0) AS DOUBLE)
                 / len(ws), 6) AS removed_frac,
           COALESCE(kept.{out_col}, '') AS {out_col}
    FROM w LEFT JOIN kept ON kept.doc_id = w.doc_id
    """


def _span_prune(dw: DataFrame, n: int, trigger, out_col: str) -> DataFrame:
    """Shared span-prune builder skeleton (Spark mirror of
    ``_span_prune_oracle``).  ``trigger`` maps the positional gram-key
    table (doc_id, i, gram) to the COVERED occurrences (doc_id, i);
    everything else — the map-only positional explode, the fixed 1->n
    cover expansion, the length-bounded per-doc rebuild — is common.

    Spans are keyed by the 62-bit two-fold hash of their word hashes
    (``functions.text.gram_key_terms``), NOT the concatenated string:
    the positional explode emits ~len(corpus) rows, and shuffling
    ~50-byte gram strings through the trigger aggregation and the
    cover join measured ~6x the bytes of the 8-byte keys — at sf125
    (6.25M docs) the string form exceeded this node's 53 GB of free
    shuffle disk outright, while the keyed form completes.  Span
    semantics are defined over the key (the shingle-hash dedup
    family's contract; collision odds ~N²/2^63, identical on both
    engines) and the rebuild still uses the real words, so output
    text is exact.

    Scale shape (100 TB): the positional 1->N explode is map-only
    and carries (BIGINT, INT, BIGINT) rows; the trigger's aggregation
    is keyed by the gram key (vocabulary-bounded, not corpus-
    proportional) and joins back by key equi-join (AQE broadcasts the
    trigger set when small); cover expansion is a fixed 1->n explode;
    the rebuild folds per document with task memory bounded by
    document length, the same bound every per-doc ``collect_list`` in
    the repo rides on.
    """
    w = dw.select("doc_id", "ws")
    # wh is ARRAY<INT> in the shared frame: widen each element before
    # the fold multiplies (identical BIGINT arithmetic to the old
    # ARRAY<BIGINT> form; an un-widened INT * 1000003 would wrap).
    gram_key = X.gram_key_terms(
        lambda j: f"CAST(element_at(wh, i + {j + 1}) AS BIGINT)", n
    )
    grams = (
        dw.select("doc_id", "wh")
        .filter(F.size("wh") >= n)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(wh) - {n}),"
                    f" i -> struct(i AS i, {gram_key} AS gram))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.i", "p.gram")
    )
    # Per-doc covered-position SETS, then an array-side rebuild (r15;
    # guide §2.3 "shuffle keys and metadata instead of payloads" / §8):
    # the former rebuild posexploded EVERY word of the corpus and
    # shuffled those word-string rows twice — once through the
    # (doc_id, pos) anti-join against the covered positions, once
    # through the per-doc groupBy that re-assembled the text.  Covered
    # positions are a pure (BIGINT, INT) metadata stream; aggregating
    # them to one sorted array per doc (collect_set folds the old
    # ``distinct`` into the same exchange) and joining that DOC-LEVEL
    # frame back to ``w`` moves only metadata through every shuffle —
    # the word payload stays in its source row and the rebuild is an
    # engine-native array program (array_except of the position range,
    # then an index-map transform).  Values are identical by
    # construction: array_except(sequence, covp) IS the anti-join's
    # kept-position set in position order, and element_at maps it to
    # the same words the collect_list/array_sort path re-assembled
    # (pinned bit-exact vs the old form at sf0.01 on both consumers).
    # Measured at sf0.1: boilerplate 3.0 -> 2.3 s, substring
    # 3.6 -> 3.0 s warm; at corpus scale the removed term is
    # O(total words) rows of ~50-byte strings through two exchanges.
    covp = (
        trigger(grams)
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(i, i + {n - 1})")).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("pos")).alias("covp"))
    )
    joined = w.join(covp, "doc_id", "left").select(
        "doc_id",
        "ws",
        F.expr(
            "array_except("
            " CASE WHEN size(ws) > 0 THEN sequence(0, size(ws) - 1)"
            " ELSE CAST(array() AS array<int>) END,"
            " coalesce(covp, CAST(array() AS array<int>)))"
        ).alias("keptp"),
    )
    n_removed = F.size("ws") - F.size("keptp")
    return joined.select(
        "doc_id",
        F.size("ws").cast("bigint").alias("n_words"),
        n_removed.cast("bigint").alias("n_removed"),
        F.round(n_removed.cast("double") / F.size("ws"), 6).alias(
            "removed_frac"
        ),
        F.expr(
            "concat_ws(' ', transform(keptp, p -> element_at(ws, p + 1)))"
        ).alias(out_col),
    )


@_q(
    "corpus_boilerplate_prune",
    "north-star: corpus-frequent n-gram span removal (boilerplate prune; "
    "positional explode, hot-span cover, exact text rebuild)",
    _span_prune_oracle(
        _BOILER_N,
        trig_cte=f"""
        SELECT gram FROM (
            SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram
        ) WHERE df >= {_BOILER_DF}""",
        cov_where="",
        out_col="pruned_text",
    ),
)
def _boilerplate_prune(spark, t):
    """Boilerplate removal at n-gram-span granularity: any 4-word span
    occurring in >= ``_BOILER_DF`` distinct documents is treated as
    boilerplate (navigation chrome, license headers, templated
    sentences — RefinedWeb/C4 prune the same signal at line level;
    this corpus has no newlines, so the span IS the unit), and every
    word position covered by a hot span is removed.  Output per doc:
    word counts, removed fraction, and the rebuilt ``pruned_text``.

    All arithmetic is integer/string — no float enters until the final
    6-decimal ratio — so cross-engine parity is exact by construction.
    Spans are keyed by the 62-bit word-hash fold (both engines compute
    the identical key, see ``_span_prune``), so the hot-span trigger
    aggregates and joins 8-byte BIGINTs, never gram strings.
    Shared skeleton: see ``_span_prune``.
    """

    def hot_occurrences(grams):
        hot = (
            grams.groupBy("gram")
            .agg(F.countDistinct("doc_id").alias("df"))
            .filter(F.col("df") >= _BOILER_DF)
            .select("gram")
            # Stage boundary so AQE sees the FILTERED trigger set's true
            # size: the df filter runs post-exchange inside the final-agg
            # stage, so without this AQE prices the join on the full
            # pre-filter aggregate and keeps a sort-merge join that sorts
            # + exchanges the corpus-sized positional table.  With it,
            # AQE converts to broadcast at runtime whenever the hot set
            # is actually small, and keeps the shuffle join when a
            # larger corpus outgrows the threshold — no cliff.  Measured
            # at sf125: 488 s (SMJ) -> 237 s; decade ratio 5.1x -> 2.9x.
            .repartition("gram")
        )
        return grams.join(hot, "gram")

    return _span_prune(
        _doc_words_frame(t), _BOILER_N, hot_occurrences, "pruned_text"
    )


@_q(
    "corpus_substring_dedup",
    "north-star: cross-document exact-substring dedup (repeated spans "
    "removed everywhere but the canonical doc — ExactSubstr pattern)",
    _span_prune_oracle(
        _SUBDUP_N,
        trig_cte="""
        SELECT gram, CAST(min(doc_id) AS BIGINT) AS canon
        FROM (SELECT DISTINCT doc_id, gram FROM g)
        GROUP BY gram HAVING count(*) >= 2""",
        cov_where="WHERE g.doc_id <> trig.canon",
        out_col="deduped_text",
    ),
)
def _substring_dedup(spark, t):
    """Substring-level exact deduplication (the ExactSubstr idea of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better" — public method): an 8-word span occurring verbatim in
    two or more documents is removed from every document EXCEPT the
    canonical one (smallest doc_id among those containing the span),
    which keeps its copy.  This is the span-granular complement to
    whole-doc dedup (``dedup_exact``/MinHash) and differs from
    ``corpus_boilerplate_prune`` in both trigger (cross-doc repetition
    at df>=2, not corpus-frequency df>=3) and semantics (one canonical
    copy SURVIVES; boilerplate is removed everywhere).  At web scale
    the public method runs over a suffix array — the gram-keyed
    aggregation here is the shuffle-native equivalent for a fixed span
    length.  Spans are keyed by the 62-bit word-hash fold — the same
    substitution the public method itself makes at scale (Lee et al.
    dedup hashed token windows, not raw bytes); both engines compute
    the identical key, so the oracle stays exact (see ``_span_prune``).
    Shared skeleton: see ``_span_prune``.
    """

    def noncanonical_occurrences(grams):
        rep = (
            grams.select("doc_id", "gram")
            .distinct()
            .groupBy("gram")
            .agg(
                F.min("doc_id").cast("bigint").alias("canon"),
                F.count(F.lit(1)).alias("df"),
            )
            .filter(F.col("df") >= 2)
            .select("gram", "canon")
            # NO AQE stage-boundary repartition here, unlike the
            # boilerplate trigger: this trigger set is several times
            # larger (every df>=2 span plus its canon id, vs bare
            # df>=3 grams), and exposing its stats at sf125 made AQE
            # broadcast a relation whose deserialized hash relation
            # blew the 32g heap (all 32 tasks OOM'd in one stage).
            # The sort-merge join completes the same decade in 299 s —
            # the skew-free, memory-bounded choice for a trigger that
            # grows linearly with the corpus.
        )
        return grams.join(rep, "gram").filter(
            F.col("doc_id") != F.col("canon")
        )

    return _span_prune(
        _doc_words_frame(t), _SUBDUP_N, noncanonical_occurrences, "deduped_text"
    )
