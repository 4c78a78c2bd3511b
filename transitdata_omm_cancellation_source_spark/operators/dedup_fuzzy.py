"""North-star deduplication family over ``documents`` / ``embeddings``.

Five operators, each the Spark-idiomatic realization of a standard
large-corpus dedup technique:

- exact:        hash-groupBy on a normalized fingerprint (one shuffle)
- n-gram Jaccard: inverted shingle index + self-join — *exact* pairwise
                Jaccard without an O(n^2) cross join; pairs sharing no
                shingle are never materialized
- MinHash+LSH:  signature -> banded bucket join -> exact verification;
                candidate generation is O(n·bands) — the 100 TB path
- SimHash:      62-bit fingerprint, corpus-tiered Manku block-choice
                tables (C(b,3) tables keyed on b-3 kept blocks: exact
                recall for hamming <= 3 with key width ~log2(N)),
                bit_count(xor) verification
- embedding:    cosine near-dup within label blocks (blocked join, not
                a cross join)

The testdata's documents are all distinct, so each query plants
deterministic perturbed copies (doc_id + 1_000_000, one appended
token) before deduplicating — the same construction the DuckDB oracle
applies, keeping parity exact.  Hashing uses the portable polynomial
fold from ``functions.text`` so DuckDB reproduces signatures
bit-for-bit.

Scale notes: every self-join key (shingle, band key, simhash chunk) is
a shuffle key with bounded fan-out; hot shingles (stopword n-grams)
are the classic skew source — mitigated here by distinct-per-doc
shingles + AQE skew splitting; a production corpus would also drop
top-frequency shingles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import (
    artifact_cache_key,
    persist_tracked,
    register_artifact_frame_cache,
    register_value_memo,
    replace_plan_artifact,
)
from ..functions import text as X
from ..observability import get_json_logger
from ..plans.registry import REGISTRY
from ..plans.registry import registered_query as _q

#: embedding-cosine near-dup threshold (semdedup.py shares it)
_COSINE_TAU = 0.98

#: Session-artifact cache for the family's shared PERSISTED frames
#: (word hashes, shingle sets, banded candidates, verified pairs) —
#: the ivf_quantizer/_shared_codebook discipline applied to frames.
#: Sharing the built DataFrame OBJECT matters as much as sharing the
#: cached data: re-CONSTRUCTING the 64-minhash/band plan per consumer
#: measured ~1.7 s of driver-side work (py4j column building +
#: Catalyst analysis) with the data fully cached.  Keyed content-
#: sensitively on the documents table; registered so release_tracked
#: clears it together with the persisted data it points to.
_FRAME_CACHE: dict[tuple, object] = register_artifact_frame_cache({})


def _family_frame(name: str, t, build, *, disk: bool = False, source: str = "documents"):
    """Build-once, serve-per-session for the family's shared frames.

    ``disk=True`` marks a STANDING INDEX (r14 verdict #1): the frame
    additionally lives as a parquet artifact on disk
    (``artifacts.load_or_build_frame``, keyed by source-file
    fingerprints + the builder's bindings-closure fingerprint), so a
    FRESH session's first incremental-dedup batch LOADS the corpus
    index instead of re-paying its build — fresh-session steady state
    ≈ warm steady state.  Only the true standing indexes carry the
    flag (the band index, the shingle verification sets, the embedding
    assignment frame); full-scan intermediates (candidates, verified
    pairs) remain in-session only — they are query OUTPUT mass, not
    reusable state.
    """
    spark = t[source].sparkSession
    app_id, plan_hash, files = artifact_cache_key(spark, t[source])
    # key[:2] is replace_plan_artifact's eviction scope — fold the
    # artifact name INTO the first element so a rewrite evicts only
    # THIS artifact for THIS plan, never a different corpus' frames.
    key = ((name, app_id), plan_hash, files)
    df = _FRAME_CACHE.get(key)
    if df is None:
        # The disk key identifies the corpus by its input-file
        # fingerprints — a FILELESS source (createDataFrame corpora in
        # tests, views over literals) has none, so two distinct
        # synthetic corpora would collide on one digest.  Those build
        # in-session only (the plan-hash-keyed cache still separates
        # them).
        if disk and files:
            from ..artifacts import load_or_build_frame

            df = persist_tracked(
                load_or_build_frame(spark, name, t[source], build)
            )
        else:
            df = persist_tracked(build())
        replace_plan_artifact(_FRAME_CACHE, key, df)
    return df

P = X.HASH_MOD


# --- shared corpus with planted near-duplicates -----------------------------
# (construction lives in functions/corpus.py — registry-free — so
# pipeline_prep can share it without an operator-module import cycle)

from ..functions.corpus import CORPUS_SQL as _CORPUS_D  # noqa: E402
from ..functions.corpus import planted_corpus  # noqa: E402,F401

_WORDS = X.WORDS_S  # single source in functions/text

#: DuckDB per-word polyhash array (mirrors functions.text.word_hashes)
_WORD_HASHES_D = (
    f"list_transform({_WORDS}, t -> list_reduce(list_prepend(CAST(0 AS BIGINT),"
    f" list_transform(string_split(t, ''), x -> CAST(ascii(x) AS BIGINT))),"
    f" (acc, x) -> (acc * 31 + x) % {P}))"
)

#: DuckDB k=3 shingle keys composed from per-word hashes (mirrors
#: functions.text.shingles_from_word_hashes): each word's characters
#: fold once; shingle keys are flat O(k) combines.
_SHINGLES_D = (
    f"list_distinct(list_transform(range(1, greatest(len(wh) - 2, 0) + 1),"
    f" i -> ((wh[i] * 1000003 + wh[i + 1]) % {P} * 1000003 + wh[i + 2]) % {P}))"
)

#: CTE prefix producing sh(doc_id, shingles) from corpus via wh
_SH_CTE_D = f"""
    whs AS (SELECT doc_id, {_WORD_HASHES_D} AS wh FROM corpus),
    sh AS (SELECT doc_id, {_SHINGLES_D} AS shingles FROM whs)"""


# --- exact dedup ------------------------------------------------------------

@_q(
    "dedup_exact",
    "north-star: exact dedup via normalized-fingerprint hash groupBy",
    f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    ),
    fp AS (SELECT doc_id, md5(array_to_string({_WORDS}, ' ')) AS fp_md5 FROM corpus)
    SELECT fp_md5, CAST(min(doc_id) AS BIGINT) AS canonical_doc,
           count(*) AS n_copies
    FROM fp GROUP BY fp_md5 HAVING count(*) > 1
    """,
)
def _exact(spark, t):
    docs = t["documents"]
    corpus = docs.select("doc_id", "text").unionAll(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
    )
    return (
        corpus.select("doc_id", X.fingerprint_md5("text").alias("fp_md5"))
        .groupBy("fp_md5")
        .agg(F.min("doc_id").alias("canonical_doc"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


# --- exact n-gram Jaccard via inverted shingle index ------------------------

_JACCARD_TAU = 0.5

#: a shingle holding more than this fraction of the total shingle mass
#: is a "hot" heavy hitter (stopword n-gram).  By pigeonhole at most
#: 1/fraction shingles can exceed the cap, so the hot set is BOUNDED
#: (<= _HOT_SHINGLE_LIMIT here) no matter how large the corpus is —
#: safe to collect to the driver and embed as a literal.
_HOT_SHINGLE_MASS_FRACTION = 2e-4

#: the pigeonhole bound above, enforced mechanically: the hot-shingle
#: query is capped with .limit() so the driver-memory contract is in
#: the plan itself, not just this comment.  Truncation (impossible by
#: pigeonhole, but belt-and-braces) would still be CORRECT — the
#: reorder only needs a total order common to all docs, and any subset
#: of the hot set still yields one.
_HOT_SHINGLE_LIMIT = int(1 / _HOT_SHINGLE_MASS_FRACTION)


#: deterministic hot-shingle estimation sample: doc_id % MOD == 0.
#: SAFE TO SAMPLE: the PPJoin prefix lemma holds for ANY total order
#: common to all docs, so the hot set only shapes the order (a skew /
#: performance heuristic) — recall and results are exact regardless of
#: which shingles land in it.  Stopword n-grams are corpus-wide by
#: nature, so a 1/8 deterministic sample ranks the same heavy hitters
#: at 1/8 the aggregation cost.
_HOT_SAMPLE_MOD = 8


#: memo for the hot-shingle set and the ngram pass count, keyed by the
#: corpus' input-file fingerprints (+ the constants that parameterize
#: each estimate) — the pagerank _PASS_MEMO discipline (r13): both are
#: PERF choices (the hot set only shapes the candidate-generation
#: order, the pass count only partitions the candidate space; exact
#: verification makes results identical either way), so serving them
#: from the memo on a repeated build skips three small driver jobs
#: per build without any correctness surface.  Fileless (in-memory)
#: corpora have no fingerprints and simply re-estimate.  Registered
#: under the ``caching.register_value_memo`` survive-release contract
#: (r16): it holds derived plan parameters, not executor memory.
_ESTIMATE_MEMO: dict = register_value_memo({})


def _estimate_memo_key(df: DataFrame, *extra):
    from ..caching import input_fingerprints

    fps = input_fingerprints(df)
    if not fps:
        return None
    return (repr(fps), *extra)


def _hot_shingles(sh: DataFrame) -> list[int]:
    """Heavy-hitter shingles, collected under an explicit driver bound.

    ``df > cap`` with ``cap >= total_mass * fraction`` admits fewer than
    ``1/fraction`` shingles by pigeonhole; the ``.limit()`` makes that
    bound part of the physical plan (CollectLimit) rather than an
    argument in a comment, so the collect can never return more than
    ``_HOT_SHINGLE_LIMIT`` rows regardless of corpus size.

    Runs on the deterministic ``doc_id % _HOT_SAMPLE_MOD`` sample (see
    the lemma note above — exactness does not depend on the hot set).
    Total sample shingle mass is the marginal of the sample's
    document-frequency aggregation (``Σ_shingles df == Σ_docs
    |shingles|``), so it is read off the CACHED shingle sets as one
    cheap sum of array sizes — no shingle explode, no groupBy — and
    the df aggregation runs exactly once, inside the single top-k
    collect (it needs ``cap``, hence the mass, as its filter bound).
    The hot set is ordered (df DESC, shingle) before the limit, so
    even a limit that fired (impossible by pigeonhole) would keep the
    HOTTEST shingles and stay deterministic, never
    partition-order-dependent.
    """
    memo_key = _estimate_memo_key(
        sh,
        "hot",
        _HOT_SAMPLE_MOD,
        _HOT_SHINGLE_MASS_FRACTION,
        _HOT_SHINGLE_LIMIT,
    )
    if memo_key is not None and memo_key in _ESTIMATE_MEMO:
        return _ESTIMATE_MEMO[memo_key]
    sample = sh.filter(F.col("doc_id") % _HOT_SAMPLE_MOD == 0)
    total_mass = sample.agg(F.sum(F.size("shingles"))).first()[0] or 0
    cap = max(1000 // _HOT_SAMPLE_MOD, int(total_mass * _HOT_SHINGLE_MASS_FRACTION))
    freq = (
        sample.select(F.explode("shingles").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    hot = [
        r[0]
        for r in freq.filter(F.col("df") > cap)
        .orderBy(F.col("df").desc(), F.col("shingle").asc())
        .limit(_HOT_SHINGLE_LIMIT)
        .collect()
    ]
    assert len(hot) <= _HOT_SHINGLE_LIMIT
    if memo_key is not None:
        _ESTIMATE_MEMO[memo_key] = hot
    return hot


@_q(
    "dedup_ngram_jaccard",
    "north-star: exact n-gram Jaccard near-dup pairs (inverted-index join, no cross join)",
    f"""
    WITH corpus AS ({_CORPUS_D}),
    {_SH_CTE_D},
    inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    sized AS (SELECT doc_id, len(shingles) AS n_sh FROM sh)
    SELECT doc_a, doc_b,
           round(CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared), 6) AS jaccard
    FROM shared
    JOIN sized sa ON sa.doc_id = doc_a
    JOIN sized sb ON sb.doc_id = doc_b
    WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= {_JACCARD_TAU}
    """,
)
def _ngram_jaccard(spark, t):
    # Prefix-filtered exact set-similarity join (PPJoin-style): two sets
    # with Jaccard >= tau MUST share a shingle within their first
    # |s| - ceil(tau*|s|) + 1 shingles under ANY canonical total order,
    # so only those prefixes are inverted-indexed.  The canonical order
    # is (is_hot, shingle hash): heavy-hitter shingles sort LAST, so a
    # doc's prefix holds its rarest shingles and a hot stopword shingle
    # (df² candidate fan-out, the skew that melts a 100 TB corpus) only
    # enters the candidate join for docs made almost entirely of hot
    # shingles.  Recall is exactly preserved — the lemma holds for any
    # common total order — and the reorder is doc-local array math on
    # the cached shingle sets: no extra shuffle, unlike a df-join +
    # per-doc window (measured 1.4-2.8 s slower at sf0.1).  The exact
    # verification (array_intersect on the full sets) discards false
    # positives, so the result set is identical to the oracle's full
    # inverted-index join.
    #
    # BOUNDED-SCRATCH EXECUTION (the fourth-decade fix): every stage of
    # the one-shot plan measured exactly linear at sf5/sf25, yet sf125
    # died on shuffle disk — the SUM of linear spill footprints (the
    # self-join's two sorts + exchanges, the candidate distinct, the
    # verify joins shipping two shingle arrays per pair) exceeded one
    # node's scratch.  When the estimated in-flight bytes exceed the
    # configured budget, the candidate space is processed in K disjoint
    # hash-range passes over the PREFIX shingle: pass k restricts the
    # inverted index to shingles with shingle % K == k, runs the same
    # candidate join + exact verification, and eagerly materializes its
    # (output-sized, tiny) verified pairs via localCheckpoint so the
    # pass's shuffle files become unreferenced — ContextCleaner frees
    # them before pass k+1 runs.  EXACT by the same prefix lemma: a
    # qualifying pair shares >= 1 prefix shingle s; s lands in exactly
    # one hash range, so the pair surfaces in that pass (ranges where
    # the pair shares no prefix shingle simply never see it); per-pass
    # verification recomputes Jaccard from the FULL shingle sets, so
    # duplicate discoveries across ranges are bit-identical rows and
    # the final distinct restores exact one-pass semantics.  Peak
    # in-flight bytes drop ~K-fold; wall time pays K job waves — the
    # bytes-per-row discipline of the span-prune rewrite applied to
    # bytes-IN-FLIGHT.
    sh = _minhash_shingles(t)
    hot = _hot_shingles(sh)
    if hot:
        hot_lit = F.lit(sorted(hot))
        ordered = F.concat(
            F.filter("shingles", lambda s: ~F.array_contains(hot_lit, s)),
            F.filter("shingles", lambda s: F.array_contains(hot_lit, s)),
        )
    else:  # common case below heavy-hitter scale: pure hash order
        ordered = F.col("shingles")
    prefix_len = (
        F.size("shingles") - F.ceil(F.size("shingles") * F.lit(_JACCARD_TAU)) + 1
    ).cast("int")
    inv = sh.select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.posexplode(F.slice(ordered, 1, prefix_len)).alias("pos", "shingle"),
    )
    passes = _ngram_pass_count(spark, sh)
    if passes == 1:  # plan identical to the pre-K-pass form
        return _ngram_verify(_ngram_candidates(inv, positional=True), sh)
    get_json_logger().info(
        "ngram_jaccard bounded-scratch mode",
        extra={"fields": {"event": "ngram_bounded_scratch", "passes": passes}},
    )
    parts = []
    for k in range(passes):
        part = _ngram_verify(
            _ngram_candidates(inv.filter(F.col("shingle") % passes == k)), sh
        ).localCheckpoint(eager=True)
        parts.append(part)
        _release_pass_scratch(spark)
    out = parts[0]
    for part in parts[1:]:
        out = out.unionAll(part)
    return out.distinct()


def _ngram_candidates(inv: DataFrame, positional: bool = False) -> DataFrame:
    """Distinct candidate pairs from an inverted prefix index.

    PPJoin length filter: Jaccard >= tau forces
    min(|A|,|B|) >= tau * max(|A|,|B|)  (|A∩B| <= min and
    |A∩B| >= tau*|A∪B| >= tau*max), so size-incompatible candidate
    pairs are cut AT the join, before the distinct shuffle and the
    exact array_intersect verify.  Recall is exactly preserved.

    ``positional=True`` (r16, guide §2.3 — fewer rows into the
    verify joins) additionally applies PPJoin's POSITIONAL filter.
    Soundness: the canonical order is common to all docs and each
    prefix holds a doc's smallest elements, so for the LAST
    prefix-prefix match e (max position in BOTH docs — shared
    elements sort identically) every shared element < e is itself a
    prefix-prefix match; hence
    ``|A∩B| <= cnt + min(|A| - i_e, |B| - j_e)`` with ``cnt`` the
    number of prefix matches and ``i_e``/``j_e`` e's 1-based
    positions.  A pair whose bound falls below the required overlap
    ``tau/(1+tau) * (|A|+|B|)`` cannot reach Jaccard tau, so dropping
    it changes nothing — every surviving pair still passes the exact
    full-set verification.  The bound test multiplies out to
    ``bound * (1+tau) >= tau * (|A|+|B|)``: with tau = 0.5 both sides
    are EXACT in double arithmetic (halves of integers < 2^52), so no
    rounding can prune a qualifying pair.  The distinct's exchange is
    reused (same keys, a 3-long aggregate state instead of bare
    dedup).  NOT applied in bounded-scratch multi-pass mode: a pass
    sees only its hash range's matches, so ``cnt``/``i_e``/``j_e``
    would under-count and the bound would no longer be an upper bound
    on the full intersection.
    """
    joined = (
        inv.alias("a")
        .join(
            inv.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n_sh") >= F.col("b.n_sh") * F.lit(_JACCARD_TAU))
            & (F.col("b.n_sh") >= F.col("a.n_sh") * F.lit(_JACCARD_TAU)),
        )
    )
    if not positional:
        return joined.select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        ).distinct()
    pairs = (
        joined.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
            F.col("a.pos").alias("pos_a"),
            F.col("b.pos").alias("pos_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max("pos_a").alias("i_max"),   # 0-based position of the
            F.max("pos_b").alias("j_max"),   # last prefix-prefix match
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
    )
    bound = F.col("cnt") + F.least(
        F.col("n_a") - F.col("i_max") - 1, F.col("n_b") - F.col("j_max") - 1
    )
    return pairs.filter(
        bound * F.lit(1.0 + _JACCARD_TAU)
        >= (F.col("n_a") + F.col("n_b")) * F.lit(_JACCARD_TAU)
    ).select("doc_a", "doc_b")


def _ngram_verify(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact Jaccard verification of candidate pairs on full sets."""
    inter = F.size(F.array_intersect(F.col("sa.shingles"), F.col("sb.shingles")))
    jac = inter / (
        F.size(F.col("sa.shingles")) + F.size(F.col("sb.shingles")) - inter
    )
    return (
        cand.join(sh.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sh.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jac >= _JACCARD_TAU)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


#: forced pass count for the bounded-scratch ngram join; 0 = size from
#: the scratch budget.  Runtime-settable (``spark.conf.set``).
_NGRAM_PASSES_CONF = "spark.graft.ngram.passes"

#: shuffle-scratch budget (GiB) one ngram-join pass may keep in flight.
#: Measured at sf125 (6.25M-doc corpus, the decade the one-shot plan
#: could not finish): budget 24 -> K=4, 563 s, ~39 GB peak node
#: scratch (pass spill + persisted frames + async-cleanup lag);
#: budget 12 -> K=8, 443 s, ~20 GB peak — MORE passes were FASTER
#: because each pass's sort-merge sorts fit memory instead of
#: spilling.  12 GiB is the default: it keeps the engine's heaviest
#: operator under the ~27 GB peak of the next-heaviest
#: (``corpus_substring_dedup``) and costs nothing at lower decades
#: (sf25: K=2 at 49 s vs K=1 at 53 s; sf<=1: K=1, plan unchanged).
_NGRAM_SCRATCH_GB_CONF = "spark.graft.ngram.scratchBudgetGb"
_NGRAM_SCRATCH_GB_DEFAULT = 12.0

#: calibrated in-flight bytes per prefix-index row.  Measured at sf5
#: and sf25 (SURVEY §8): candidate fan-out Σdf² tracks prefix rows at a
#: stable ~4.7x (34.7M/7.38M and 172.8M/36.9M), and the pass's spill is
#: the self-join's two sorts + exchanges (~3 x 20 B/row) plus the
#: candidate distinct + verify joins shipping two INT shingle arrays
#: per surviving pair (~4.7 x ~90 B) — ~480 B/prefix row, rounded to
#: 512 for headroom.  Extrapolated sf125 (~185M prefix rows) -> ~95 GB
#: one-shot, consistent with the observed >59 GB disk DNF.
_NGRAM_SPILL_BYTES_PER_PREFIX_ROW = 512


def _ngram_pass_count(spark, sh: DataFrame) -> int:
    """Number of disjoint hash-range passes for the candidate join.

    ``ceil(estimated_in_flight_bytes / budget)`` with the estimate one
    cheap aggregate over the CACHED shingle frame (Σ per-doc prefix
    length x the calibrated bytes/row constant).  Below heavy-hitter
    scale this returns 1 and the plan is byte-identical to the
    single-pass form, so the sf0.01 oracle gate exercises the same
    physical plan it always certified.
    """
    # validate both confs up front: a typo'd or zero/negative runtime
    # value must be a clear config error, not a ZeroDivisionError out
    # of the ceil below (r11 ADVICE).
    try:
        forced = int(spark.conf.get(_NGRAM_PASSES_CONF, "0"))
    except ValueError as e:
        raise ValueError(
            f"{_NGRAM_PASSES_CONF} must be an integer pass count"
        ) from e
    if forced > 0:
        return forced
    raw = spark.conf.get(_NGRAM_SCRATCH_GB_CONF, str(_NGRAM_SCRATCH_GB_DEFAULT))
    try:
        budget_gb = float(raw)
    except ValueError as e:
        raise ValueError(
            f"{_NGRAM_SCRATCH_GB_CONF} must be a number of GiB, got {raw!r}"
        ) from e
    if budget_gb <= 0:
        raise ValueError(
            f"{_NGRAM_SCRATCH_GB_CONF} must be positive, got {raw!r}"
        )
    # floor at one byte so a sub-1e-9 GiB budget degrades to
    # max-passes, never a divide-by-zero.
    budget_bytes = max(1, int(budget_gb * 2**30))
    memo_key = _estimate_memo_key(
        sh, "ngram_passes", budget_bytes, _JACCARD_TAU
    )
    if memo_key is not None and memo_key in _ESTIMATE_MEMO:
        return _ESTIMATE_MEMO[memo_key]
    prefix_rows = (
        sh.agg(
            F.sum(
                (
                    F.size("shingles")
                    - F.ceil(F.size("shingles") * F.lit(_JACCARD_TAU))
                    + 1
                ).cast("long")
            )
        ).first()[0]
        or 0
    )
    est = prefix_rows * _NGRAM_SPILL_BYTES_PER_PREFIX_ROW
    passes = max(1, -(-int(est) // budget_bytes))
    if memo_key is not None:
        _ESTIMATE_MEMO[memo_key] = passes
    return passes


def _release_pass_scratch(spark) -> None:
    """Free a finished pass's shuffle files before the next pass runs.

    ``localCheckpoint(eager=True)`` truncated the pass result's lineage,
    so its upstream ShuffleDependencies become unreachable once the
    Python-side plan objects drop; a JVM GC is what actually triggers
    ContextCleaner to delete the shuffle files (same discipline as
    scripts/scale_check.py — a 32g heap GCs too rarely on its own and
    the temp dir fills).
    """
    import gc

    gc.collect()  # release py4j refs to the pass's plan objects first
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # non-py4j session (e.g. Spark Connect): best effort
        pass


# --- MinHash + LSH ----------------------------------------------------------

_NUM_HASHES, _BANDS, _ROWS = 64, 16, 4

_SIG_D = (
    f"list_transform(range(0, {_NUM_HASHES}),"
    f" i -> coalesce(list_min(list_transform(shingles,"
    f"   s -> ((2*i + 1) * s + i*i + 1) % {P})), {P}))"
)
_BANDS_D = (
    f"list_transform(range(0, {_BANDS}),"
    f" b -> list_reduce(list_prepend(CAST(b AS BIGINT),"
    f"   list_slice(sig, b * {_ROWS} + 1, b * {_ROWS} + {_ROWS})),"
    f"   (acc, x) -> (acc * 1000003 + x) % {P}))"
)


def _wh_of(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, wh ARRAY<INT>): THE tokenize+hash
    recipe — single spelling shared by the standing corpus frame and
    the streaming per-batch feature compute, so the two paths cannot
    drift (values < HASH_MOD = 2^31 - 1, exact narrowing).

    r16: tokenize stays JVM codegen (regexp_extract_all); the per-word
    char fold runs in the vectorized Arrow kernel instead of the
    interpreted ``aggregate(split(t,''), ...)`` lambda — bit-identical
    values (tests/test_wordhash_kernel.py), and ``keep_ws=False`` means
    the word strings never ship back out of the Python worker."""
    from ..functions.wordhash_kernel import with_word_hashes

    return with_word_hashes(
        docs.select("doc_id", X.words("text").alias("ws")), keep_ws=False
    )


def _shingles_of(wh_frame: DataFrame) -> DataFrame:
    """(doc_id, wh) -> canonical sorted INT shingle sets — the single
    shingle spelling (same sharing rationale as ``_wh_of``)."""
    return wh_frame.select(
        "doc_id",
        F.array_sort(X.shingles_from_word_hashes("wh"))
        .cast("array<int>")
        .alias("shingles"),
    )


def _word_hash_frame(t) -> DataFrame:
    """Persisted per-doc word-hash arrays of the planted corpus — the
    ONE tokenize-and-hash pass the whole fuzzy-dedup family derives
    from (shingle sets for jaccard/minhash/edit, the SimHash token
    stream); served as a shared session artifact so a workload running
    several dedup variants hashes the corpus text exactly once.

    Stored ARRAY<INT> (values < HASH_MOD = 2^31 - 1, exact narrowing —
    halves the cached frame like the shingle sets): the two consumers
    are ``shingles_from_word_hashes`` (which widens each element to
    BIGINT before its multiply) and the SimHash kernel (numpy int64
    re-cast)."""
    return _family_frame(
        "word_hashes",
        t,
        lambda: _wh_of(planted_corpus(t["documents"])),
    )


def _minhash_shingles(t) -> DataFrame:
    """Persisted sorted shingle sets of the planted corpus (shared
    session artifact; min/intersect are order-insensitive, but sorting
    gives every consumer one canonical form).

    Stored as ARRAY<INT>: every shingle key is < HASH_MOD = 2^31 - 1
    by construction, so the narrowing cast is exact, and it HALVES the
    family's dominant bytes — this frame's cache blocks, the PPJoin
    prefix explode, and the Jaccard verify joins that ship two full
    shingle arrays per candidate pair (at sf125's dup density the
    BIGINT form's spill exceeded a 53 GB single-node disk).  Every
    consumer reads the values for equality/size/intersect or re-casts
    to int64 inside an Arrow kernel before doing arithmetic; nothing
    multiplies the INT column in Spark SQL, so no 32-bit wrap is
    reachable."""
    return _family_frame(
        "shingle_sets",
        t,
        lambda: _shingles_of(_word_hash_frame(t)),
        disk=True,
    )


def _band_candidates(t) -> DataFrame:
    """LSH-banded candidate pairs (doc_a < doc_b) from shingle sets —
    a shared session artifact.

    Scale-first formulation: the 64 min-hashes and 16 band keys are
    computed MAP-SIDE by an Arrow-batched kernel over the cached
    shingle sets (the assign_to_centroids playbook) — pure int64
    arithmetic mirroring functions.text.minhash_signature/band_keys
    exactly ((2i+1)·s + i²+1 mod P is < 2^48, the band fold's
    acc·1000003 + m < 2^52, so nothing wraps), with np.minimum.reduceat
    folding each doc's segment.  That removes both the corpus-shingle
    explode + 64-aggregate shuffle of the previous SQL form and its
    ~1.7 s of per-consumer driver-side plan construction; the only
    shuffle left is the band-key self-join, which is the operator's
    irreducible candidate-generation step.  Docs with zero shingles
    are skipped exactly as they dropped out of the groupBy (their
    pairs never verify).  Oracles are unchanged — values identical.
    Shared by the Jaccard-verified and edit-distance-verified dedup
    queries — one built frame, one cached compute."""
    return _family_frame("band_candidates", t, lambda: _build_band_candidates(t))


def _build_band_candidates(t) -> DataFrame:
    bands = _band_keys_frame(_minhash_shingles(t))
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _band_keys_frame(sh, width: int | None = None) -> DataFrame:
    """(doc_id, band_key) rows — 16 per doc — from a shingle frame via
    the map-side Arrow kernel (no shuffle besides the repartition).
    Shared by the full self-join candidate build and the incremental
    delta-batch query's standing index.

    ``width`` sizes the kernel repartition; the default
    (defaultParallelism) fits the corpus-sized consumers, whose cache
    partitioning can collapse to a handful of scan splits.  Callers
    whose input is ALREADY scan-partitioned by bytes (the streaming
    per-batch state reads) pass their input's partition count so a
    small batch does not fan 32 near-empty Python tasks + state files
    out of a one-split read — scan partitioning via
    ``maxPartitionBytes`` is the scale-adaptive width (a large batch
    file splits into proportionally more partitions)."""
    spark = sh.sparkSession

    def kernel(batches):
        import numpy as np
        import pandas as pd

        mult = 2 * np.arange(_NUM_HASHES, dtype=np.int64) + 1
        add = np.arange(_NUM_HASHES, dtype=np.int64) ** 2 + 1
        for pdf in batches:
            sets = [np.asarray(s, dtype=np.int64) for s in pdf["shingles"]]
            keep = [i for i, s in enumerate(sets) if s.size]
            if not keep:
                continue
            lens = np.array([sets[i].size for i in keep], dtype=np.int64)
            flat = np.concatenate([sets[i] for i in keep])
            offsets = np.zeros(len(keep), dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            sig = np.empty((len(keep), _NUM_HASHES), dtype=np.int64)
            for i in range(_NUM_HASHES):
                sig[:, i] = np.minimum.reduceat(
                    (mult[i] * flat + add[i]) % P, offsets
                )
            bk = np.empty((len(keep), _BANDS), dtype=np.int64)
            for b in range(_BANDS):
                acc = np.full(len(keep), b, dtype=np.int64)
                for r in range(_ROWS):
                    acc = (acc * 1000003 + sig[:, b * _ROWS + r]) % P
                bk[:, b] = acc
            ids = pdf["doc_id"].to_numpy()[keep]
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(ids, _BANDS),
                    "band_key": bk.reshape(-1),
                }
            )

    par = width or spark.sparkContext.defaultParallelism
    return sh.repartition(par, "doc_id").mapInPandas(
        kernel, "doc_id long, band_key long"
    )


@_q(
    "dedup_minhash_lsh",
    "north-star: MinHash signatures + LSH banding + exact Jaccard verification",
    f"""
    WITH corpus AS ({_CORPUS_D}),
    {_SH_CTE_D},
    sig AS (SELECT doc_id, shingles, {_SIG_D} AS sig FROM sh),
    bands AS (SELECT doc_id, unnest({_BANDS_D}) AS band_key FROM sig),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                 / (len(sa.shingles) + len(sb.shingles)
                    - len(list_intersect(sa.shingles, sb.shingles))), 6) AS jaccard
    FROM cand
    JOIN sh sa ON sa.doc_id = doc_a
    JOIN sh sb ON sb.doc_id = doc_b
    WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
          / (len(sa.shingles) + len(sb.shingles)
             - len(list_intersect(sa.shingles, sb.shingles))) >= {_JACCARD_TAU}
    """,
)
def _minhash_lsh(spark, t):
    # The verified-pairs frame is tiny (near-dup pairs only) and is the
    # exact frame _cluster_canonical consumes; serving it as a session
    # artifact means a workload running both queries verifies once.
    def build():
        sh = _minhash_shingles(t)
        cand = _band_candidates(t)
        inter = F.size(
            F.array_intersect(F.col("sa.shingles"), F.col("sb.shingles"))
        )
        jac = inter / (
            F.size(F.col("sa.shingles")) + F.size(F.col("sb.shingles")) - inter
        )
        return (
            cand.join(sh.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
            .join(sh.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
            .filter(jac >= _JACCARD_TAU)
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        )

    return _family_frame("minhash_verified_pairs", t, build)


# --- incremental (delta-batch) dedup ----------------------------------------

#: the "new crawl batch": a deterministic 1/7 slice of the planted
#: corpus.  doc_id % 7 == 3 catches both original docs and planted
#: copies (1e6 % 7 == 1 shifts a copy's residue by one), so the batch
#: has near-dup partners in BOTH directions — batch-vs-corpus and
#: batch-internal.
_DELTA_MOD, _DELTA_REM = 7, 3


@_q(
    "dedup_delta_batch",
    "north-star: incremental dedup — a new crawl batch deduplicated "
    "against the standing corpus via the persisted band index "
    "(cost follows the batch, not the corpus)",
    f"""
    WITH corpus AS ({_CORPUS_D}),
    {_SH_CTE_D},
    sig AS (SELECT doc_id, shingles, {_SIG_D} AS sig FROM sh),
    bands AS (SELECT doc_id, unnest({_BANDS_D}) AS band_key FROM sig),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        WHERE a.doc_id % {_DELTA_MOD} = {_DELTA_REM}
           OR b.doc_id % {_DELTA_MOD} = {_DELTA_REM}
    )
    SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                 / (len(sa.shingles) + len(sb.shingles)
                    - len(list_intersect(sa.shingles, sb.shingles))), 6)
               AS jaccard
    FROM cand
    JOIN sh sa ON sa.doc_id = doc_a
    JOIN sh sb ON sb.doc_id = doc_b
    WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
          / (len(sa.shingles) + len(sb.shingles)
             - len(list_intersect(sa.shingles, sb.shingles))) >= {_JACCARD_TAU}
    """,
)
def _delta_batch(spark, t):
    """Incremental dedup: the production shape the full-rescan family
    lacks (r13 verdict #5).  A real 100 TB pipeline deduplicates each
    NEW crawl batch against the existing corpus; rescanning the corpus
    per batch is the thing that doesn't scale.

    Engine shape: the corpus's (doc_id, band_key) index and shingle
    sets are STANDING artifacts (``_family_frame`` in-session; at
    production scale the same frames live as parquet tables bucketed
    by band_key).  A batch query then pays:

    - banding/shingling for the BATCH side only (the expensive text
      processing — tokenize, hash, 64 minhashes — is never redone for
      the corpus);
    - one candidate join of the slim batch bands against the standing
      index — the batch side is batch-sized, so AQE broadcasts it and
      the index side never shuffles (asserted in
      tests/test_plan_shapes.py); on a cluster the bucketed index
      makes this a partition-pruned probe;
    - batch-internal candidates via the batch bands' self-join
      (batch-sized both sides);
    - exact Jaccard verification on the matched pairs only.

    Output = the full-corpus minhash pair set restricted to pairs
    touching the batch — the DuckDB oracle recomputes from scratch and
    restricts, so a hash match certifies the incremental path against
    the batch-recompute semantics.

    The registry entry pins the mod-residue certification FIXTURE;
    the public operator shape is ``delta_batch_pairs`` (r14 verdict
    #7), which takes an arbitrary caller-supplied batch predicate.
    """
    return delta_batch_pairs(
        t, F.col("doc_id") % _DELTA_MOD == _DELTA_REM
    )


def delta_batch_pairs(t, batch_pred) -> DataFrame:
    """Public incremental-dedup entry: deduplicate an arbitrary BATCH
    — any boolean Column over the planted corpus' ``doc_id`` space —
    against the standing corpus band index (``_delta_batch`` docstring
    for the full plan shape and scale rationale).  Production callers
    pass their real batch spec (an ingest-date equality, an id range,
    a semi-join against a batch id table); the certification fixture
    is just one such predicate.  Cost follows the batch: the corpus
    side is the disk-persisted standing index (loaded, never rebuilt,
    in a fresh session) and the candidate join's batch side stays
    batch-sized."""
    sh = _minhash_shingles(t)
    bands = _family_frame(
        "band_frame", t, lambda: _band_keys_frame(_minhash_shingles(t)), disk=True
    )
    delta_b = bands.filter(batch_pred)
    corpus_b = bands.filter(~batch_pred)
    cross = (
        delta_b.alias("d")
        .join(
            corpus_b.alias("c"),
            F.col("d.band_key") == F.col("c.band_key"),
        )
        .select(
            F.least(F.col("d.doc_id"), F.col("c.doc_id")).alias("doc_a"),
            F.greatest(F.col("d.doc_id"), F.col("c.doc_id")).alias("doc_b"),
        )
    )
    within = (
        delta_b.alias("x")
        .join(
            delta_b.alias("y"),
            (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
    )
    cand = cross.unionAll(within).distinct()
    inter = F.size(
        F.array_intersect(F.col("sa.shingles"), F.col("sb.shingles"))
    )
    jac = inter / (
        F.size(F.col("sa.shingles")) + F.size(F.col("sb.shingles")) - inter
    )
    return (
        cand.join(sh.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sh.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jac >= _JACCARD_TAU)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# --- streaming (micro-batch) incremental dedup ------------------------------

#: batch assignment for the two-micro-batch stream: doc_id % 3 <= 1 ->
#: batch 1, else batch 2.  The planted copies sit at +1e6 (≡ 1 mod 3),
#: so the near-dup pairs split across all emission shapes: d%3==0
#: pairs complete inside batch 1 (self-join path), d%3∈{1,2} pairs
#: cross the batch boundary (state-probe path).
_STREAM_BATCHES = 2


def _stream_batch_col(col: str) -> F.Column:
    return F.when(F.col(col) % 3 <= 1, F.lit(1)).otherwise(F.lit(2))


@_q(
    "dedup_stream_incremental",
    "north-star incremental/streaming: micro-batch dedup against a "
    "disk-persisted band-index state — each batch emits only the pairs "
    "its own arrival completes",
    f"""
    WITH corpus AS ({_CORPUS_D}),
    {_SH_CTE_D},
    sig AS (SELECT doc_id, shingles, {_SIG_D} AS sig FROM sh),
    bands AS (SELECT doc_id, unnest({_BANDS_D}) AS band_key FROM sig),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                 / (len(sa.shingles) + len(sb.shingles)
                    - len(list_intersect(sa.shingles, sb.shingles))), 6)
               AS jaccard,
           CAST(greatest(CASE WHEN doc_a % 3 <= 1 THEN 1 ELSE 2 END,
                         CASE WHEN doc_b % 3 <= 1 THEN 1 ELSE 2 END)
                AS INTEGER) AS batch
    FROM cand
    JOIN sh sa ON sa.doc_id = doc_a
    JOIN sh sb ON sb.doc_id = doc_b
    WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
          / (len(sa.shingles) + len(sb.shingles)
             - len(list_intersect(sa.shingles, sb.shingles))) >= {_JACCARD_TAU}
    """,
)
def _stream_incremental(spark, t):
    """Micro-batch streaming dedup with persistent index state — now a
    REAL Structured Streaming pipeline (r15, closing the r14 verdict's
    driver-loop residual): a parquet file source supplies the batches,
    ``foreachBatch`` runs the incremental body, and consecutive
    batches are drained by separate availableNow runs sharing one
    checkpoint, so every inter-batch boundary is a checkpoint-recovered
    query restart (see ``streaming/dedup_stream.py`` for the full
    machinery, including the at-least-once idempotence layout the
    redelivery test pins).

    EXECUTION CONTRACT: like the certified two-cycle poll
    (``lifecycle_queries._build_two_cycle``), this builder EXECUTES
    the streaming pipeline — the streaming run IS the query — and
    returns a frame over its sink.  Per micro-batch b,

    - shingle/band compute runs for batch b's NEW docs only (the same
      ``_wh_of``/``_shingles_of``/``_band_keys_frame`` recipe the
      standing corpus frames use — one spelling, no drift);
    - the batch's band+shingle frames land in per-batch immutable
      parquet state dirs (mode=overwrite keyed by the stream's own
      batchId — idempotent under foreachBatch's at-least-once);
    - candidates = (new bands x state bands) ∪ (new self-join) — the
      pairs whose arrival this batch completes, each emitted exactly
      once across the stream (a pair's emission batch is the max of
      its sides' batches);
    - exact Jaccard verification reads shingles from the seen-so-far
      index.

    The union over batches therefore equals the full-corpus minhash
    pair set labeled with emission batch — which is precisely the
    DuckDB oracle, so the hash match certifies cross-batch exactness
    (no pair lost at a boundary, none emitted twice).
    """
    import atexit
    import shutil
    import tempfile

    from ..streaming.dedup_stream import run_band_stream

    root = tempfile.mkdtemp(prefix="graft_dedup_stream_")
    # Registered BEFORE any write: the sink dirs must outlive the
    # (lazy) returned plan, so eager deletion is wrong, but a run that
    # dies mid-stream must still get swept at session exit.
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    planted = planted_corpus(t["documents"])
    batches = [
        planted.filter(_stream_batch_col("doc_id") == b).select(
            "doc_id", "text"
        )
        for b in range(1, _STREAM_BATCHES + 1)
    ]
    return run_band_stream(spark, batches, root, _JACCARD_TAU)


# --- edit-distance verification on the LSH candidates -----------------------

#: verification window: Levenshtein is O(L^2) per pair, so the verify
#: step compares fixed-length prefixes — bounding per-pair cost at any
#: corpus scale.  The planted duplicates append a token at the END, so
#: prefix distance for them is 0 (long docs) or <= the marker length.
_ED_PREFIX, _ED_TAU = 200, 20


@_q(
    "dedup_edit_distance",
    "north-star: edit-distance near-dup — MinHash-banded candidate generation, "
    "Levenshtein verification on bounded prefixes",
    f"""
    WITH corpus AS ({_CORPUS_D}),
    {_SH_CTE_D},
    sig AS (SELECT doc_id, shingles, {_SIG_D} AS sig FROM sh),
    bands AS (SELECT doc_id, unnest({_BANDS_D}) AS band_key FROM sig),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(lev AS INTEGER) AS edit_distance,
           round(1.0 - CAST(lev AS DOUBLE) / greatest(len(pa), len(pb), 1), 6)
               AS similarity
    FROM (
        SELECT doc_a, doc_b,
               substr(ca.text, 1, {_ED_PREFIX}) AS pa,
               substr(cb.text, 1, {_ED_PREFIX}) AS pb,
               levenshtein(substr(ca.text, 1, {_ED_PREFIX}),
                           substr(cb.text, 1, {_ED_PREFIX})) AS lev
        FROM cand
        JOIN corpus ca ON ca.doc_id = doc_a
        JOIN corpus cb ON cb.doc_id = doc_b
    ) WHERE lev <= {_ED_TAU}
    """,
)
def _edit_distance(spark, t):
    # Same two-phase shape as every fuzzy-dedup operator here: bounded
    # candidate generation (the MinHash band join — EXACTLY the frame
    # _minhash_lsh builds, so a workload running both shares the
    # persisted shingles and the band join via cached-plan matching),
    # then a different verifier — character-level Levenshtein, the
    # right tool when near-duplication is typo-/OCR-shaped rather than
    # token-shuffle-shaped.  The O(L^2) distance runs on fixed
    # {_ED_PREFIX}-char prefixes so per-pair verify cost is a constant,
    # never corpus- or document-length-proportional.
    corpus = planted_corpus(t["documents"])
    cand = _band_candidates(t)
    pa, pb = (
        F.substring(F.col("ca.text"), 1, _ED_PREFIX),
        F.substring(F.col("cb.text"), 1, _ED_PREFIX),
    )
    lev = F.levenshtein(pa, pb)
    return (
        cand.join(corpus.alias("ca"), F.col("ca.doc_id") == F.col("doc_a"))
        .join(corpus.alias("cb"), F.col("cb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            lev.alias("lev"),
            F.greatest(F.length(pa), F.length(pb), F.lit(1)).alias("den"),
        )
        .filter(F.col("lev") <= _ED_TAU)
        .select(
            "doc_a",
            "doc_b",
            F.col("lev").cast("int").alias("edit_distance"),
            F.round(1.0 - F.col("lev") / F.col("den"), 6).alias("similarity"),
        )
    )


# --- SimHash ----------------------------------------------------------------

#: SimHash near-dup threshold + blocking, the production web-scale
#: parameterization (Manku/Jain/Sarma, WWW'07 "Detecting Near-
#: Duplicates for Web Crawling"): hamming <= 3 on ~64-bit
#: fingerprints, with the paper's block-permutation tables expressed
#: relationally.  Split the 62 bits into b blocks; any pair within
#: hamming 3 differs in at most 3 blocks, so it agrees EXACTLY (by
#: pigeonhole) on some choice of b-3 blocks — one equality-join table
#: per C(b,3) choice of "blocks allowed to differ", keyed on the
#: CONCATENATION of the b-3 kept blocks, gives exact recall.  Key
#: width is 62·(b-3)/b bits, so b trades table count (C(b,3)) against
#: buckets per table (2^key_bits); candidate mass is
#: C(b,3) · N² / 2^key_bits, so the key must cover ~log2(N) bits for
#: the self-join to stay linear in N.  A FIXED b is therefore another
#: fixed-width quantizer (the disease the r8 sqrt(N) LSH rework
#: fixed): b=4's 15.5-bit keys were measured super-linear at the sf25
#: corpus (1.4M docs: 4 · N²/2^16 ≈ 6e7 candidate pairs, 18x wall
#: clock for 5x data).  So b is tiered from the cached corpus count —
#: exactly Manku's Table 1 tradeoff, picked at plan-build time:
#:   b=4:  4 tables, ~15-bit keys  (N up to ~2^15)
#:   b=5: 10 tables, ~24-bit keys  (N up to ~2^24)
#:   b=6: 20 tables, ~31-bit keys  (N up to ~2^31)
#:   b=7: 35 tables, ~35-bit keys  (beyond)
#: Blocking choice NEVER changes the output (exact recall + exact
#: bit_count verification), so the DuckDB oracle keeps the simplest
#: exact-recall form (b=4) at any scale.
_HAMMING_MAX = 3


def _simhash_blocking(n_docs: int) -> list[list[tuple[int, int]]]:
    """Per-table kept-block (offset, width) lists for corpus size N.

    Picks the smallest b in 4..7 whose kept-key width covers log2(N)
    (occupancy <= 1 per bucket), then enumerates the C(b,3) tables.
    """
    from itertools import combinations

    b = next(
        (bb for bb in (4, 5, 6) if (1 << (62 * (bb - 3) // bb)) >= n_docs),
        7,
    )
    w, r = divmod(62, b)
    widths = [w + (1 if i < r else 0) for i in range(b)]
    offs = [sum(widths[:i]) for i in range(b)]
    return [
        [(offs[j], widths[j]) for j in range(b) if j not in diff]
        for diff in combinations(range(b), _HAMMING_MAX)
    ]

_TOKHASH_D = (
    f"list_transform({_WORDS}, t -> list_reduce(list_prepend(CAST(0 AS BIGINT),"
    f" list_transform(string_split(t, ''), x -> CAST(ascii(x) AS BIGINT))),"
    f" (acc, x) -> (acc * 31 + x) % {P}))"
)
_WIDE_D = f"list_transform({_TOKHASH_D}, h -> h + (h * 2654435761 % {P}) * {P})"
# DuckDB's list_reduce cannot fold with an array accumulator, so the
# oracle computes the per-bit vote relationally: token hashes unnested,
# crossed with bit positions, summed, then re-folded into the 62-bit
# fingerprint.  Same arithmetic as functions.text.simhash64.
_SIMHASH_SH_D = f"""
    tok AS (SELECT doc_id, unnest({_WIDE_D}) AS h FROM corpus),
    votes AS (
        SELECT doc_id, j,
               sum(CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1
                        THEN 1 ELSE -1 END) AS s
        FROM tok, (SELECT unnest(range(0, 62)) AS j)
        GROUP BY doc_id, j
    ),
    sh AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, j) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS sh64
        FROM votes GROUP BY doc_id
    )"""


@_q(
    "dedup_simhash",
    "north-star: 62-bit SimHash + chunk blocking + hamming verification",
    f"""
    WITH corpus AS ({_CORPUS_D}),
    {_SIMHASH_SH_D},
    -- b=4 single-block keys: exact recall for hamming <= 3, so the
    -- oracle's output is identical to ANY _simhash_blocking tier.
    chunks AS (
        SELECT doc_id, sh64, c,
               (sh64 // CAST(pow(2, 16 * c) AS BIGINT)) % 65536 AS chunk_key
        FROM sh, (SELECT unnest(range(0, 4)) AS c)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.sh64 AS ha, b.sh64 AS hb
        FROM chunks a JOIN chunks b
          ON a.c = b.c AND a.chunk_key = b.chunk_key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= {_HAMMING_MAX}
    """,
)
def _simhash(spark, t):
    # Arrow-batched fingerprint kernel over the family's shared
    # persisted word-hash frame (the r8 mapInPandas playbook —
    # assign_to_centroids / pq._encode): per doc, widen each token
    # hash w = h + (h * 2654435761 % P) * P (pure int64 arithmetic,
    # |w| < P² < 2^62 so nothing wraps), take the ±1 vote per bit as
    # 2*ones - n_tokens, and assemble sh64 = Σ 2^j [votes_j > 0].
    # Everything is exact integer math on int64 — sums are associative
    # so the kernel is partition- and order-independent, and the values
    # are identical to the oracle's relational unnest + sum(CASE) form
    # (and to the 62-aggregate groupBy this replaces, which shuffled a
    # corpus-token-sized explode and evaluated 62 CASEs per token).
    # Zero-token docs are skipped exactly as they vanish from the
    # oracle's unnest.  Bit votes fold column-wise (62 passes over the
    # flat token array, np.add.reduceat per doc segment) so peak memory
    # is one int64 array of the batch's tokens, never tokens x 62.
    whf = _word_hash_frame(t)

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            wh_list = [np.asarray(w, dtype=np.int64) for w in pdf["wh"]]
            keep = [i for i, w in enumerate(wh_list) if w.size]
            if not keep:
                continue
            lens = np.array([wh_list[i].size for i in keep], dtype=np.int64)
            flat = np.concatenate([wh_list[i] for i in keep])
            wide = flat + (flat * 2654435761 % P) * P
            offsets = np.zeros(len(keep), dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            sh64 = np.zeros(len(keep), dtype=np.int64)
            for j in range(62):
                ones = np.add.reduceat((wide >> j) & 1, offsets)
                votes = 2 * ones - lens
                sh64 += (votes > 0).astype(np.int64) << j
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[keep],
                    "sh64": sh64,
                }
            )

    par = spark.sparkContext.defaultParallelism
    sh = persist_tracked(
        whf.repartition(par, "doc_id").mapInPandas(
            kernel, "doc_id long, sh64 long"
        )
    )
    # Corpus-tiered Manku tables (see _simhash_blocking): table c keys
    # on its kept blocks packed 16 bits apart (block width <= 16, kept
    # count <= 4, so the packed key stays under 2^62 — pure codegen bit
    # arithmetic on the fingerprint, no extra shuffle before the join).
    from .similarity import corpus_count

    n_docs = corpus_count(spark, t["documents"])
    n_docs += n_docs // 10 + 1  # planted corpus: +10% dups + 1 short doc
    tables = [
        F.struct(
            F.lit(ci).alias("c"),
            F.expr(
                " + ".join(
                    f"shiftleft((shiftright(sh64, {off}) & {(1 << w) - 1}),"
                    f" {16 * pos})"
                    for pos, (off, w) in enumerate(kept)
                )
            ).alias("chunk_key"),
        )
        for ci, kept in enumerate(_simhash_blocking(n_docs))
    ]
    chunks = sh.select(
        "doc_id", "sh64", F.explode(F.array(*tables)).alias("e")
    ).select("doc_id", "sh64", "e.c", "e.chunk_key")
    cand = (
        chunks.alias("a")
        .join(
            chunks.alias("b"),
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.chunk_key") == F.col("b.chunk_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sh64").alias("ha"),
            F.col("b.sh64").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.expr("ha ^ hb"))
    return cand.filter(hamming <= _HAMMING_MAX).select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    )


# --- embedding cosine near-dup ----------------------------------------------

def _cosine_vb(spark, t) -> DataFrame:
    """The embedding-dedup family's standing assignment frame:
    (vec_id, uv int32 micro-units, label, cell) of the planted corpus
    under the shared IVF quantizer, persisted WITH the micro-unit
    payload (quantized once, before the persist barrier — the
    pipeline_prep explode/HOF lesson).  Three consumers read it (the
    occupancy count and both run-scan sides); the delta-batch query
    treats it as the persisted index a new batch probes.

    STANDING INDEX (r14 verdict #1): disk-backed via ``_family_frame
    (disk=True)`` so a fresh session's delta batch loads the
    assignment instead of re-running quantize+assign over the corpus;
    the helpers are closed over (freevars) so their bodies fold into
    the disk key — an assignment-recipe edit is a cache miss."""
    from .pairscan import micro_unit_col
    from .similarity import assign_to_centroids, ivf_quantizer

    def build() -> DataFrame:
        corpus = t["embeddings"].unionAll(
            t["embeddings"]
            .filter(F.col("vec_id") % 20 == 0)
            .select(
                (F.col("vec_id") + 1_000_000).alias("vec_id"),
                "embedding",
                "label",
            )
        )
        vecs = corpus.select(
            "vec_id",
            "label",
            F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("v"),
        )
        return vecs.join(
            assign_to_centroids(vecs, ivf_quantizer(spark, t)), "vec_id"
        ).select("vec_id", micro_unit_col("v").alias("uv"), "label", "cell")

    return _family_frame("cosine_vb", t, build, disk=True, source="embeddings")


def _embedding_oracle() -> str:
    from ..functions.hyperplane import IDOT_D
    from ..operators.similarity import ivf_assign_cte

    # (label x learned-cell) blocked exact pairwise, on the family-wide
    # exact-integer cosine contract: micro-unit BIGINT dots (the
    # ``v_u`` CTE ivf_assign_cte already builds), one CAST-to-DOUBLE
    # each, one sqrt, one divide -- the identical correctly-rounded
    # IEEE op sequence the Spark kernel computes via exact int64
    # matmul, so both engines emit the same pairs with the same
    # cosines at every scale.
    idot_ab = IDOT_D.format(a="a.uv", b="b.uv")
    cos = (
        f"CAST({idot_ab} AS DOUBLE)"
        f" / sqrt(CAST(a.in2 AS DOUBLE) * CAST(b.in2 AS DOUBLE))"
    )
    return f"""
    WITH corpus AS (
        SELECT vec_id, embedding, label FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, embedding, label
        FROM embeddings WHERE vec_id % 20 = 0
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM corpus),
    {ivf_assign_cte()},
    u AS (
        SELECT vu.vec_id, c.label, a.cell, vu.uv,
               {IDOT_D.format(a="vu.uv", b="vu.uv")} AS in2
        FROM v_u vu
        JOIN assign a ON a.vec_id = vu.vec_id
        JOIN corpus c ON c.vec_id = vu.vec_id
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({cos}, 6) AS cosine
    FROM u a JOIN u b
      ON a.label = b.label AND a.cell = b.cell
     AND a.vec_id < b.vec_id
    WHERE {cos} >= {_COSINE_TAU}
    """


@_q(
    "dedup_embedding_cosine",
    "north-star: embedding cosine near-dup, (label x learned-cell) "
    "blocked, per-block kernel scan",
    _embedding_oracle(),
)
def _embedding_neardup(spark, t):
    """Embedding near-dup pair list as a per-(label, cell) bucket-pair
    run scan.

    Blocking: the GIVEN ``label`` column AND the learned corpus-scaled
    cell (the shared ``ivf_quantizer`` -- same-label vectors are
    similar by construction, so labels alone degenerate toward
    all-pairs-per-label; cells subdivide each label by learned
    geometry, the SemDeDup insight applied to the pair-list variant).
    A near-dup pair straddling a cell boundary is missed -- the same
    documented trade SemDeDup makes.  Within a block the scan is
    EXACT: the previous LSH-band candidate join is gone, so a
    cos >= tau pair inside a block is now found ALWAYS, not only when
    it also collided in a band (and the Σocc² banded pair list --
    which filled the disk at sf25 on the duplicate-heavy scaled
    corpus -- is never materialized).

    Kernel shape: the bucket-PAIR (triangle) RUN scan
    (``operators/pairscan.py`` — r12's cogroup bounded both task sides
    by occ/nb and fixed the r11 sf125 skew wall, but applyInPandas
    paid per-GROUP kernel machinery across sf125's ~200k bucket-pair
    groups and never finished; r13 keeps the bucket-pair shape and
    walks the run-sorted stream with ONE mapInPandas kernel per
    partition — see the pairscan module docstring for the full
    negative-result chain).  Per (label, cell) block the ids split
    into an occupancy-sized number of buckets and the (lo <= hi)
    bucket pairs are the scan units; every unordered pair lands in
    exactly one unit, so the pair list is exact at any bucket count
    (tests/test_salt_invariance.py).  Per unit one exact int64 matmul
    (adaptive chunk height) scores the bucket pair; only verified
    pairs (cos >= tau, oriented vec_a < vec_b) leave the kernel in
    streamed Arrow flushes -- the emitted row count is the true
    duplicate-pair mass, the query's actual output.

    Determinism: micro-unit quantization once, exact integer dots
    (in-kernel int64-headroom guard), cosine = CAST-to-double /
    sqrt(double * double) -- identical correctly-rounded IEEE ops on
    both engines; display rounding via Spark round(6) == DuckDB
    round(6) (both half-away-from-zero on these positive cosines).
    """
    from .pairscan import pair_scan

    vb = _cosine_vb(spark, t)
    # Bucket-pair run scan over (label, cell) blocks in pairs mode:
    # per-block occupancy-sized bucket counts (cold blocks pay zero
    # replication, hot blocks fan out into nb²/2 bounded units; the
    # 4096-row pairs-mode bucket bounds the worst-case per-chunk hit
    # list) — the shape that replaces the salted single scan AND the
    # r12 per-group cogroup, whose straggler/OOM/throughput negatives
    # are recorded in pairscan's module docstring.
    scan = pair_scan(vb, ["label", "cell"], _COSINE_TAU, mode="pairs")
    return scan.select("vec_a", "vec_b", F.round("cos", 6).alias("cosine"))


#: the embedding family's "new batch": a deterministic 1/9 slice of
#: the planted vector corpus (1e6 % 9 == 1 shifts a planted copy's
#: residue, so the batch holds originals AND copies — partners in both
#: directions, like the document-side _DELTA_MOD slice).
_EDELTA_MOD, _EDELTA_REM = 9, 4


def _delta_embedding_oracle() -> str:
    cosine = REGISTRY["dedup_embedding_cosine"].oracle
    return f"""
    SELECT vec_a, vec_b, cosine FROM ({cosine})
    WHERE vec_a % {_EDELTA_MOD} = {_EDELTA_REM}
       OR vec_b % {_EDELTA_MOD} = {_EDELTA_REM}
    """


@_q(
    "dedup_delta_embedding",
    "north-star: incremental embedding dedup — a new vector batch "
    "scanned against the standing IVF assignment, restricted to the "
    "cells the batch touches",
    _delta_embedding_oracle(),
)
def _delta_embedding(spark, t):
    """Incremental embedding dedup (r13 verdict #5, embedding leg):
    dedup a NEW vector batch against the standing corpus without
    rescanning every block.

    Engine shape: the (vec_id, uv, label, cell) assignment frame is
    the standing artifact (``_cosine_vb`` — persisted in-session; at
    production scale a parquet table partitioned by cell).  A batch
    query runs the BIPARTITE delta scan (``pair_scan mode="delta"``,
    r14): corpus x corpus pairs are never scored — per touched block
    the kernel crosses members against BATCH queries only, so total
    scored elements follow Σ occ·occ_batch (not Σ occ²), the corpus
    side ships un-replicated when the batch is small (query grid
    sized from batch occupancy), and blocks the batch never lands in
    drop at the occupancy join without being read.

    Oracle = the full-corpus cosine pair set restricted to pairs
    touching the batch — a from-scratch recompute certifying the
    incremental path's exactness (same pairs, same cosines).

    The registry entry pins the mod-residue certification FIXTURE;
    the public operator shape is ``delta_embedding_pairs`` (r14
    verdict #7), which takes an arbitrary caller-supplied batch
    predicate.
    """
    return delta_embedding_pairs(
        spark, t, F.col("vec_id") % _EDELTA_MOD == _EDELTA_REM
    )


def delta_embedding_pairs(spark, t, query_pred) -> DataFrame:
    """Public incremental embedding-dedup entry: scan an arbitrary
    BATCH — any boolean Column over ``vec_id`` — against the standing
    IVF assignment frame via the bipartite delta kernel
    (``_delta_embedding`` docstring for plan shape; cost follows
    Σ occ·occ_batch, untouched blocks never read)."""
    from .pairscan import pair_scan

    vb = _cosine_vb(spark, t)
    scan = pair_scan(
        vb, ["label", "cell"], _COSINE_TAU, mode="delta", query_pred=query_pred
    )
    return scan.select("vec_a", "vec_b", F.round("cos", 6).alias("cosine"))


# --- duplicate-cluster canonicalization --------------------------------------

#: safety ceiling for label propagation; with the pointer-doubling jump
#: convergence needs O(log(cluster diameter)) rounds, so 20 rounds cover
#: component diameters up to ~2^19 — far beyond any near-dup graph.
#: Hitting the cap logs a warning and returns the partial labels rather
#: than aborting (see propagate_min_labels).
_MAX_LABEL_ROUNDS = 20


def _cluster_oracle() -> str:
    # the pair graph IS the minhash query's output; DuckDB computes the
    # same components via recursive-CTE transitive closure (exact, and
    # cheap on the bounded near-dup graph).
    minhash = REGISTRY["dedup_minhash_lsh"].oracle
    return f"""
    WITH RECURSIVE pairs AS ({minhash}),
    e AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM e)
        UNION
        SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
    )
    SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS canonical_doc
    FROM reach GROUP BY a
    """


@_q(
    "dedup_cluster_canonical",
    "north-star: duplicate-cluster canonicalization "
    "(connected components via iterative min-label propagation)",
    _cluster_oracle(),
)
def _cluster_canonical(spark, t):
    # The step after pair finding in a real dedup pipeline: group the
    # near-dup pairs into connected components and elect min(doc_id)
    # as each cluster's canonical survivor, via iterative min-label
    # propagation.  Plan shape is tuned so each round is ONE Spark
    # action over a small, cached edge frame:
    #
    # - ``pairs`` is persisted BEFORE the union that mirrors it, so the
    #   expensive minhash pair-finding subtree runs exactly once (an
    #   unpersisted union would recompute it per branch).
    # - Self-loops are folded into a static, persisted edge frame
    #   ``e2``; joining e2 to the current labels on dst picks up each
    #   node's own label through its self-loop, so a round is a single
    #   equi-join + min-aggregate — no second "carry old label" join.
    # - Round 0 needs no join at all: with identity labels, the
    #   neighborhood min is just min(dst) per src.
    # - Convergence is read off the same aggregate (new label < old
    #   label), so the driver runs one count per round.
    #
    # Everything is shuffle-bounded on the (sparse) edge set, hence
    # executor-parallel at any scale.  A pointer-doubling jump
    # (label <- label(label)) after each neighbor-min round makes
    # convergence O(log diameter) instead of O(diameter), so a chain of
    # incrementally-edited near-dups (a~b, b~c, ...) of any realistic
    # length fits inside the round cap; if the cap is ever hit anyway
    # the current (partially-converged) labels are returned with a
    # JSON-log warning rather than aborting the whole query.
    pairs = _minhash_lsh(spark, t).select("doc_a", "doc_b")
    labels = propagate_min_labels(pairs)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").cast("long").alias("canonical_doc"),
    )


def propagate_min_labels(pairs):
    """Connected components of an undirected pair graph via min-label
    propagation with pointer doubling; returns (node, label) with label
    = the component's minimum node id.

    ``pairs`` is any DataFrame with two node-id columns named
    ``doc_a``/``doc_b`` (one row per undirected edge; duplicates are
    harmless under min-aggregation).
    """
    pairs = persist_tracked(pairs)
    # one generator pass emits both edge directions plus self-loops;
    # duplicates are harmless under min-aggregation, so no distinct
    # (and hence no extra shuffle) is needed.
    e2 = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                ),
                F.struct(
                    F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                ),
                F.struct(
                    F.col("doc_a").alias("src"), F.col("doc_a").alias("dst")
                ),
                F.struct(
                    F.col("doc_b").alias("src"), F.col("doc_b").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    e2 = persist_tracked(e2)
    # round 0: labels are the identity, so label(dst) == dst.
    cached = (
        e2.groupBy("src")
        .agg(F.min("dst").alias("label"))
        .withColumnRenamed("src", "node")
        .persist()
    )
    labels = cached
    for _ in range(_MAX_LABEL_ROUNDS):
        agg = persist_tracked(
            e2.join(labels, e2["dst"] == labels["node"])
            .groupBy("src")
            .agg(
                F.min("label").alias("new_label"),
                # the self-loop row (src==dst) carries src's own label
                F.min(
                    F.when(e2["src"] == e2["dst"], F.col("label"))
                ).alias("old_label"),
            )
        )
        changed = agg.filter(F.col("new_label") < F.col("old_label")).count()
        cached.unpersist()
        cached = agg
        labels = agg.select(
            F.col("src").alias("node"), F.col("new_label").alias("label")
        )
        if changed == 0:
            # Stability under neighbor-min from a monotone-descending,
            # component-confined labeling implies labels ARE the
            # component minima (any adjacent inequality would have
            # changed), so no jump is needed on the final round.
            break
        # pointer-doubling jump: label <- label(label).  Every label
        # value is itself a node (min over node ids) and every node has
        # a labels row (self-loops), so the self-join shortcuts chains:
        # effective propagation distance doubles per round -> O(log d)
        # rounds for diameter d.  Two scans of the same cached `agg`,
        # no extra persist.
        labels = (
            labels.alias("l")
            .join(
                labels.select(
                    F.col("node").alias("jnode"), F.col("label").alias("jlabel")
                ),
                F.col("l.label") == F.col("jnode"),
                "left",
            )
            .select(
                F.col("l.node").alias("node"),
                F.coalesce("jlabel", "l.label").alias("label"),
            )
        )
    else:  # pragma: no cover - safety ceiling
        get_json_logger().warning(
            "label propagation hit the round cap; returning "
            "partially-converged labels",
            extra={"event": "cluster_canonical_round_cap",
                   "rounds": _MAX_LABEL_ROUNDS},
        )
    # the final labels frame is materialized (the convergence count ran
    # on it), so the upstream caches can be released; lineage recompute
    # only happens if the final cache is also evicted.
    pairs.unpersist()
    e2.unpersist()
    return labels
