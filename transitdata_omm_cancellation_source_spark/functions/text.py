"""Text-analysis expression builders (north-star: LLM-data-pipeline ops).

Everything is a native Column expression — tokenization, shingling,
hashing, quality metrics all run JVM-side inside whole-stage codegen,
so a 100 TB documents table streams through the scan without Python.
The hash primitives are *portable*: the same fold is expressible in
DuckDB (list_reduce) so every operator built on them has an exact
oracle (verified in tests/test_text_primitives.py-style probes).

Scale note: ``polyhash`` is O(len) per value like any string hash;
for Spark-only paths ``F.xxhash64`` is cheaper, but the polynomial
form is used where the DuckDB oracle must reproduce the value
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Mersenne prime 2^31-1 — classic universal-hash modulus; keeps every
#: intermediate product within BIGINT range (see the MinHash kernel in
#: ``operators/dedup_fuzzy.py``).
HASH_MOD = 2_147_483_647

#: BPE-ish token pattern: letter runs, digit runs, single punctuation.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic (deterministic, dictionary-free).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "que", "de", "es"],
    "zh": ["de", "shi", "le", "wo", "ni"],
}

STOPWORDS_EN = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "at", "by", "be",
]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


#: The ONE tokenizer pattern — identical Spark-SQL / DuckDB text, with
#: the column spliced in.  WORDS_D (oracle side), WORDS_S (Spark side)
#: and ``words()`` are all derived from this single template, so no
#: pair of them can drift apart (previously three literal copies in
#: this file, and before that five more across operator modules).
_WORDS_PATTERN = "regexp_extract_all(lower({col}), '[a-z0-9]+', 0)"

#: DuckDB-side form of ``words("text")`` over the literal column ``text``.
WORDS_D = _WORDS_PATTERN.format(col="text")

#: Spark-SQL-side form of the same tokenizer over the literal column
#: name ``text`` — for call sites embedding the pattern in larger
#: ``F.expr`` strings where ``words()`` can't be composed.
WORDS_S = _WORDS_PATTERN.format(col="text")
NORM_TEXT_S = f"array_join({WORDS_S}, ' ')"


def words(col: Column | str) -> Column:
    """Lowercased alphanumeric word tokens (whitespace tokenizer core)."""
    return F.expr(_WORDS_PATTERN.format(col=_sql(col)))


def _sql(col: Column | str) -> str:
    """Column name usable inside F.expr (identifiers only)."""
    if isinstance(col, str):
        return col
    raise TypeError("expression helpers take column *names*")


def token_count_ws(col: str) -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.col(col), r"\s+"))


def token_count_bpe(col: str) -> Column:
    """BPE-ish regex token count (letters / digits / punct singles).

    The pattern's backslashes are doubled because Spark SQL string
    literals process escapes (DuckDB's do not).
    """
    pat = BPE_TOKEN_PATTERN.replace("\\", "\\\\")
    return F.size(F.expr(f"regexp_extract_all({col}, '{pat}', 0)"))


def polyhash(col_expr: str, mod: int = HASH_MOD) -> Column:
    """Deterministic polynomial string hash: fold(acc*31 + ascii(ch)).

    Portable to DuckDB via list_reduce — the shared primitive under
    fingerprinting, minhash and simhash oracles.
    """
    return F.expr(
        f"aggregate(split({col_expr}, ''), CAST(0 AS BIGINT),"
        f" (acc, x) -> (acc * 31 + ascii(x)) % {mod})"
    )


def fingerprint_md5(col: str) -> Column:
    """Document fingerprint: md5 of the normalized (lower, single-space
    alnum words) text — byte-identical across engines."""
    return F.md5(F.array_join(words(col), " "))


def word_shingles(col: str, k: int = 3) -> Column:
    """Distinct k-word shingles of the normalized text.

    Guarded for docs with fewer than ``k`` words: Spark's
    ``sequence(1, 0)`` is the *descending* [1, 0], so an unguarded
    transform would index position 0 and throw — short docs must yield
    an empty array (as the DuckDB ``range`` form naturally does).
    """
    toks = f"regexp_extract_all(lower({col}), '[a-z0-9]+', 0)"
    return F.expr(
        f"CASE WHEN size({toks}) >= {k} THEN"
        f" array_distinct(transform(sequence(1, size({toks}) - {k - 1}),"
        f" i -> concat_ws(' ', slice({toks}, i, {k}))))"
        f" ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def shingle_hashes(col: str, k: int = 3, mod: int = HASH_MOD) -> Column:
    """Distinct polyhashes of the k-word shingles (minhash input).

    Character-fold form; prefer the two-step word_hashes ->
    shingles_from_word_hashes pipeline in hot paths — it hashes each
    word once instead of re-folding every character of every
    (overlapping) shingle.
    """
    toks = f"regexp_extract_all(lower({col}), '[a-z0-9]+', 0)"
    return F.expr(
        f"CASE WHEN size({toks}) >= {k} THEN"
        f" array_distinct(transform(sequence(1, size({toks}) - {k - 1}),"
        f" i -> aggregate(split(concat_ws(' ', slice({toks}, i, {k})), ''),"
        f"               CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + ascii(x)) % {mod})))"
        f" ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )


def word_hashes(col: str, mod: int = HASH_MOD) -> Column:
    """Per-word polyhash array (each word's characters folded once)."""
    toks = f"regexp_extract_all(lower({col}), '[a-z0-9]+', 0)"
    return F.expr(
        f"transform({toks}, t -> aggregate(split(t, ''), CAST(0 AS BIGINT),"
        f" (acc, x) -> (acc * 31 + ascii(x)) % {mod}))"
    )


def shingles_from_word_hashes(
    wh_col: str, k: int = 3, mod: int = HASH_MOD
) -> Column:
    """Distinct k-shingle keys composed from per-word hashes with flat
    arithmetic: fold(acc * 1000003 + wh[i+j]) mod P.  O(k) ops per
    shingle instead of O(k * word_len) char folds; every product stays
    under 2^51.

    Each element is explicitly widened to BIGINT before the multiply:
    callers may store the word-hash array as ARRAY<INT> (every value
    is < 2^31 - 1, and the narrow form halves a cached frame's bytes —
    see dedup_fuzzy._word_hash_frame), and an un-widened INT * 1000003
    would wrap silently in non-ANSI mode.  On a BIGINT array the CAST
    is a no-op."""
    comb = f"CAST(element_at({wh_col}, i) AS BIGINT)"
    for j in range(1, k):
        comb = (
            f"(({comb}) * 1000003"
            f" + CAST(element_at({wh_col}, i + {j}) AS BIGINT)) % {mod}"
        )
    # CASE guard, not greatest(..., 0): sequence(1, 0) descends through
    # index 0 and element_at(wh, 0) throws — a < k-word doc must yield [].
    return F.expr(
        f"CASE WHEN size({wh_col}) >= {k} THEN"
        f" array_distinct(transform(sequence(1, size({wh_col}) - {k - 1}), i -> {comb}))"
        f" ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )


#: second 31-bit prime (2^31 - 19) and second fold multiplier for the
#: 62-bit positional span keys below.
HASH_MOD2 = 2_147_483_629
GRAM_MULT, GRAM_MULT2 = 1_000_003, 1_000_033


def gram_key_terms(element, n: int) -> str:
    """SQL text for a ~62-bit n-word span key from per-word hashes.

    ``element(j)`` returns the SQL expression for the j-th word hash of
    the span (0-based offset) in the target dialect — the same template
    serves Spark (``element_at(wh, i + j + 1)``) and DuckDB
    (``wh[i + j + 1]``), so both engines compute identical keys.

    Two INDEPENDENT polynomial folds (multipliers ``GRAM_MULT`` /
    ``GRAM_MULT2``, moduli ``HASH_MOD`` / ``HASH_MOD2``) combine as
    ``h1 * HASH_MOD2 + h2``: a single 31-bit fold collides constantly
    at corpus scale (birthday bound ~N²/2^32 — hundreds of millions of
    merged spans at 1e9 distinct grams), while the pair gives ~62 bits
    (~0.1 expected collisions at 1e9 grams; ~1e-7 of spans merged even
    at 1e12).  BIGINT-safe by construction: each fold keeps its
    accumulator below 2^31, each step's product below 2^52, and the
    final combine below 4.7e18 < 2^63 — identical overflow-free
    arithmetic on both engines.

    Contract note: operators keyed on this value define their span
    semantics OVER THE KEY (the same contract as the shingle-hash
    dedup family) — a key collision merges two distinct spans
    identically on both engines, so oracles stay exact.
    """
    h1 = element(0)
    h2 = element(0)
    for j in range(1, n):
        h1 = f"(({h1}) * {GRAM_MULT} + {element(j)}) % {HASH_MOD}"
        h2 = f"(({h2}) * {GRAM_MULT2} + {element(j)}) % {HASH_MOD2}"
    return f"(({h1}) * {HASH_MOD2} + ({h2}))"


def punct_ratio(col: str) -> Column:
    """Punctuation chars / total chars (0 for empty)."""
    total = F.length(F.col(col))
    punct = F.size(F.expr(f"regexp_extract_all({col}, '[^A-Za-z0-9\\\\s]', 0)"))
    return F.when(total > 0, punct / total).otherwise(F.lit(0.0))


def stopword_ratio(col: str) -> Column:
    """English stopword tokens / total word tokens (0 for empty)."""
    toks = words(col)
    in_list = ", ".join("'" + w + "'" for w in STOPWORDS_EN)
    hits = F.expr(
        f"size(filter(regexp_extract_all(lower({col}), '[a-z0-9]+', 0),"
        f" x -> x IN ({in_list})))"
    )
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def lang_hit_counts(words_col: str) -> dict[str, Column]:
    """Per-language marker hit counts over an already-materialized
    words array column — extract the (expensive) token array once,
    count against each language's list cheaply."""
    out: dict[str, Column] = {}
    for lang, markers in LANG_MARKERS.items():
        lst = ", ".join("'" + m + "'" for m in markers)
        out[lang] = F.expr(f"size(filter({words_col}, x -> x IN ({lst})))")
    return out


def lang_from_hits(hit_cols: dict[str, str | Column]) -> Column:
    """Argmax of hit-count columns, 'und' when nothing matches; ties
    break in LANG_MARKERS order (strict >, forward scan)."""
    best: Column = F.lit("und")
    best_score: Column = F.lit(0)
    for lang in LANG_MARKERS:
        score = _c(hit_cols[lang])
        new_best = score > best_score
        best = F.when(new_best, F.lit(lang)).otherwise(best)
        best_score = F.when(new_best, score).otherwise(best_score)
    return best
