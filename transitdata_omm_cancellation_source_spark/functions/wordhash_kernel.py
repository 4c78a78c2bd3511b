"""Vectorized per-word polyhash: the Arrow kernel form of
``functions.text.word_hashes`` (r16, guide §4.2).

The SQL form — ``transform(ws, t -> aggregate(split(t, ''), 0,
(acc, x) -> (acc * 31 + ascii(x)) % P))`` — runs INTERPRETED: Catalyst
does not codegen nested higher-order lambdas, so every character of
every word pays an interpreted-expression step.  After the r15 shared
frames the fold is paid once per session per corpus, but it remains
the corpus-proportional per-byte cost of the tokenize frame build
(~1 s of first-consumer wall at sf0.1, the dominant term of the sf5
span rows).  This module computes the IDENTICAL values with batch
numpy arithmetic over the Arrow string buffers.

Exactness argument (integer, no floats anywhere):

    fold(acc*31 + c) % P over chars c_0..c_{L-1}
      == (sum_i c_i * 31^(L-1-i)) mod P

by the standard Horner expansion — applying ``% P`` at each step or
once at the end is the same residue.  The kernel computes each term as
``c_i * (31^(L-1-i) mod P) mod P`` (< 2^38, exact in int64), then a
cumulative-sum segment reduction (< total_chars * 2^31 per batch —
Arrow caps a string column's batch payload at 2 GiB, so the cumsum
peaks < 2^62) and one final ``% P``.  Every intermediate fits int64
with proof-level margin; results are bit-identical to the SQL fold
(pinned against it in tests/test_wordhash_kernel.py).

Precondition: the words are ``functions.text.words()`` output —
``[a-z0-9]+`` runs, i.e. pure ASCII, so UTF-8 bytes == code points ==
what Spark's ``ascii()`` sees.  Inputs that could carry non-ASCII
words must keep the SQL form.

The kernel reads the flattened word bytes STRAIGHT from the Arrow
list<string> buffers (one contiguous data buffer + offset arrays — the
guide's re-slicing property) — no per-row Python, no string
materialization.  Null/empty handling matches the SQL form: null ws
-> null wh, [] -> [], and a hypothetical empty word folds to 0 (the
aggregate's seed) — the tokenizer never emits one, but the kernel must
not diverge if handed one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .text import HASH_MOD

#: fold base of the portable polyhash (functions.text).
_BASE = 31

_POW: dict[tuple[int, int], "object"] = {}


def _pow_table(n: int, mod: int):
    """[31^0 % mod, ..., 31^(n-1) % mod] as int64 numpy (memoized,
    grown geometrically so repeated batches never rebuild)."""
    import numpy as np

    size = max(n, 64)
    cached = _POW.get((_BASE, mod))
    if cached is None or len(cached) < size:
        size = max(size, 2 * len(cached) if cached is not None else size)
        t = np.empty(size, dtype=np.int64)
        t[0] = 1 % mod
        for i in range(1, size):
            t[i] = t[i - 1] * _BASE % mod
        _POW[(_BASE, mod)] = t
        cached = t
    return cached


def word_hash_values(offs, data, mod: int = HASH_MOD):
    """Per-word polyhash for words stored as one contiguous uint8 byte
    run: word i is ``data[offs[i]:offs[i+1]]``.  Pure int64 numpy; see
    the module docstring for the exactness argument."""
    import numpy as np

    nw = len(offs) - 1
    if nw <= 0:
        return np.empty(0, dtype=np.int64)
    offs = offs.astype(np.int64, copy=False)
    lens = np.diff(offs)
    total = int(offs[-1] - offs[0])
    if total == 0:  # all-empty words: every fold is the seed 0
        return np.zeros(nw, dtype=np.int64)
    pw = _pow_table(int(lens.max()), mod)
    # exponent of char at absolute position p in word i: end_i - 1 - p
    ends_per_char = np.repeat(offs[1:], lens)
    exp = ends_per_char - 1 - np.arange(offs[0], offs[-1], dtype=np.int64)
    contrib = data[offs[0] : offs[-1]].astype(np.int64) * pw[exp] % mod
    csum = np.concatenate((np.zeros(1, dtype=np.int64), np.cumsum(contrib)))
    rel = offs - offs[0]
    return (csum[rel[1:]] - csum[rel[:-1]]) % mod


def joined_hash_values(word_offs, word_hashes, word_lens, mod: int = HASH_MOD):
    """Per-doc polyhash of the words joined by single spaces, composed
    from the per-word hashes — the kernel form of
    ``text.polyhash("array_join(ws, ' ')")``.

    Derivation: in ``w_0 ' ' w_1 ' ' ... w_{n-1}`` the chars of word i
    have ``S_i = sum_{k>i}(len_k + 1)`` chars after them, so they
    contribute ``wh_i * 31^{S_i}``; the space after word i (i < n-1)
    has ``S_i - 1`` chars after it and contributes ``32 * 31^{S_i-1}``.
    Everything mod P; ``wh_i * (31^{S_i} mod P) < P^2 ≈ 4.62e18 < 2^63``
    keeps the one full-width product exact in int64.

    ``word_offs``: int64 per-doc segment offsets into the word arrays
    (len n_docs+1); ``word_hashes``/``word_lens``: int64 per word.
    A zero-word doc folds to 0 — identical to the SQL form, where
    ``split('', '')`` yields one empty token and ``ascii('') = 0``.
    """
    import numpy as np

    nd = len(word_offs) - 1
    out = np.zeros(nd, dtype=np.int64)
    nw = len(word_hashes)
    if nw == 0:
        return out
    t = word_lens + 1  # word + its preceding space in the suffix count
    csum_t = np.concatenate((np.zeros(1, dtype=np.int64), np.cumsum(t)))
    doc_end = np.repeat(word_offs[1:], np.diff(word_offs))
    suffix = csum_t[doc_end] - csum_t[np.arange(nw) + 1]
    pw = _pow_table(int(suffix.max()) + 1, mod)
    contrib = word_hashes % mod * pw[suffix] % mod
    # spaces: every word except the last of its doc
    not_last = np.ones(nw, dtype=bool)
    not_last[word_offs[1:][word_offs[1:] > 0] - 1] = False
    contrib[not_last] = (contrib[not_last] + 32 * pw[suffix[not_last] - 1]) % mod
    csum = np.concatenate((np.zeros(1, dtype=np.int64), np.cumsum(contrib)))
    return (csum[word_offs[1:]] - csum[word_offs[:-1]]) % mod


def _hash_list_array(arr, mod: int = HASH_MOD, joined: bool = False):
    """list<string> Arrow array -> list<int32> of per-word polyhashes
    (same offsets, same validity).  With ``joined=True`` additionally
    returns the per-doc joined polyhash (int64, same validity) —
    ``(wh_array, joined_array)``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    # Values honoring the list offsets/slicing; for null list slots
    # flatten() emits nothing, so per-slot lengths must zero them.
    values = arr.flatten()
    lengths = np.zeros(len(arr), dtype=np.int64)
    if arr.null_count:
        lengths_pa = pc.list_value_length(arr)
        valid = np.asarray(arr.is_valid())
        lengths[valid] = np.asarray(lengths_pa)[valid]
    else:
        lengths[:] = np.asarray(pc.list_value_length(arr))
    if not isinstance(values, pa.Array):  # pragma: no cover - chunked guard
        values = values.combine_chunks()
    # String buffers: [validity, int32 offsets, uint8 data].  The
    # offsets of a sliced array index into the FULL data buffer, so
    # slicing is handled by starting at values.offset.
    obuf = values.buffers()[1]
    dbuf = values.buffers()[2]
    offs = np.frombuffer(obuf, dtype=np.int32)[
        values.offset : values.offset + len(values) + 1
    ]
    data = (
        np.frombuffer(dbuf, dtype=np.uint8)
        if dbuf is not None
        else np.empty(0, dtype=np.uint8)
    )
    hashes = word_hash_values(offs, data, mod)
    doc_offsets = np.concatenate(
        (np.zeros(1, dtype=np.int64), np.cumsum(lengths))
    )
    null_mask = (
        pa.array(np.asarray(arr.is_null())) if arr.null_count else None
    )
    # mask re-applies the input validity (null ws -> null wh, exactly
    # as transform(null, ...) yields null in the SQL form).
    wh = pa.ListArray.from_arrays(
        pa.array(doc_offsets.astype(np.int32), type=pa.int32()),
        pa.array(hashes.astype(np.int32), type=pa.int32()),
        mask=null_mask,
    )
    if not joined:
        return wh
    word_lens = np.diff(offs.astype(np.int64))  # ASCII: bytes == chars
    jh = joined_hash_values(doc_offsets, hashes, word_lens, mod)
    return wh, pa.array(jh, type=pa.int64(), mask=(
        np.asarray(arr.is_null()) if arr.null_count else None
    ))


def with_word_hashes(
    df: DataFrame,
    ws_col: str = "ws",
    out_col: str = "wh",
    keep_ws: bool = True,
    joined_col: str | None = None,
) -> DataFrame:
    """Append ``out_col ARRAY<INT>`` = per-word polyhashes of
    ``ws_col ARRAY<STRING>`` via ``mapInArrow`` — bit-identical values
    to ``text.word_hashes(...).cast("array<int>")`` at a fraction of
    the build cost (the interpreted char fold never runs).

    ``joined_col`` additionally appends the BIGINT polyhash of the
    single-space-joined words — bit-identical to
    ``text.polyhash("array_join(ws, ' ')")`` — computed in the same
    batch pass for one extra int64 per row of transfer.

    ``keep_ws=False`` drops the word column from the OUTPUT batches,
    so consumers that only need the hashes (the dedup family's
    ``_wh_of``) never ship the strings back across the Arrow boundary.
    Pass a pre-projected ``df`` (guide §4.1): every input column
    crosses into Python.
    """
    import pyarrow as pa

    in_names = list(df.columns)
    ws_idx = in_names.index(ws_col)
    out_names = [c for c in in_names if keep_ws or c != ws_col]
    extra = [out_col] + ([joined_col] if joined_col else [])

    def kernel(batches):
        for batch in batches:
            if joined_col:
                wh, jh = _hash_list_array(batch.column(ws_idx), joined=True)
                new_cols = [wh, jh]
            else:
                new_cols = [_hash_list_array(batch.column(ws_idx))]
            cols = [
                batch.column(in_names.index(c)) for c in out_names
            ] + new_cols
            yield pa.RecordBatch.from_arrays(cols, out_names + extra)

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if keep_ws or f.name != ws_col
    )
    schema += f", {out_col} array<int>"
    if joined_col:
        schema += f", {joined_col} bigint"
    return df.mapInArrow(kernel, schema)


def with_joined_polyhash(
    df: DataFrame, ws_col: str = "ws", out_col: str = "h"
) -> DataFrame:
    """Drop ``ws_col`` and append only the BIGINT joined-words polyhash
    (== ``text.polyhash("array_join(ws, ' '))``) — for consumers like
    the content-hash samplers that never need the per-word hashes, so
    neither the words nor the per-word hash arrays ship back across the
    Arrow boundary: one int64 per row out."""
    import pyarrow as pa

    in_names = list(df.columns)
    ws_idx = in_names.index(ws_col)
    out_names = [c for c in in_names if c != ws_col]

    def kernel(batches):
        for batch in batches:
            _, jh = _hash_list_array(batch.column(ws_idx), joined=True)
            cols = [batch.column(in_names.index(c)) for c in out_names] + [jh]
            yield pa.RecordBatch.from_arrays(cols, out_names + [out_col])

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != ws_col
    )
    return df.mapInArrow(kernel, f"{schema}, {out_col} bigint")
