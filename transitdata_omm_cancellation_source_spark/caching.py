"""Session cache policy: tracked persists and the one session memo.

Several builders persist intermediates whose lifetime necessarily
extends past build() — cross-query shared subtrees (sorted shingle
sets, verified near-dup pairs) and per-round frames consumed lazily by
the next loop iteration (Lloyd assignments).  Those frames cannot be
unpersisted inside the builder (their cache fills only when the caller
materializes the query), so without bookkeeping a long-lived session
accumulates them until LRU eviction.  ``persist_tracked`` records every
such frame; ``release_tracked`` is the explicit cleanup hook for
workload boundaries (bench.py calls it between passes; a long-lived
service should call it whenever a query's results have been fully
consumed).

DataFrame.persist() already defaults to a spill-to-disk storage level,
so the pressure-risk is eviction-triggered recompute, not OOM — the
hook turns "rely on LRU" into a deterministic release point.

``memo`` is the only session memo outside the catalog and the OMM
view: one dict, keyed by a name plus ``artifact_cache_key`` of the
source frame, holding two kinds of entry.

- FRAME entries (``frame=True``): shared persisted subtrees.  They are
  dropped by ``release_tracked`` together with the data they point to.
- VALUE entries: trained artifacts (the PQ codebook, the IVF quantizer
  — bounded local relations) and scalars derived from the corpus (the
  corpus count, PCA's max|u|, pagerank's pass count).  They hold no
  executor memory, so they survive ``release_tracked`` like the disk
  artifact tier does; ``clear_value_memos`` is the cold-start hook.

README.md ("Caches") lists each entry with the ablation that keeps it.

``scratch_passes`` is the one bounded-scratch rule: the two operators
that can run in K disjoint hash-range passes (``dedup_ngram_jaccard``
and ``parts_copurchase_pagerank``) estimate their one-shot in-flight
shuffle bytes from the corpus and split them under
``SCRATCH_BUDGET_BYTES``; ``release_pass_scratch`` frees a finished
pass's shuffle files before the next one runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []

#: name + artifact_cache_key -> (is_frame, value)
_MEMO: dict[tuple, tuple[bool, object]] = {}


def memo(name: str, source: DataFrame, compute, *, frame: bool = False):
    """Session-memoized ``compute()`` for ``source``.

    The key is ``name`` plus ``artifact_cache_key(source)``, so a
    rewrite of the files behind the same plan is a miss, and a miss
    evicts the superseded entry for the same name and plan before it
    computes (the memo stays bounded by live (name, session, plan)
    triples rather than growing per rewrite).  ``frame=True`` persists
    the result through ``persist_tracked``; an evicted frame is
    unpersisted first, since Spark's cache matches plans, not file
    contents, and would otherwise serve the stale data to the new
    entry.  ``compute=None`` only looks up: it returns None on a miss
    and runs no Spark job.
    """
    key = (name, *artifact_cache_key(source.sparkSession, source))
    hit = _MEMO.get(key)
    if hit is not None:
        return hit[1]
    if compute is None:
        return None
    _evict(lambda k, _frame: k[:3] == key[:3])
    value = compute()
    if frame:
        value = persist_tracked(value)
    _MEMO[key] = (frame, value)
    return value


def forget(name: str) -> int:
    """Drop every entry stored under ``name``, unpersisting its frames;
    returns the number of entries dropped."""
    return _evict(lambda k, _frame: k[0] == name)


def _evict(match) -> int:
    keys = [k for k, (is_frame, _) in _MEMO.items() if match(k, is_frame)]
    for k in keys:
        is_frame, value = _MEMO.pop(k)
        if is_frame:
            value.unpersist()
    return len(keys)


def clear_value_memos() -> int:
    """Drop every value entry of the memo — the explicit cold-start
    hook; returns the number of entries dropped."""
    return _evict(lambda _k, is_frame: not is_frame)


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist() + record the frame for a later bulk release."""
    _TRACKED.append(df.persist())
    return df


def release_tracked() -> int:
    """Unpersist every tracked frame and drop the memo's frame entries
    (idempotent); returns the number of frames unpersisted."""
    _evict(lambda _k, is_frame: is_frame)
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped: nothing to free
            pass
    return n


def artifact_cache_key(spark, df: DataFrame) -> tuple:
    """Content-sensitive key for session-lifetime trained artifacts.

    ``semanticHash`` alone keys the PLAN, not the DATA: if the parquet
    files behind the same path are rewritten within a session (e.g. a
    regenerated scale corpus), a plan-keyed cache would serve an
    artifact trained on the old bytes while the oracle reads the new
    ones.  Appending each input file's (uri, size, mtime) fingerprint
    makes a rewrite a cache MISS; non-local or unstattable inputs fall
    back to their uri alone (plan-keyed behavior, the previous
    contract).  URIs are parsed properly (percent-decoding, authority
    handling) so Hadoop-encoded paths still fingerprint.  Listing
    input files touches only the scan's file index — no job runs.
    """
    return (
        spark.sparkContext.applicationId,
        df.semanticHash(),
        input_fingerprints(df),
    )


def fingerprinted(df: DataFrame) -> bool:
    """True when ``input_fingerprints(df)`` sees every change to the
    data behind ``df``: each leaf of its plan is a file scan and each
    input file stats.  A JDBC read, a local relation or cached data has
    no input files, so a memo keyed on them would never miss and would
    serve the first result forever."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if (
            leaf.getClass().getSimpleName() != "LogicalRelation"
            or leaf.relation().getClass().getSimpleName() != "HadoopFsRelation"
        ):
            return False
    return all(len(entry) == 3 for entry in input_fingerprints(df))


def input_fingerprints(df: DataFrame) -> tuple:
    """(uri, size, mtime_ns) per input file — the data half of the
    artifact keys, shared by the session memo above and the disk key
    in ``artifacts.py``."""
    import os
    from urllib.parse import unquote, urlparse

    files = []
    for uri in sorted(df.inputFiles()):
        entry: tuple = (uri,)
        parsed = urlparse(uri)
        if parsed.scheme in ("file", "") and parsed.path:
            # A local path containing a literal percent sequence (e.g. a
            # directory named 'a%20b' that Hadoop did not re-encode) stats
            # wrong after unquoting — try both forms, first hit wins, so
            # either encoding keeps the content fingerprint instead of
            # silently degrading to the plan-keyed fallback.
            for cand in dict.fromkeys((unquote(parsed.path), parsed.path)):
                try:
                    st = os.stat(cand)
                    entry = (uri, st.st_size, st.st_mtime_ns)
                    break
                except OSError:
                    continue
        files.append(entry)
    return tuple(files)


#: shuffle scratch one bounded-scratch pass may keep in flight.
#: Measured at sf125 on the n-gram join (6.25M docs, the decade the
#: one-shot plan could not finish): 24 GiB -> K=4, 563 s, ~39 GB peak
#: node scratch; 12 GiB -> K=8, 443 s, ~20 GB peak — more passes were
#: faster because each pass's sorts fit memory instead of spilling.
#: 12 GiB keeps the engine's heaviest operator under the ~27 GB peak
#: of the next heaviest (``corpus_substring_dedup``), bounds the
#: pagerank edge build's dominant term (the pair fan-out) the same
#: way, and costs nothing below scale (sf25: n-gram K=2 at 49 s vs
#: K=1 at 53 s, pagerank K=1; sf<=1: K=1 for both, plans unchanged).
SCRATCH_BUDGET_BYTES = 12 * 2**30


def scratch_passes(est_bytes: int) -> int:
    """Disjoint hash-range passes for an operator whose one-shot plan
    keeps ``est_bytes`` of shuffle scratch in flight: 1 at or under the
    budget (the certified single-pass plan), else ceil(est / budget)."""
    return max(1, -(-int(est_bytes) // SCRATCH_BUDGET_BYTES))


def release_pass_scratch(spark) -> None:
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
