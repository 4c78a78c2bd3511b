"""Disk-persisted trained artifacts: train-once / serve-many.

The engine's two trained artifacts — the corpus-scaled IVF coarse
quantizer (``similarity.ivf_quantizer``) and the PQ codebook
(``pq._shared_codebook``) — are bounded local relations (≤ 2^IVF_MAX_BITS
and M x K = 128 rows at ANY corpus size).  Through r11 they lived only
in the session memory (today ``caching.memo``), so a
fresh session RETRAINED them: the r11 fourth-decade table shows
``knn_pq_refine`` at 17.7x (vs its sibling's 11.0x) only because it ran
first in its session and paid the codebook+quantizer training its
siblings amortized.  At production scale the shape is train-once /
serve-many — a 100 TB corpus trains its quantizer once and every later
session (and every executor fleet) loads it.

This module adds the disk layer UNDER the session memo:

- key: ``artifact_disk_key`` — sha256 over (format version, artifact
  name, the source frame's input-file (uri, size, mtime_ns)
  fingerprints, its schema, and a fingerprint of the TRAINER'S SOURCE
  — ``inspect.getsource(train)``).  Deliberately NOT the plan's
  ``semanticHash``: that hash bakes in session confs (measured — the
  engine session and a plain session hash the same parquet scan
  differently), so a plan-keyed disk key would never hit across
  sessions.  The trainer fingerprint (r13, closing the r12 verdict's
  silent-staleness risk) means an edit to a trainer's body is a cache
  MISS by construction — a forgotten ``_FORMAT_VERSION`` bump can no
  longer serve a stale quantizer to oracle-certified consumers.  The
  r14 bindings closure extends it to what the trainer REFERENCES:
  helper functions fold in by their own source (a helper-body edit
  misses), module-level constants by value, closure cells likewise.
  Residual contract: one level deep — a semantic change hidden
  entirely inside a helper's own CALLEE still needs the version bump
  (the helper's source names its callees, so call-shape changes are
  visible; only a deeper body-only edit escapes).
- layout: ``<artifact root>/<name>/<digest>/`` parquet, written to a
  temp dir and atomically renamed (a concurrent trainer loses the
  rename and discards its copy — both trained the same content).  The
  root defaults to ``graft_artifacts`` under the session warehouse dir
  and is overridable via ``spark.graft.artifacts.dir``.
- serving: rows are loaded, sorted by the artifact's natural key (so
  the relation is byte-stable regardless of scan order), and re-created
  as a LOCAL RELATION — consumers' plans still start from a literal
  bounded-row broadcast, exactly as the session-memory path always
  served them (the plan-shape tests' contract).

Bit-identity: parquet round-trips int64/double/array columns exactly,
and ``tests/test_artifacts_disk.py`` proves a separate cold
SparkSession loads the identical rows WITHOUT its trainer ever running.
"""

from __future__ import annotations

import hashlib
import os
from typing import Callable, Sequence
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

ARTIFACT_DIR_CONF = "spark.graft.artifacts.dir"

#: In-process log of artifact serve events, appended by
#: ``load_or_train`` / ``load_or_build_frame``: one dict per serve,
#: ``{"name": <artifact>, "served": "disk" | "built"}``.  Exists so a
#: measurement harness can report WHICH standing artifacts its timed
#: region loaded from the disk tier versus built (r15 verdict #4: the
#: disk-tier boundary must stay machine-readably visible — a warm
#: ``graft_artifacts`` dir means batch dedup walls exclude the corpus
#: index build).  bench.py drains it per pass into
#: ``disk_artifacts_served``; it is bounded by (artifacts x passes) per
#: process, and harnesses may clear it between runs.
SERVE_EVENTS: list[dict] = []

#: bump to invalidate every on-disk artifact after a format or
#: training-semantics change.  (v2: the trainer fingerprint grew the
#: referenced-bindings closure — every key legitimately changes.)
_FORMAT_VERSION = "v2"


def _stable_code_repr(code) -> str:
    """Session-stable rendering of a code object: repr() of a code
    object (or of co_consts containing one) embeds a memory address,
    which would change the digest every process — exactly wrong for a
    cross-session cache key — so nested code objects are rendered
    recursively by their own stable fields."""
    consts = tuple(
        _stable_code_repr(c) if hasattr(c, "co_code") else repr(c)
        for c in code.co_consts
    )
    return repr((code.co_names, code.co_varnames, consts, code.co_code))


def _code_names(code) -> set:
    """All names referenced by a code object, including its nested
    code objects (comprehensions, lambdas)."""
    names = set(code.co_names)
    for const in code.co_consts:
        if hasattr(const, "co_code"):
            names |= _code_names(const)
    return names


def _binding_repr(val, depth: int = 0) -> str:
    """Session-stable rendering of a value a trainer references.

    Functions render as their source (so a HELPER-body edit is a cache
    miss — the r13 residual); modules by name; scalars and scalar
    containers by value; everything else by type only (an object repr
    could embed a memory address, which would break cross-session
    stability — exactly the _stable_code_repr lesson)."""
    import inspect

    if inspect.isfunction(val):
        try:
            return inspect.getsource(val)
        except (OSError, TypeError):
            return _stable_code_repr(val.__code__)
    if inspect.ismodule(val):
        return f"<module {val.__name__}>"
    if val is None or isinstance(val, (bool, int, float, complex, str, bytes)):
        return repr(val)
    if depth < 2 and isinstance(val, (tuple, list, frozenset, set)):
        try:
            # sorted() must sit INSIDE the try: a mixed-type set raises
            # TypeError from the sort itself, and that case wants the
            # type-grain fallback, not a crash out of the fingerprint.
            items = sorted(val) if isinstance(val, (set, frozenset)) else val
            return "[" + ",".join(_binding_repr(v, depth + 1) for v in items) + "]"
        except TypeError:  # unsortable set — type-grain is enough
            pass
    if depth < 2 and isinstance(val, dict):
        try:
            return "{" + ",".join(
                f"{k!r}:{_binding_repr(v, depth + 1)}"
                for k, v in sorted(val.items(), key=lambda kv: repr(kv[0]))
            ) + "}"
        except TypeError:
            pass
    return f"<{type(val).__module__}.{type(val).__qualname__}>"


def _trainer_fingerprint(train) -> str:
    """Digest of the trainer's source text PLUS the bindings it
    references, so a training-recipe edit is a cache miss by
    construction (module docstring).  Source is the right grain: it
    survives re-imports and new sessions (bytecode ids don't) and
    changes exactly when a human edits the recipe.  Falls back to the
    code object's stable fields when source isn't retrievable
    (frozen/REPL trainers).

    The bindings closure (r14, closing the r13 residual): every global
    and closure cell the trainer's code references is folded in by
    name — helper FUNCTIONS by their own source (a helper-body edit
    now misses), module-level constants by value, modules by name,
    opaque objects by type.  One level deep: a change hidden inside a
    helper's own callee still needs the ``_FORMAT_VERSION`` bump (the
    helper's source names its callees, so signature/call-shape changes
    are visible; only a deeper body-only edit escapes)."""
    import inspect

    try:
        text = inspect.getsource(train)
    except (OSError, TypeError):
        text = _stable_code_repr(train.__code__)
    code = train.__code__
    bound: dict[str, str] = {}
    cells = dict(
        zip(code.co_freevars, train.__closure__ or ())
    )
    for name in sorted(_code_names(code) | set(code.co_freevars)):
        if name in cells:
            try:
                bound[name] = _binding_repr(cells[name].cell_contents)
            except ValueError:  # empty cell
                bound[name] = "<unbound cell>"
        elif name in train.__globals__:
            bound[name] = _binding_repr(train.__globals__[name])
    payload = text + "\n--bindings--\n" + repr(sorted(bound.items()))
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def artifact_disk_key(name: str, source_df: DataFrame, train=None) -> str:
    """Cross-session content digest for artifacts trained from
    ``source_df`` by ``train`` (module docstring — includes what the
    trainer fingerprint can and cannot see)."""
    from .caching import input_fingerprints

    payload = repr(
        (
            _FORMAT_VERSION,
            name,
            input_fingerprints(source_df),
            source_df.schema.simpleString(),
            _trainer_fingerprint(train) if train is not None else "",
        )
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:32]


def warehouse_local_path(spark: SparkSession) -> str:
    """The warehouse dir as a plain local path — the resolution policy
    shared by the artifact root and pagerank's parquet scratch dir
    (one place to fix if a non-file scheme ever needs handling)."""
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    return wh.path if wh.scheme in ("file", "") and wh.path else "spark-warehouse"


def _artifact_root(spark: SparkSession) -> str:
    configured = spark.conf.get(ARTIFACT_DIR_CONF, "")
    if configured:
        return configured
    return os.path.join(warehouse_local_path(spark), "graft_artifacts")


def load_or_train(
    spark: SparkSession,
    name: str,
    source_df: DataFrame,
    schema,
    train: Callable[[], DataFrame],
    key_cols: Sequence[str],
) -> DataFrame:
    """The artifact serving path: disk hit loads, miss trains + writes.

    ``train()`` returns the (bounded-row) training plan; its collect
    runs ONLY on a disk miss.  Returns a local relation over rows
    sorted by ``key_cols`` — deterministic independent of scan or
    aggregation output order on either path.
    """
    path = os.path.join(
        _artifact_root(spark), name, artifact_disk_key(name, source_df, train)
    )
    rows = _read_rows(spark, path)
    trained = rows is None
    SERVE_EVENTS.append({"name": name, "served": "built" if trained else "disk"})
    if trained:
        rows = _invoke_trainer(train).collect()
    rows = sorted(rows, key=lambda r: tuple(r[c] for c in key_cols))
    out = spark.createDataFrame(rows, schema)
    if trained:
        _write_rows(out, path)
    return out


def _invoke_trainer(train):
    """Seam between the hit/miss decision and the training work: tests
    patch THIS to prove a hit never trains.  (They used to patch the
    trainers' helper functions, but since the bindings closure a
    patched helper IS a key miss — the guard must live where the key
    can't see it.)"""
    return train()


#: digests kept per frame-artifact name before publish-time eviction.
#: Corpus-sized frames (unlike the ≤4096-row trained relations) cost
#: real disk, and every regenerated scale corpus mints a new digest —
#: without a bound the warehouse grows one dead multi-GB index per
#: rewrite.  4 keeps the working set (bench sf0.1 + a couple of scale
#: corpora) warm while bounding the root.
_FRAME_KEEP_DIGESTS = 4


def load_or_build_frame(
    spark: SparkSession, name: str, source_df: DataFrame, build: Callable[[], DataFrame]
) -> DataFrame:
    """Disk layer for CORPUS-SIZED standing artifact frames (r14
    verdict #1: the incremental-dedup family's band index, shingle
    sets and IVF assignment frame).

    Same key discipline as ``load_or_train`` (``artifact_disk_key``:
    format version + source-file fingerprints + schema + the builder's
    bindings-closure fingerprint) but the artifact is a corpus-sized
    parquet DIRECTORY served back as a lazy scan, never collected:

    - hit: ``spark.read.parquet(path)`` — a fresh session's first
      delta batch LOADS the standing index instead of re-paying the
      full corpus build (tokenize + 64 minhashes, or the IVF
      assignment);
    - miss: ``build()``'s plan is written to a temp dir and atomically
      renamed into place (concurrent builders race benignly — the key
      guarantees both built identical bytes).

    The write keeps the built plan's own partitioning; on a cluster
    deployment the same artifact would be published as a bucketed
    table (band_key / cell) so the delta probe join is partition-
    pruned — the local parquet dir is the single-node rendering of
    that layout.  Publish-time eviction keeps the newest
    ``_FRAME_KEEP_DIGESTS`` digests per name so regenerated corpora
    (new mtimes → new digests) can't grow the root unboundedly.

    CONTRACT: ``source_df`` must be the RAW source table — the key
    identifies the data by its input-file fingerprints and schema
    (deliberately no plan hash: semanticHash bakes in session confs,
    so it would never hit across sessions), so a DERIVED frame over
    the same files (a filter/limit of the table) would collide with
    the table itself.  Every corpus construction difference must live
    in ``build``, whose bindings-closure fingerprint IS part of the
    key.
    """
    from .caching import input_fingerprints

    if not input_fingerprints(source_df):
        # A fileless source (local relation) has no data identity the
        # key can see — two distinct corpora would collide on one
        # digest and the second would be served the first's index.
        raise ValueError(
            f"load_or_build_frame({name!r}): source_df has no input files; "
            "standing frames require a file-backed source table"
        )
    path = os.path.join(
        _artifact_root(spark), name, artifact_disk_key(name, source_df, build)
    )
    if not os.path.isfile(os.path.join(path, "_SUCCESS")):
        SERVE_EVENTS.append({"name": name, "served": "built"})
        _write_frame(_invoke_frame_builder(build), path)
    else:
        SERVE_EVENTS.append({"name": name, "served": "disk"})
        try:  # refresh recency so publish-time eviction is LRU-ish
            os.utime(path)
        except OSError:
            pass
    return spark.read.parquet(path)


def _invoke_frame_builder(build):
    """Hit/miss seam for frame artifacts — the ``_invoke_trainer``
    contract: tests patch THIS to prove a disk hit never rebuilds."""
    return build()


def _write_frame(df: DataFrame, path: str) -> None:
    import shutil
    import uuid

    parent = os.path.dirname(path)
    os.makedirs(parent, exist_ok=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isfile(os.path.join(path, "_SUCCESS")):
            raise
    _evict_old_digests(parent, keep=_FRAME_KEEP_DIGESTS)


def _evict_old_digests(parent: str, keep: int) -> None:
    """Drop all but the ``keep`` most-recently-published digest dirs
    under one frame-artifact name (publish order by dir mtime; the
    just-renamed dir is always newest).  Leftover ``.tmp-*`` dirs from
    a crashed writer are swept unconditionally."""
    import shutil

    try:
        entries = [
            os.path.join(parent, d)
            for d in os.listdir(parent)
            if os.path.isdir(os.path.join(parent, d))
        ]
    except OSError:
        return
    tmps = [p for p in entries if ".tmp-" in os.path.basename(p)]
    published = sorted(
        (p for p in entries if p not in tmps),
        key=lambda p: os.path.getmtime(p),
        reverse=True,
    )
    for p in tmps + published[keep:]:
        shutil.rmtree(p, ignore_errors=True)


def _read_rows(spark: SparkSession, path: str):
    if not os.path.isfile(os.path.join(path, "_SUCCESS")):
        return None
    return spark.read.parquet(path).collect()


def _write_rows(local_df: DataFrame, path: str) -> None:
    """Atomic publish: write to a sibling temp dir, rename into place.

    os.rename is atomic on one filesystem; a loser whose rename finds
    the path already published discards its copy — both sessions
    trained from identical bytes (the key guarantees it), so either
    copy serves.
    """
    import shutil
    import uuid

    parent = os.path.dirname(path)
    os.makedirs(parent, exist_ok=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    # coalesce(1): bounded artifacts (≤ 4096 rows) want one part file.
    local_df.coalesce(1).write.mode("overwrite").parquet(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isfile(os.path.join(path, "_SUCCESS")):
            raise
