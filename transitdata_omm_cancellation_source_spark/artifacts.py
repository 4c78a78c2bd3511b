"""Disk tier for the engine's standing artifacts: build once, serve many.

Two kinds of artifact live on disk, under the session memo
(``caching.memo``) at their call sites:

- trained artifacts (``load_or_train``): the IVF coarse quantizer
  (``similarity.ivf_quantizer``) and the PQ codebook
  (``pq._shared_codebook``).  They are bounded (≤ 2^IVF_MAX_BITS and
  M x K = 128 rows at any corpus size) and are served as numpy
  arrays, one per column, sorted by their key columns: the published
  parquet is read with pyarrow in this process, so serving a trained
  artifact never runs a Spark job, and the kernels take the arrays
  into their closures;
- standing indexes (``load_or_build_frame``): the corpus-sized band
  index, shingle sets and embedding assignment frame of the
  incremental dedup family (``dedup_fuzzy._family_frame``), served as
  a lazy parquet scan.  A fresh session's first delta batch loads the
  index instead of rebuilding it over the whole corpus.

Both go through one hit/miss routine (``_serve``) and one publish
routine (``_publish``):

- disk is touched only when ``caching.fingerprinted(source)`` holds:
  every leaf of the source plan is a file scan whose files stat, the
  rule ``cancellation_pipeline`` uses for its candidate frame.  Any
  other source (a local relation, a JDBC read, cached data) has no
  data identity the key can see, so its artifact is built in session
  and nothing is published.
- key (``artifact_disk_key``): sha256 over the artifact name, the
  source's input-file (uri, size, mtime_ns) fingerprints and schema,
  the builder's source text with the values of its scalar closure
  cells, and ``_PACKAGE_DIGEST``, one sha256 over every ``.py`` file
  of this package, computed at import.  An edit anywhere in the
  engine, at any call depth below a builder, is therefore a miss; the
  price is one rebuild per artifact dir after any engine edit.  The
  plan's ``semanticHash`` is deliberately not in the key: it bakes in
  session confs, so it would never hit across sessions.
- layout: ``<root>/<name>/<digest>/`` parquet, written to a temp dir
  and renamed into place.  A concurrent builder loses the rename and
  discards its copy (the key guarantees both built the same content),
  and each publish keeps the newest ``_FRAME_KEEP_DIGESTS`` digests
  per name.  The root is ``graft_artifacts`` under the warehouse dir,
  or ``spark.graft.artifacts.dir``.

Parquet round-trips int64, double and array columns exactly;
``tests/test_artifacts_disk.py`` proves a separate cold SparkSession
loads the identical arrays without its trainer running.
"""

from __future__ import annotations

import hashlib
import inspect
import marshal
import os
import shutil
import uuid
from typing import Callable, Sequence
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from .caching import fingerprinted, input_fingerprints

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

#: digests kept per artifact name at publish time.  Corpus-sized
#: frames cost real disk, and every regenerated scale corpus mints a
#: new digest; 4 keeps the working set (bench sf0.1 + a couple of
#: scale corpora) warm while bounding the root.
_FRAME_KEEP_DIGESTS = 4


def _package_digest(root: str) -> str:
    """sha256 over the relative path and bytes of every ``.py`` file
    under ``root``, in path order."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for fname in sorted(f for f in filenames if f.endswith(".py")):
            path = os.path.join(dirpath, fname)
            with open(path, "rb") as f:
                body = f.read()
            h.update(os.path.relpath(path, root).encode() + b"\0")
            h.update(hashlib.sha256(body).digest())
    return h.hexdigest()


#: the engine's code identity, part of every disk key (module docstring)
_PACKAGE_DIGEST = _package_digest(os.path.dirname(os.path.abspath(__file__)))


def _builder_fingerprint(build) -> str:
    """The builder's source text plus the values of its scalar closure
    cells (one lambda text closed over two thresholds keys apart; a
    DataFrame cell is covered by the source fingerprints).  A builder
    without retrievable source (REPL, frozen) keys by its marshalled
    code object."""
    try:
        text = inspect.getsource(build)
    except (OSError, TypeError):
        text = marshal.dumps(build.__code__).hex()
    cells = []
    for name, cell in zip(build.__code__.co_freevars, build.__closure__ or ()):
        try:
            value = cell.cell_contents
        except ValueError:  # empty cell
            continue
        if value is None or isinstance(value, (bool, int, float, complex, str, bytes)):
            cells.append((name, repr(value)))
    return text + repr(cells)


def artifact_disk_key(name: str, source_df: DataFrame, build=None) -> str:
    """Cross-session digest of the artifact ``name`` built from
    ``source_df`` by ``build`` (module docstring)."""
    payload = repr(
        (
            name,
            input_fingerprints(source_df),
            source_df.schema.simpleString(),
            _builder_fingerprint(build) if build is not None else "",
            _PACKAGE_DIGEST,
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
    train: Callable[[], DataFrame],
    key_cols: Sequence[str],
) -> dict:
    """A bounded trained relation as ``{column: numpy array}`` over its
    rows sorted by ``key_cols``, so the result does not depend on scan
    or aggregation order; an array column becomes a 2-D array.
    ``train()`` returns the training plan; it runs only on a miss.  A
    published artifact is read with pyarrow in this process (no Spark
    job); a source that is not fingerprinted collects its plan."""
    import numpy as np
    import pyarrow.parquet as papq

    served = _serve(spark, name, source_df, train)
    table = (
        served.toArrow() if isinstance(served, DataFrame) else papq.read_table(served)
    ).sort_by([(c, "ascending") for c in key_cols])
    return {
        c: np.array(table.column(c).to_pylist()) for c in table.column_names
    }


def load_or_build_frame(
    spark: SparkSession, name: str, source_df: DataFrame, build: Callable[[], DataFrame]
) -> DataFrame:
    """A corpus-sized standing frame, never collected: the published
    parquet scan, or ``build()``'s plan when the source is not
    fingerprinted.

    The write keeps the built plan's own partitioning; on a cluster
    the same artifact would be published as a bucketed table
    (band_key / cell) so the delta probe join is partition-pruned.

    ``source_df`` must be the raw source table: the key identifies the
    data by its input files and schema only, so a derived frame over
    the same files (a filter of the table) would collide with the
    table itself.  Every construction difference lives in ``build``.
    """
    served = _serve(spark, name, source_df, build)
    return served if isinstance(served, DataFrame) else spark.read.parquet(served)


def _serve(
    spark: SparkSession, name: str, source_df: DataFrame, build: Callable[[], DataFrame]
) -> DataFrame | str:
    """The one hit/miss routine: the published artifact's path on a
    disk hit, or after a miss built and published it, and the built
    plan itself for a source that is not fingerprinted (module
    docstring)."""
    path = None
    if fingerprinted(source_df):
        key = artifact_disk_key(name, source_df, build)
        path = os.path.join(_artifact_root(spark), name, key)
    hit = path is not None and os.path.isfile(os.path.join(path, "_SUCCESS"))
    SERVE_EVENTS.append({"name": name, "served": "disk" if hit else "built"})
    if path is None:
        return _invoke_build(build)
    if hit:
        try:  # refresh recency for publish-time eviction
            os.utime(path)
        except OSError:
            pass
    else:
        _publish(_invoke_build(build), path)
    return path


def _invoke_build(build):
    """The seam between the hit/miss decision and the build work:
    tests patch THIS to prove a hit never builds."""
    return build()


def _publish(df: DataFrame, path: str) -> None:
    """Write ``df`` to a temp dir beside ``path`` and rename it into
    place, then keep the newest ``_FRAME_KEEP_DIGESTS`` digests under
    the name and sweep temp dirs a crashed writer left behind.

    os.rename is atomic on one filesystem; a loser whose rename finds
    ``path`` published discards its copy, since the key guarantees
    both built the same content.  Publish order is dir mtime, and a
    hit refreshes it."""
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
    entries = [e for e in os.scandir(parent) if e.is_dir()]
    tmps = [e.path for e in entries if ".tmp-" in e.name]
    published = sorted(
        (e.path for e in entries if ".tmp-" not in e.name),
        key=os.path.getmtime,
        reverse=True,
    )
    for p in tmps + published[_FRAME_KEEP_DIGESTS:]:
        shutil.rmtree(p, ignore_errors=True)
