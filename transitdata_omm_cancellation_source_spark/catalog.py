"""Table catalog: schema-stable loads of the engine's input tables.

The reference hard-codes its source schema at the JDBC call sites
(``OmmCancellationHandler.java:110-153``); here the catalog owns the
schema contract once.  Tables load as parquet scans (columnar,
vectorized, filter/pushdown-friendly) and register as temp views so
both the DataFrame API and ``spark.sql`` see the same relations.

``events.ts`` is parquet TIMESTAMP(NANOS): Spark reads it as int64 via
``spark.sql.legacy.parquet.nanosAsLong`` and we convert ns -> us with
exact integer arithmetic (``div 1000``) into TIMESTAMP_NTZ, matching
DuckDB's own ns->us truncation — so oracle comparisons agree to the
microsecond.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import apply_runtime_confs

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with engine-canonical column types."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # exact ns->us truncation, then ntz so wall-clock semantics match
        # the other tables (and the DuckDB oracle) irrespective of the
        # session timezone of whoever owns the SparkSession.
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df


#: (appId, sf_dir, names, source fingerprints) -> loaded DataFrames.
#: Every registry ``build()`` calls ``load_tables``, and each
#: ``spark.read.parquet`` costs ~70 ms of driver/py4j/footer work even
#: warm (measured sf0.1: 10 tables ≈ 0.7 s per call — ~40% of the
#: 110-query bench wall).  A DataFrame is an immutable lazy PLAN, so
#: reusing the object changes nothing about what executes — this is
#: catalog METADATA reuse (the same class of state as Spark's own
#: filesourcePartitionFileCache), never result caching: every action
#: still computes from the parquet inputs.  The key carries each
#: source file's (size, mtime) fingerprint, so a table rewritten
#: under the same path within a session is a cache MISS.
_TABLE_CACHE: dict[tuple, dict[str, DataFrame]] = {}


def _source_fingerprints(sf_dir: str, names: tuple[str, ...]) -> tuple:
    """(size, mtime_ns) per table source path — single-file parquet in
    the testdata layout; a directory fingerprints by its own stat plus
    entry count, which changes on any rewrite that adds/replaces
    files.  Unstattable sources fingerprint as None (cache still keyed
    by path)."""
    fps = []
    for name in names:
        path = f"{sf_dir}/{name}.parquet"
        try:
            st = os.stat(path)
            entry: tuple = (st.st_size, st.st_mtime_ns)
            if os.path.isdir(path):
                entry += (len(os.listdir(path)),)
        except OSError:
            entry = (None,)
        fps.append(entry)
    return tuple(fps)


#: appId -> the cache key whose views were registered last.  Views are
#: re-registered when this key changes (new sf_dir / table set /
#: rewritten source — the ``spark.sql``-text builders MUST see the new
#: relations) or when any view is missing (a caller dropped it).
_VIEWS_REGISTERED: dict[str, tuple] = {}


def _views_current(spark: SparkSession, app_id: str, key: tuple) -> bool:
    """True iff this exact key registered the views last AND all of
    them still exist.  The existence probe goes straight to the
    session catalog's temp-view registry (~0.4 ms/view) — a
    ``createOrReplaceTempView`` costs ~8-13 ms of CreateViewCommand
    analysis per view, which at 10 views x 110 query builds was ~13 s
    of the sf0.1 bench."""
    if _VIEWS_REGISTERED.get(app_id) != key:
        return False
    cat = spark._jsparkSession.sessionState().catalog()
    return all(cat.getTempView(name).isDefined() for name in key[2])


def views_key(spark: SparkSession) -> tuple | None:
    """The cache key whose base views are currently registered for this
    session (None before the first ``load_tables``).  Downstream
    plan-object memos (the OMM view registration) fold this into THEIR
    keys so an sf_dir switch or a source rewrite — anything that
    re-points the base views — evicts them in the same breath.  Carries the same shadowing contract as
    ``_views_current``: a caller who shadows a view owns that name
    until it drops it; the key cannot see shadows."""
    return _VIEWS_REGISTERED.get(spark.sparkContext.applicationId)


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view of the same name.

    Memoized per (session, sf_dir, table set, source fingerprints):
    repeated builds in one session reuse the loaded plans instead of
    re-paying schema/footer reads.  Views are re-registered whenever
    the key changes (sf_dir switch, source rewrite) or a view was
    dropped; an unchanged key with all views present skips the
    re-registration (a caller who SHADOWS a view with its own
    ``createOrReplaceTempView`` owns that name until it drops it —
    the repo's shadowers already drop in ``finally``)."""
    apply_runtime_confs(spark)
    names_t = tuple(names or TABLE_NAMES)
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, names_t, _source_fingerprints(sf_dir, names_t))
    out = _TABLE_CACHE.get(key)
    if out is None:
        out = {
            name: load_table(spark, sf_dir, name) for name in names_t
        }
        _TABLE_CACHE[key] = out
        # one live entry per (session, sf_dir, table set): a rewrite
        # supersedes the old plans — evict the stale-fingerprint entry
        # so the cache stays bounded (distinct sf_dirs coexist; a
        # session touches a handful at most).
        for stale in [
            k
            for k in _TABLE_CACHE
            if k[:3] == (app_id, sf_dir, names_t) and k != key
        ]:
            del _TABLE_CACHE[stale]
    if not _views_current(spark, app_id, key):
        for name, df in out.items():
            df.createOrReplaceTempView(name)
        _VIEWS_REGISTERED[app_id] = key
    # shallow copy: callers may overwrite entries in their local dict
    return dict(out)
