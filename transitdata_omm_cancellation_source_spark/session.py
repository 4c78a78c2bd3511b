"""SparkSession factory.

The reference runs one poller thread against SQL Server
(``Main.java:25``, ``OmmConnector.java:35``); here a single
SparkSession hosts every operator.  Config defaults are chosen for
local[N] testing but every knob is the one you would also set on a real
cluster:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast demotion) — essential at 100 TB where static estimates lie.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster
  AQE's coalescing makes the initial number mostly a ceiling.
- Arrow enabled so any Pandas-UDF path is Arrow-batched, never pickled
  row-at-a-time.
- Session timezone pinned to UTC: the reference stores epoch-ms UTC and
  treats wall-clock strings as Europe/Helsinki explicitly
  (``OmmCancellationHandler.java:79-97``); pinning UTC makes
  ntz<->instant casts deterministic and keeps DuckDB oracles honest.
- ``spark.sql.legacy.parquet.nanosAsLong`` because the events testdata
  carries parquet TIMESTAMP(NANOS), which Spark's vectorized reader
  otherwise rejects; the catalog converts ns->us JVM-side.
- Python workers get their env from the session: the system Arrow
  pool, high glibc malloc thresholds and no numpy hugepage madvise
  (measured reasons at each setting below), and the daemon
  ``pyworker``, which stops each task from re-reading pyspark.zip
  and the Spark jar (static conf: a session built elsewhere keeps the
  stock ``pyspark.daemon``, with the same results, only slower).
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

from . import pyworker

# Runtime-settable confs every entry point (re-)applies, so the engine
# behaves identically under a driver-owned SparkSession.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # documents/embeddings are small dims next to a 100 TB fact side;
    # keep the broadcast ceiling generous but bounded.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally built session."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # immutable in this deployment -> keep going
            pass
    return spark


def get_spark(
    app_name: str = "transitdata-omm-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores; shuffle
    partitions default to the same so one local run has one task wave.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    # Python workers inherit this process's env (local mode) or
    # executorEnv (cluster): pyarrow's default jemalloc pool purges
    # dirty pages with madvise so aggressively under the per-group
    # Arrow alloc/free rhythm of cogrouped kernels that workers spend
    # most of their CPU in the OS kernel (measured on the sf125
    # pair-scan: worker stime 16x utime, zero I/O delta, zero context
    # switches — and 36 s -> 24 s on the sf25 pair-list query from
    # this one switch).  The glibc system allocator has no background
    # purging; Arrow exposes the choice via this documented env var.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    # glibc itself mmap/munmaps allocations past its (dynamically
    # adjusted, <= 32 MB) threshold, so the hit-dense pair-scan
    # chunks — nonzero index vectors, fancy-index copies, ~30 MB per
    # chunk — re-entered the page-zeroing storm through a different
    # door (measured: worker stime rate ~66% with the Arrow pool
    # already on glibc).  Pinning the threshold high serves every
    # kernel temporary from the brk heap; freed blocks stay in the
    # process (high-water RSS ~the largest transient set per worker,
    # bounded by the chunked kernels) instead of round-tripping
    # through the OS page allocator.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(512 * 1024 * 1024))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(512 * 1024 * 1024))
    # numpy madvises MADV_HUGEPAGE on every allocation >= 4 MB (its
    # documented default when THP is in madvise mode), which routes the
    # kernels' large buffers through the transparent-huge-page fault
    # path — and when 32 workers concurrently first-touch fresh
    # buffers, folio_zero_user under the PMD fault collapses to
    # ~350 ms per 2 MB page (r13's measured first-touch pathology;
    # kernel-stack sampling in r14 pinned 74/100 busy-worker samples
    # there).  Disabling the madvise is the structural fix the r13
    # small-pool budget only mitigated: the same sf25 pair-scan run
    # measured cold 79.9 s -> 19.3 s and warm 21.7 s -> 9.7 s, with
    # machine-wide sys CPU down 47x (kernel-stack sampler
    # scripts/profile_pairscan_stacks.py, added in commit f9c9f5c).
    # 4 KB faults also make per-page cost ~the hypervisor's base fault
    # latency instead of 2 MB of host zeroing under steal.  TLB wins
    # from hugepages never showed on these streamed Arrow-batch
    # kernels — every measurement moved the other way.
    os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL",
            os.environ["ARROW_DEFAULT_MEMORY_POOL"],
        )
        .config(
            "spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
            os.environ["MALLOC_MMAP_THRESHOLD_"],
        )
        .config(
            "spark.executorEnv.MALLOC_TRIM_THRESHOLD_",
            os.environ["MALLOC_TRIM_THRESHOLD_"],
        )
        .config(
            "spark.executorEnv.NUMPY_MADVISE_HUGEPAGE",
            os.environ["NUMPY_MADVISE_HUGEPAGE"],
        )
        .config("spark.python.daemon.module", pyworker.__name__)
        # the package's parent on the workers' path, so the daemon
        # imports whatever the driver's working directory is
        .config(
            "spark.executorEnv.PYTHONPATH",
            str(Path(pyworker.__file__).resolve().parent.parent),
        )
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
