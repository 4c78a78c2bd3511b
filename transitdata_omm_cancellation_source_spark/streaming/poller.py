"""The micro-batch poll cycle (E1 lifecycle) as Structured Streaming.

Reference: a single-thread ``scheduleAtFixedRate(30 s)`` loop
(``Main.java:25,53-66``) that re-runs the SQL, diffs against the
previous batch held in a driver field
(``OmmCancellationHandler.java:22,206-226``) and publishes.  Spark
re-host:

- the 30 s clock      -> ``Trigger.ProcessingTime`` on a rate stream
- the per-tick work   -> ``foreachBatch`` running the (batch)
                         cancellation pipeline — SURVEY §7 picks this
                         over ``applyInPandasWithState`` as the
                         simplest correct form of A3's state
- the driver-held snapshot -> a versioned parquet ``SnapshotStore``
                         (survives restarts, unlike the reference's
                         in-memory list; distributed, so a 100 TB
                         snapshot never funnels through the driver)
- at-least-once re-emit: each cycle re-publishes the full current
                         result set, exactly like the reference —
                         intentionally NOT deduplicated on send
                         (SURVEY §2.7: keep re-emit semantics).

At the reference's scale a cycle moves a few thousand rows, so its cost
is the number of Spark jobs it runs, not their data.  A steady-state
cycle runs three: the broadcast of the previous snapshot's keys, the
sink append and the snapshot write (two without a sink).  The A3 counts
are observed on the first write instead of collected by a job of their
own, and the snapshot and sink schemas come from a parquet footer read
on the driver instead of a schema-inference job.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.types import StructType

from ..observability import get_json_logger, monotonic_ms, warn_if_slow
# diff_counts is not called here; perfbench/spans.py patches it by name
from ..operators.diff import SEEN, diff_aggregates, diff_counts, flag_seen  # noqa: F401
from ..plans.cancellation import QueryParams, cancellation_pipeline
from .messages import encode_messages


class SnapshotStore:
    """Versioned parquet store for the cross-poll snapshot (A3 state).

    Writes go to a fresh ``v{n}`` directory, then a new ``LATEST``
    pointer is renamed into place — a reader never observes a
    half-written snapshot or pointer, and the previous version stays
    readable while the new one writes (the same read-then-replace cycle
    the reference does in memory at ``OmmCancellationHandler.java:225``).
    """

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _pointer(self) -> str:
        return os.path.join(self.path, "LATEST")

    def current_version(self) -> int | None:
        """The version ``LATEST`` names; without a readable ``LATEST``,
        the highest ``v{k}`` whose write completed (has ``_SUCCESS``)."""
        try:
            with open(self._pointer()) as fh:
                return int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            pass
        complete = [
            int(name[1:])
            for name in os.listdir(self.path)
            if name[:1] == "v" and name[1:].isdigit()
            and os.path.isfile(os.path.join(self.path, name, "_SUCCESS"))
        ]
        return max(complete, default=None)

    def read(self, spark: SparkSession) -> DataFrame | None:
        """The current version, its schema taken from one part file's
        footer so that no schema-inference job runs."""
        v = self.current_version()
        if v is None:
            return None
        path = os.path.join(self.path, f"v{v}")
        return spark.read.schema(_footer_schema(spark, _part_file(path))).parquet(path)

    def replace(self, df: DataFrame) -> None:
        v = (self.current_version() or 0) + 1
        df.write.mode("overwrite").parquet(os.path.join(self.path, f"v{v}"))
        # write-then-rename: a torn write leaves the old pointer intact
        tmp = self._pointer() + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(v))
        os.replace(tmp, self._pointer())
        # keep current + previous, prune every older version — also one
        # a crash or a failed rmtree left behind in an earlier cycle
        for name in os.listdir(self.path):
            try:
                k = int(name[1:]) if name.startswith("v") else None
            except ValueError:
                continue
            if k is not None and k < v - 1:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)


#: Spark's own schema in the footer of every parquet file it writes
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _part_file(directory: str) -> str | None:
    """One ``part-*`` file of ``directory``, or None."""
    try:
        with os.scandir(directory) as entries:
            return next(e.path for e in entries if e.name.startswith("part-"))
    except (FileNotFoundError, StopIteration):
        return None


def _footer_schema(spark: SparkSession, part: str) -> StructType:
    """The Spark schema stored in ``part``'s footer, read on the driver
    with no Spark job; a footer without Spark's key falls back to Spark's
    read of the file (one schema-inference job)."""
    raw = (pq.read_metadata(part).metadata or {}).get(_SPARK_SCHEMA_KEY)
    if raw is None:
        return spark.read.parquet(part).schema
    return StructType.fromJson(json.loads(raw))


#: F8 — the deviation/affected-departure type pair the reference logs
#: specially (``OmmCancellationHandler.java:243-247``), counted per
#: cycle with the diff counts
_F8_COMBO = (
    "count_if(deviation_cases_type = 'CANCEL_DEPARTURE'"
    " AND affected_departures_type = 'CANCEL_ENTIRE_DEPARTURE') AS cancel_departure_combo"
)


def _check_sink_schema(
    spark: SparkSession, sink_dir: str, messages: DataFrame
) -> None:
    """Refuse to append a value payload whose type contradicts the
    existing sink — switching ``value_format`` against a populated sink
    would otherwise interleave binary and string ``value`` columns in
    one parquet directory and break every downstream read.

    Reads the footer of one ``part-*`` file on the driver instead of
    listing the whole sink, which grows by a file set every cycle: every
    append is checked here, so all its files share one schema."""
    part = _part_file(sink_dir)
    if part is None:  # first cycle: no sink yet
        return
    existing = _footer_schema(spark, part)
    # names + types only: parquet read-back flips nullability flags
    if [(f.name, f.dataType) for f in existing] != [
        (f.name, f.dataType) for f in messages.schema
    ]:
        raise ValueError(
            f"sink schema mismatch at {sink_dir}: existing {existing.simpleString()} "
            f"!= new {messages.schema.simpleString()} — did value_format change "
            "against an already-populated sink?"
        )


def run_poll_cycle(
    spark: SparkSession,
    store: SnapshotStore,
    params: QueryParams | None = None,
    sink_dir: str | None = None,
    clock: Callable[[], float] = monotonic_ms,
    logger=None,
    value_format: str = "json",
) -> dict:
    """One tick: pipeline -> diff vs snapshot -> publish -> replace state.

    Returns the reference's log-line counts {total, new, repeated}
    (``OmmCancellationHandler.java:206-224``) plus:

    - ``cancel_departure_combo`` — F8 special-cased rows
      (``OmmCancellationHandler.java:243-247``), counted with the diff;
    - ``duration_ms`` — the cycle's wall time; a JSON-structured
      warning fires above the reference's 4000 ms SLO
      (``OmmConnector.java:86-89``).  ``clock`` is injectable for
      deterministic tests.

    The counts are a ``pyspark.sql.Observation`` on the cycle's first
    write, the sink append (or, without a sink, the snapshot write),
    over the current rows flagged by ``flag_seen``; the order stays
    publish, then replace state, and the counts are read only after that
    write succeeded.  Over a file source ``cur`` reads the persisted
    candidate frame, and re-deriving it for the snapshot write costs less
    than the job that would fill a cache.  Over a source with no
    candidate frame (a JDBC read) a cycle with a sink persists ``cur``,
    so one read of the source serves both writes and the snapshot holds
    the rows just published.
    """
    logger = logger or get_json_logger()
    t0 = clock()
    cur, persisted = cancellation_pipeline(spark, params, report_persisted=True)
    keep = sink_dir is not None and not persisted
    if keep:
        cur.persist()
    try:
        counted = Observation()
        flagged = flag_seen(cur, store.read(spark)).observe(
            counted, *diff_aggregates(), F.expr(_F8_COMBO)
        )
        if sink_dir is None:
            store.replace(flagged.drop(SEEN))
        else:
            messages = encode_messages(flagged, value_format=value_format)
            _check_sink_schema(spark, sink_dir, messages)
            messages.write.mode("append").parquet(sink_dir)
            store.replace(cur)
    finally:
        if keep:
            cur.unpersist()
    counts = counted.get
    counts["duration_ms"] = clock() - t0
    warn_if_slow(logger, counts["duration_ms"])
    logger.info(
        "Poll cycle complete",
        extra={"fields": {k: counts[k] for k in sorted(counts)}},
    )
    return counts


def poller_query(
    spark: SparkSession,
    store: SnapshotStore,
    params: QueryParams | None = None,
    sink_dir: str | None = None,
    interval: str = "30 seconds",
    checkpoint_dir: str | None = None,
    value_format: str = "json",
    cycle: Callable | None = None,
):
    """The reference's scheduler loop as a streaming query.

    A rate stream supplies the clock; every trigger runs one poll
    cycle in ``foreachBatch``.  Returns the started StreamingQuery
    (caller owns ``stop()`` / ``awaitTermination`` — the reference's
    fail-fast shutdown maps to the query terminating on error; see
    ``run_supervised`` for the full Main.java close-the-app analogue).

    ``cycle`` overrides the per-tick work (defaults to
    ``run_poll_cycle``); tests inject failing cycles through it.
    """
    ticks = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    cycle = cycle or run_poll_cycle

    def on_tick(_batch_df: DataFrame, _batch_id: int) -> None:
        cycle(spark, store, params, sink_dir, value_format=value_format)

    writer = (
        ticks.writeStream.foreachBatch(on_tick)
        .trigger(processingTime=interval)
        .queryName(POLLER_QUERY_NAME)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


POLLER_QUERY_NAME = "omm-cancellation-poller"


class FailFastListener(StreamingQueryListener):
    """Close-the-application-on-failed-cycle semantics as a listener.

    The reference catches every exception class a poll cycle can throw
    and tears the whole app down — scheduler shutdown + app close
    (``Main.java:53-66`` catch arms, ``closeApplication``
    ``Main.java:74-81``).  In Structured Streaming a failed
    ``foreachBatch`` terminates the StreamingQuery; this listener turns
    that termination into application shutdown by invoking ``close``
    (default: ``spark.stop``, the ``System.exit``/``app.close``
    analogue) whenever a tracked query dies WITH an exception.  A clean
    ``stop()`` (no exception) does not trigger it.

    Tracks only queries named ``POLLER_QUERY_NAME`` (ids recorded from
    start events), so unrelated streaming queries on the same session
    don't take the app down.
    """

    def __init__(self, close: Callable[[], None], logger=None,
                 query_name: str = POLLER_QUERY_NAME):
        self._close = close
        self._logger = logger or get_json_logger()
        self._query_name = query_name
        self._tracked_ids: set[str] = set()

    def onQueryStarted(self, event) -> None:
        if event.name == self._query_name:
            self._tracked_ids.add(str(event.id))

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        if str(event.id) not in self._tracked_ids:
            return
        if event.exception is None:
            return  # caller-initiated stop, not a failed cycle
        self._logger.error(
            "Unknown exception at poll cycle",
            extra={"fields": {"event": "poll_cycle_failed",
                              "exception": event.exception}},
        )
        # Main.java:75 — "Closing application"
        self._logger.warning(
            "Closing application",
            extra={"fields": {"event": "closing_application"}},
        )
        self._close()


def run_supervised(
    spark: SparkSession,
    store: SnapshotStore,
    params: QueryParams | None = None,
    sink_dir: str | None = None,
    interval: str = "30 seconds",
    checkpoint_dir: str | None = None,
    value_format: str = "json",
    close: Callable[[], None] | None = None,
    cycle: Callable | None = None,
):
    """Start the poller under fail-fast supervision (Main.java:53-81).

    Registers a :class:`FailFastListener` (close hook defaults to
    ``spark.stop``) and starts ``poller_query``.  Returns the started
    StreamingQuery; the caller owns ``awaitTermination``.  Any cycle
    failure terminates the query, and the listener then closes the
    application — the reference's catch-log-closeApplication arms.
    """
    listener = FailFastListener(close or spark.stop)
    spark.streams.addListener(listener)
    return poller_query(
        spark, store, params, sink_dir,
        interval=interval, checkpoint_dir=checkpoint_dir,
        value_format=value_format, cycle=cycle,
    )
