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
                         in-memory list)
- at-least-once re-emit: each cycle re-publishes the full current
                         result set, exactly like the reference —
                         intentionally NOT deduplicated on send
                         (SURVEY §2.7: keep re-emit semantics).

At the reference's scale a cycle moves a few thousand rows, so its cost
is the number of Spark jobs it runs, not their data.  A steady-state
cycle runs one: the collect of the encoded batch as an Arrow table.
Everything after it happens on the driver, as in the reference's
handler: the A3 diff is a set-membership count of the batch's keys
against the previous version's ``key`` column, read from that version's
parquet file; the batch is written as one parquet file that becomes the
next snapshot version; and with a sink, the same file is hard-linked
into it.  The F8 count is an ``Observation`` on the collect, and the
snapshot and sink schemas come from parquet footers read on the driver
instead of a schema-inference job.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.types import StructType

from ..observability import get_json_logger, monotonic_ms, warn_if_slow
# diff_counts is not called here; perfbench/spans.py patches it by name
from ..operators.diff import diff_counts  # noqa: F401
from ..plans.cancellation import QueryParams, cancellation_pipeline
from .messages import encode_messages


class SnapshotStore:
    """Versioned parquet store for the cross-poll snapshot (A3 state).

    A version holds the batch a cycle published: ``key | value |
    event_time_ms | prop_dvj_id | prop_schema``, the reference's
    ``previousCancellations`` (``OmmCancellationHandler.java:22,225``),
    as one parquet file.  ``replace`` goes stage -> publish -> rename ->
    ``LATEST``: the driver writes the batch into ``_staging``, a name
    ``current_version`` never adopts; its part file is linked into the
    sink; the staging directory is renamed to ``v{n}``; and a new
    ``LATEST`` pointer is renamed into place.  A reader never observes a
    half-written snapshot or pointer, the previous version stays
    readable while the new one writes, and every version the
    no-``LATEST`` fallback can adopt has been published.

    The batch passes through the driver, which bounds it by the driver's
    memory (``spark.driver.maxResultSize`` fails an oversized one
    loudly).  That bound is the reference's own: the batch is the live
    cancellations, the set its handler holds in a driver-side list; and
    a batch published as one sink file passes through one process,
    whichever process writes it.
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

    def _current_dir(self) -> str | None:
        v = self.current_version()
        return None if v is None else os.path.join(self.path, f"v{v}")

    def read(self, spark: SparkSession) -> DataFrame | None:
        """The current version, its schema taken from one part file's
        footer so that no schema-inference job runs."""
        path = self._current_dir()
        if path is None:
            return None
        return spark.read.schema(_footer_schema(spark, _part_file(path))).parquet(path)

    def keys(self) -> pa.ChunkedArray:
        """The current version's ``key`` column, read on the driver from
        its part file with no Spark job; empty before the first version."""
        path = self._current_dir()
        if path is None:
            return pa.chunked_array([], pa.string())
        return pq.read_table(_part_file(path), columns=["key"])["key"]

    def replace(self, table: pa.Table, publish_dir: str | None = None) -> tuple[int, list[str]]:
        """Write ``table`` as the next version, publishing its part file
        into ``publish_dir`` first when one is given.  Returns the new
        version and the names of the files published.

        The part file is named and laid out as Spark's writer would
        (snappy, Spark's schema under its footer key), so ``read``,
        ``_footer_schema`` and Spark's readers of the sink treat it as
        one of theirs; ``_SUCCESS`` follows once that file is closed."""
        v = (self.current_version() or 0) + 1
        staging = os.path.join(self.path, _STAGING)
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        part = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
        spark_schema = from_arrow_schema(table.schema).json()
        pq.write_table(
            table.replace_schema_metadata({_SPARK_SCHEMA_KEY: spark_schema}),
            os.path.join(staging, part),
            compression="snappy",
        )
        with open(os.path.join(staging, "_SUCCESS"), "w"):
            pass
        published = []
        if publish_dir is not None:
            os.makedirs(publish_dir, exist_ok=True)
            _publish(os.path.join(staging, part), os.path.join(publish_dir, part))
            published.append(part)
        final = os.path.join(self.path, f"v{v}")
        # a crash between an earlier rename and its LATEST flip left v{v}
        shutil.rmtree(final, ignore_errors=True)
        os.rename(staging, final)
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
        return v, published


#: where ``replace`` writes a version before publishing it; not ``v{k}``,
#: so ``current_version`` never adopts an unpublished batch
_STAGING = "_staging"


def _publish(src: str, dst: str) -> None:
    """Put ``src`` into the sink as ``dst`` without a Spark job: a hard
    link, or across filesystems a copy under a dot name (which Spark's
    readers skip) renamed into place, so no reader sees half a file."""
    try:
        os.link(src, dst)
    except OSError:
        tmp = os.path.join(os.path.dirname(dst), "." + os.path.basename(dst))
        shutil.copyfile(src, tmp)
        os.replace(tmp, dst)


#: Spark's own schema in the footer of every parquet file it (and
#: ``SnapshotStore.replace``) writes
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
#: cycle on the batch's collect
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
    """One tick: pipeline -> collect -> diff vs snapshot -> publish ->
    replace state.

    Returns the reference's log-line counts {total, new, repeated}
    (``OmmCancellationHandler.java:206-224``) plus:

    - ``cancel_departure_combo`` — F8 special-cased rows
      (``OmmCancellationHandler.java:243-247``), counted with the diff;
    - ``snapshot_version`` and ``published`` — the version this cycle
      wrote and the sink file names it published (empty without a sink),
      so a replayed or crashed cycle can be matched to what it sent;
    - ``duration_ms`` — the cycle's wall time; a JSON-structured
      warning fires above the reference's 4000 ms SLO
      (``OmmConnector.java:86-89``).  ``clock`` is injectable for
      deterministic tests.

    The cycle's one Spark job collects the encoded batch as an Arrow
    table; F8 is a ``pyspark.sql.Observation`` on that collect.  The
    rest runs on the driver.  A3 counts the batch's rows whose key the
    previous version holds — each current row once, however often the
    previous batch holds its key, as ``diff_counts``'s ``EXISTS`` does.
    ``SnapshotStore.replace`` then writes the table as one parquet file
    (the sink grows by one file a cycle) and publishes it into the sink
    before it becomes the new version.  The source is read once, so over
    any source — the persisted candidate frame or a JDBC read — the
    snapshot holds exactly the rows just published.
    """
    logger = logger or get_json_logger()
    t0 = clock()
    counted = Observation()
    messages = encode_messages(
        cancellation_pipeline(spark, params).observe(counted, F.expr(_F8_COMBO)),
        value_format=value_format,
    )
    if sink_dir is not None:
        _check_sink_schema(spark, sink_dir, messages)
    table = messages.toArrow()
    # skip_nulls: a null key matches nothing, as under SQL's ``=``
    seen = pc.is_in(table["key"], value_set=store.keys(), skip_nulls=True)
    repeated = pc.sum(seen, min_count=0).as_py()
    version, published = store.replace(table, sink_dir)
    counts = {
        "total": table.num_rows,
        "new": table.num_rows - repeated,
        "repeated": repeated,
        **counted.get,
        "snapshot_version": version,
        "published": published,
    }
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
