"""Streaming lifecycle: snapshot state across cycles, the rate-driven
poller query, config/env source, JDBC template binding.
"""

from __future__ import annotations

import os
import time

import pytest

from transitdata_omm_cancellation_source_spark.catalog import load_tables
from transitdata_omm_cancellation_source_spark.plans.cancellation import QueryParams
from transitdata_omm_cancellation_source_spark.sources import config as cfg
from transitdata_omm_cancellation_source_spark.sources.jdbc import cancellation_query
from transitdata_omm_cancellation_source_spark.streaming.poller import (
    SnapshotStore,
    poller_query,
    run_poll_cycle,
)

from conftest import SF_SMOKE, jobs_run_by


def test_snapshot_two_cycles(spark, tmp_path):
    load_tables(spark, SF_SMOKE)
    store = SnapshotStore(str(tmp_path / "snap"))
    c1 = run_poll_cycle(spark, store, QueryParams(mode="NOW"))
    c2 = run_poll_cycle(spark, store, QueryParams(mode="NOW"))
    assert c1["total"] > 0
    assert c1["new"] == c1["total"] and c1["repeated"] == 0
    assert c2["new"] == 0 and c2["repeated"] == c2["total"] == c1["total"]


def test_redelivered_cycle_is_idempotent_under_compaction(spark, tmp_path):
    """At-least-once redelivery must be invisible to a compacting consumer.

    The reference re-publishes the full current result set every cycle
    (at-least-once, intentionally not deduplicated on send); consumers
    that need exactly-once state read the topic COMPACTED — latest
    message per key.  So the sink contract is: re-running a cycle over
    the same source data (crash-between-sink-and-snapshot, scheduler
    retry) may append duplicates, but the compacted view — key set and
    each key's full latest payload — must be byte-identical.  A key
    whose payload drifted between identical cycles (nondeterministic
    encode, clock leaking into the value) would silently corrupt
    compacted-consumer state; this pins it.
    """
    from pyspark.sql import functions as F

    load_tables(spark, SF_SMOKE)
    store = SnapshotStore(str(tmp_path / "snap"))
    sink = str(tmp_path / "sink")

    def compacted():
        # latest-per-key, full payload: what a compacting broker keeps
        return {
            tuple(r)
            for r in spark.read.parquet(sink)
            .select("key", "value", "event_time_ms", "prop_dvj_id", "prop_schema")
            .distinct()
            .collect()
        }

    c1 = run_poll_cycle(spark, store, QueryParams(mode="NOW"), sink_dir=sink)
    first_rows = spark.read.parquet(sink).count()
    first_compacted = compacted()
    assert first_rows == c1["total"] > 0
    assert len(first_compacted) == first_rows  # one payload per key per cycle

    # Redeliver: same source data, same params — e.g. the scheduler
    # re-running a tick whose sink write landed but whose ack didn't.
    run_poll_cycle(spark, store, QueryParams(mode="NOW"), sink_dir=sink)
    assert spark.read.parquet(sink).count() == 2 * first_rows  # at-least-once kept
    assert compacted() == first_compacted  # no new key, no payload drift

    # The per-key guarantee explicitly: every key still has exactly one
    # distinct payload across both deliveries.
    payloads_per_key = (
        spark.read.parquet(sink)
        .groupBy("key")
        .agg(F.count_distinct("value", "event_time_ms").alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    assert payloads_per_key == 1


def test_snapshot_store_versioning(spark, tmp_path):
    load_tables(spark, SF_SMOKE)
    store = SnapshotStore(str(tmp_path / "snap"))
    assert store.read(spark) is None
    df = spark.range(5).withColumnRenamed("id", "dvj_id")
    store.replace(df.toArrow())
    assert store.current_version() == 1
    assert store.read(spark).count() == 5
    store.replace(spark.range(3).withColumnRenamed("id", "dvj_id").toArrow())
    store.replace(spark.range(2).withColumnRenamed("id", "dvj_id").toArrow())
    assert store.current_version() == 3  # v1 pruned, v2 kept, v3 current
    assert store.read(spark).count() == 2


def test_replace_prunes_every_stale_version(spark, tmp_path):
    """A version a crash (between the LATEST replace and the prune) or
    a silently failed rmtree left behind is pruned by a later replace,
    not kept on disk forever."""
    import shutil

    snap = tmp_path / "snap"
    store = SnapshotStore(str(snap))
    for n in (3, 2, 4):
        store.replace(spark.range(n).withColumnRenamed("id", "dvj_id").toArrow())
    # v1 left behind, as by a crash right after v3's LATEST replace
    shutil.copytree(snap / "v2", snap / "v1")
    (snap / "vnotes").mkdir()  # not a version: left alone
    store.replace(spark.range(5).withColumnRenamed("id", "dvj_id").toArrow())
    store.replace(spark.range(6).withColumnRenamed("id", "dvj_id").toArrow())
    assert store.current_version() == 5
    assert sorted(p.name for p in snap.iterdir()) == [
        "LATEST",
        "v4",
        "v5",
        "vnotes",
    ]
    assert store.read(spark).count() == 6


def test_torn_pointer_write_keeps_previous_version(spark, tmp_path, monkeypatch):
    """A crash while LATEST is being written must not lose the pointer:
    the next cycle would otherwise see no snapshot, count every row as
    new and overwrite v1."""
    import builtins

    from transitdata_omm_cancellation_source_spark.streaming import poller

    store = SnapshotStore(str(tmp_path / "snap"))
    store.replace(spark.range(3).withColumnRenamed("id", "dvj_id").toArrow())
    assert store.current_version() == 1

    class _TornFile:
        def __init__(self, fh):
            self._fh = fh

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self._fh.close()

        def write(self, _data):
            raise OSError("disk full")

    def torn_open(path, mode="r", *args, **kwargs):
        fh = builtins.open(path, mode, *args, **kwargs)
        return _TornFile(fh) if "w" in mode else fh

    monkeypatch.setattr(poller, "open", torn_open, raising=False)
    with pytest.raises(OSError, match="disk full"):
        store.replace(spark.range(2).withColumnRenamed("id", "dvj_id").toArrow())
    monkeypatch.undo()

    assert store.current_version() == 1
    assert store.read(spark).count() == 3


def test_missing_pointer_recovers_highest_complete_version(spark, tmp_path):
    """Without LATEST the store falls back to the highest version whose
    write completed; a version without _SUCCESS was torn and is skipped."""
    import shutil

    snap = tmp_path / "snap"
    store = SnapshotStore(str(snap))
    store.replace(spark.range(3).withColumnRenamed("id", "dvj_id").toArrow())
    store.replace(spark.range(10, 12).withColumnRenamed("id", "dvj_id").toArrow())
    os.remove(snap / "LATEST")
    assert store.current_version() == 2
    assert sorted(r.dvj_id for r in store.read(spark).collect()) == [10, 11]

    shutil.copytree(snap / "v1", snap / "v3")  # a write cut before its commit
    os.remove(snap / "v3" / "_SUCCESS")
    assert store.current_version() == 2
    assert sorted(r.dvj_id for r in store.read(spark).collect()) == [10, 11]
    store.replace(spark.range(7).withColumnRenamed("id", "dvj_id").toArrow())
    assert store.current_version() == 3
    assert store.read(spark).count() == 7


def test_sink_schema_check_reads_one_file(spark, tmp_path, monkeypatch):
    """The check reads one part file's footer on the driver, never the
    whole sink: no Spark job runs, yet a format flip still raises."""
    from transitdata_omm_cancellation_source_spark.plans.cancellation import (
        cancellation_pipeline,
    )
    from transitdata_omm_cancellation_source_spark.streaming import poller
    from transitdata_omm_cancellation_source_spark.streaming.messages import (
        encode_messages,
    )

    load_tables(spark, SF_SMOKE)
    store = SnapshotStore(str(tmp_path / "snap"))
    sink = tmp_path / "sink"
    for _ in range(2):
        run_poll_cycle(spark, store, QueryParams(mode="NOW"), sink_dir=str(sink))
    records = cancellation_pipeline(spark, QueryParams(mode="NOW"))
    read_metadata = poller.pq.read_metadata
    footers = []

    def spy(path, *args, **kwargs):
        footers.append(path)
        return read_metadata(path, *args, **kwargs)

    monkeypatch.setattr(poller.pq, "read_metadata", spy)
    messages = encode_messages(records)
    jobs = jobs_run_by(
        spark, lambda: poller._check_sink_schema(spark, str(sink), messages)
    )
    assert jobs == 0
    assert len(footers) == 1 and footers[0].startswith(str(sink / "part-"))
    with pytest.raises(ValueError, match="sink schema mismatch"):
        poller._check_sink_schema(
            spark, str(sink), encode_messages(records, value_format="protobuf")
        )


def test_steady_state_cycle_runs_one_job(spark, tmp_path):
    """Past its first two cycles a poll cycle runs one job, the collect
    of its batch, with or without a sink: the previous keys come from a
    parquet file read on the driver, the diff, the write and the publish
    run on the driver, the F8 count rides on the collect, the footers
    give the schemas, and A2 reads the persisted frame without a
    shuffle."""
    load_tables(spark, SF_SMOKE)
    for sink in (str(tmp_path / "sink"), None):
        store = SnapshotStore(str(tmp_path / f"snap-{sink is None}"))
        for _ in range(2):
            run_poll_cycle(spark, store, QueryParams(mode="NOW"), sink_dir=sink)
        jobs = jobs_run_by(
            spark,
            lambda: run_poll_cycle(spark, store, QueryParams(mode="NOW"), sink_dir=sink),
        )
        assert jobs <= 1, (sink, jobs)


def test_each_sink_cycle_appends_one_file(spark, tmp_path):
    """The sink grows by one parquet file a cycle, not one per partition
    of the candidate frame."""
    load_tables(spark, SF_SMOKE)
    store = SnapshotStore(str(tmp_path / "snap"))
    sink = tmp_path / "sink"
    for n in range(1, 4):
        run_poll_cycle(spark, store, QueryParams(mode="NOW"), sink_dir=str(sink))
        parts = [f for f in os.listdir(sink) if f.startswith("part-")]
        assert len(parts) == n, parts
    assert spark.read.parquet(str(sink)).count() == 3 * store.read(spark).count() > 0


#: poll clocks whose batches mix new and repeated rows at sf0.001
CLOCKS = ["2024-01-19 00:00:00", "2024-01-15 00:00:00", "2024-01-10 00:00:00"]


def _at(now: str) -> QueryParams:
    return QueryParams(now=now, today=now[:10], mode="NOW")


def _diff(counts: dict) -> tuple:
    return counts["total"], counts["new"], counts["repeated"]


def _sink_rows(spark, sink: str):
    from collections import Counter

    return Counter(tuple(r) for r in spark.read.parquet(sink).collect())


def _crash_run(spark, tmp_path, name, monkeypatch, publish):
    """The three ``CLOCKS`` cycles with a sink, the second one first run
    with ``poller._publish`` replaced by ``publish`` (which raises) and
    then run again: the store, the sink and the counts of the cycles
    that completed."""
    from transitdata_omm_cancellation_source_spark.streaming import poller

    store = SnapshotStore(str(tmp_path / name / "snap"))
    sink = str(tmp_path / name / "sink")
    counts = [run_poll_cycle(spark, store, _at(CLOCKS[0]), sink_dir=sink)]
    with monkeypatch.context() as m:
        m.setattr(poller, "_publish", publish)
        with pytest.raises(RuntimeError, match="crash"):
            run_poll_cycle(spark, store, _at(CLOCKS[1]), sink_dir=sink)
    counts += [run_poll_cycle(spark, store, _at(now), sink_dir=sink) for now in CLOCKS[1:]]
    return store, sink, counts


def _uninterrupted(spark, tmp_path, value_format="json"):
    store = SnapshotStore(str(tmp_path / "clean" / "snap"))
    sink = str(tmp_path / "clean" / "sink")
    counts = [
        run_poll_cycle(spark, store, _at(now), sink_dir=sink, value_format=value_format)
        for now in CLOCKS
    ]
    return sink, counts


def _crash(*_args):
    raise RuntimeError("crash")


def test_crash_after_staging_write_leaves_an_uninterrupted_run(spark, tmp_path, monkeypatch):
    """A cycle that dies after its write, before any file reaches the
    sink, left neither a sink file nor a version: its retry and the next
    cycle leave the sink and counts of a run without the crash."""
    load_tables(spark, SF_SMOKE)
    sink, want = _uninterrupted(spark, tmp_path)
    store, crashed, got = _crash_run(spark, tmp_path, "crash", monkeypatch, _crash)
    assert [_diff(c) for c in got] == [_diff(c) for c in want]
    assert all(c["new"] and c["repeated"] for c in want[1:])  # both flags seen
    assert _sink_rows(spark, crashed) == _sink_rows(spark, sink)
    assert store.current_version() == 3
    assert sorted(p.name for p in (tmp_path / "crash" / "snap").iterdir()) == [
        "LATEST", "v2", "v3",
    ]


def test_crash_after_publish_republishes_the_batch(spark, tmp_path, monkeypatch):
    """A cycle that dies after its file reached the sink, before the
    version is renamed into place, is retried against the previous
    version: the sink holds that batch twice (at-least-once, as the
    reference's re-emit), and every cycle counts as in an uninterrupted
    run."""
    from transitdata_omm_cancellation_source_spark.streaming import poller

    publish = poller._publish

    def publish_then_crash(src, dst):
        publish(src, dst)
        raise RuntimeError("crash")

    load_tables(spark, SF_SMOKE)
    sink, want = _uninterrupted(spark, tmp_path)
    _, crashed, got = _crash_run(spark, tmp_path, "crash", monkeypatch, publish_then_crash)
    assert [_diff(c) for c in got] == [_diff(c) for c in want]
    (second,) = want[1]["published"]
    batch = _sink_rows(spark, os.path.join(sink, second))
    assert sum(batch.values()) == want[1]["total"] > 0
    assert _sink_rows(spark, crashed) == _sink_rows(spark, sink) + batch


def test_first_cycle_crash_before_publish_adopts_no_version(spark, tmp_path, monkeypatch):
    """Without ``LATEST`` the store adopts the highest complete
    ``v{k}``; a first cycle that dies after its write but before
    publishing must not leave one, or the next cycle would count as
    repeated rows that were never sent."""
    from transitdata_omm_cancellation_source_spark.streaming import poller

    load_tables(spark, SF_SMOKE)
    store = SnapshotStore(str(tmp_path / "snap"))
    sink = str(tmp_path / "sink")
    monkeypatch.setattr(poller, "_publish", _crash)
    with pytest.raises(RuntimeError, match="crash"):
        run_poll_cycle(spark, store, _at(CLOCKS[0]), sink_dir=sink)
    monkeypatch.undo()
    assert store.current_version() is None
    again = run_poll_cycle(spark, store, _at(CLOCKS[0]), sink_dir=sink)
    assert again["new"] == again["total"] > 0
    assert spark.read.parquet(sink).count() == again["total"]


def test_publish_across_filesystems_copies_without_dot_files(spark, tmp_path, monkeypatch):
    """Where ``os.link`` cannot link (another filesystem), the file is
    copied under a dot name and renamed: the sink gets the same rows and
    keeps no temporary file."""
    import errno

    def no_link(*_args):
        raise OSError(errno.EXDEV, "Invalid cross-device link")

    load_tables(spark, SF_SMOKE)
    sink, want = _uninterrupted(spark, tmp_path)
    monkeypatch.setattr(os, "link", no_link)
    store = SnapshotStore(str(tmp_path / "copy" / "snap"))
    copied = str(tmp_path / "copy" / "sink")
    got = [run_poll_cycle(spark, store, _at(now), sink_dir=copied) for now in CLOCKS]
    monkeypatch.undo()
    assert [_diff(c) for c in got] == [_diff(c) for c in want]
    assert _sink_rows(spark, copied) == _sink_rows(spark, sink)
    names = os.listdir(copied)
    assert sorted(names) == sorted(n for c in got for n in c["published"])
    assert all(os.stat(os.path.join(copied, n)).st_nlink == 1 for n in names)


def test_cycles_match_the_oracle_across_shuffle_partitions(spark, tmp_path):
    """Seven shuffle partitions with AQE coalescing off, so the candidate
    frame's rows hash across partitions instead of meeting in one: each
    sink cycle adds one file, the snapshot holds the cycle's batch, and
    total/new/repeated equal the DuckDB oracle's, cycle by cycle."""
    from transitdata_omm_cancellation_source_spark.caching import forget
    from transitdata_omm_cancellation_source_spark.plans.cancellation import (
        cancellation_oracle_sql,
        cancellation_pipeline,
    )
    from transitdata_omm_cancellation_source_spark.testing import duckdb_connection

    partitions, coalesce = "spark.sql.shuffle.partitions", (
        "spark.sql.adaptive.coalescePartitions.enabled"
    )
    before = spark.conf.get(partitions)
    store = SnapshotStore(str(tmp_path / "snap"))
    sink = tmp_path / "sink"
    con = duckdb_connection(SF_SMOKE)
    prev: set = set()
    spark.conf.set(partitions, "7")
    try:
        load_tables(spark, SF_SMOKE)  # loading re-applies the engine confs
        spark.conf.set(coalesce, "false")
        forget("cancellation.candidates")  # rebuilt at 7 partitions
        assert cancellation_pipeline(spark, _at(CLOCKS[0])).rdd.getNumPartitions() == 7
        for n, now in enumerate(CLOCKS, 1):
            counts = run_poll_cycle(spark, store, _at(now), sink_dir=str(sink))
            rows = set(con.execute(cancellation_oracle_sql(_at(now))).df()["dvj_id"])
            new = len(rows - prev)
            assert _diff(counts) == (len(rows), new, len(rows) - new), now
            assert len([f for f in os.listdir(sink) if f.startswith("part-")]) == n
            assert store.read(spark).count() == counts["total"]
            prev = rows
    finally:
        con.close()
        spark.conf.set(partitions, before)
        spark.conf.set(coalesce, "true")
        forget("cancellation.candidates")


def test_previous_snapshot_with_repeated_keys_counts_each_row_once(spark, tmp_path):
    """A3 compares by dvj_id only: a previous snapshot holding two
    messages per key (two deviation cases) still flags each current row
    once."""
    from pyspark.sql import functions as F

    from transitdata_omm_cancellation_source_spark.operators.diff import diff_counts

    cur = spark.createDataFrame([("1",), ("2",), ("3",)], "dvj_id string")
    prev = spark.createDataFrame(
        [("1", 7), ("1", 8), ("2", 7), ("9", 7)], "dvj_id string, case_id int"
    )
    assert diff_counts(cur, prev).collect()[0].asDict() == {
        "total": 3, "new": 1, "repeated": 2,
    }

    load_tables(spark, SF_SMOKE)
    store = SnapshotStore(str(tmp_path / "snap"))
    first = run_poll_cycle(spark, store, QueryParams(mode="NOW"))
    snap = store.read(spark)
    twice = snap.unionByName(
        snap.withColumn("event_time_ms", F.col("event_time_ms") + 1)
    )
    store.replace(twice.toArrow())
    again = run_poll_cycle(spark, store, QueryParams(mode="NOW"))
    assert first["total"] > 0
    assert (again["total"], again["new"], again["repeated"]) == (
        first["total"], 0, first["total"],
    )


#: a clock past every valid_to: the batch is empty
PAST_ALL = QueryParams(now="2099-01-01 00:00:00", today="2099-01-01", mode="NOW")


def _spark_diff(spark, store, params) -> tuple:
    """The Spark A3 operator over the records of ``params`` and the
    store's current version: what the cycle's driver diff must count."""
    from pyspark.sql import functions as F

    from transitdata_omm_cancellation_source_spark.operators.diff import diff_counts
    from transitdata_omm_cancellation_source_spark.plans.cancellation import (
        cancellation_pipeline,
    )

    prev = store.read(spark)
    if prev is not None:
        prev = prev.select(F.col("key").alias("dvj_id"))
    return tuple(diff_counts(cancellation_pipeline(spark, params), prev).first())


@pytest.mark.parametrize(
    "case", ["first_then_steady", "repeated_prev_keys", "empty_prev", "protobuf"]
)
def test_driver_diff_matches_the_spark_operator(spark, tmp_path, case):
    """Over every ``CLOCKS`` cycle, the counts the cycle takes on the
    driver equal ``diff_counts`` over the same records and the version
    the cycle diffs against: with no version yet, with a previous
    version holding each key twice, with a 0-row previous version, and
    for protobuf messages."""
    from pyspark.sql import functions as F

    load_tables(spark, SF_SMOKE)
    store = SnapshotStore(str(tmp_path / "snap"))
    value_format = "protobuf" if case == "protobuf" else "json"
    got, want = [], []
    for now in CLOCKS:
        if case == "empty_prev":
            run_poll_cycle(spark, store, PAST_ALL)
            assert store.read(spark).count() == 0
        elif case == "repeated_prev_keys" and store.current_version() is not None:
            snap = store.read(spark)
            twice = snap.unionByName(
                snap.withColumn("event_time_ms", F.col("event_time_ms") + 1)
            )
            store.replace(twice.toArrow())
        want.append(_spark_diff(spark, store, _at(now)))
        got.append(_diff(run_poll_cycle(spark, store, _at(now), value_format=value_format)))
    assert got == want
    if case == "empty_prev":
        assert all(new == total > 0 for total, new, _ in want)
    else:
        assert want[0][1] == want[0][0] > 0  # the first cycle: every row new
        assert all(new and repeated for _, new, repeated in want[1:])


@pytest.mark.parametrize("value_format", ["json", "protobuf"])
def test_cycle_continues_a_store_and_sink_written_by_spark(spark, tmp_path, value_format):
    """A store and sink whose last version Spark's writer made (one
    ``coalesce(1)`` part file in ``v1``, linked into the sink): the next
    cycle diffs against that version, passes the sink schema check and
    leaves the counts and sink rows of a run that wrote every file on
    the driver; the sink reads as one schema across both writers."""
    from transitdata_omm_cancellation_source_spark.plans.cancellation import (
        cancellation_pipeline,
    )
    from transitdata_omm_cancellation_source_spark.streaming import poller
    from transitdata_omm_cancellation_source_spark.streaming.messages import (
        encode_messages,
    )

    load_tables(spark, SF_SMOKE)
    clean, want = _uninterrupted(spark, tmp_path, value_format)
    snap, sink = tmp_path / "spark" / "snap", tmp_path / "spark" / "sink"
    messages = encode_messages(
        cancellation_pipeline(spark, _at(CLOCKS[0])), value_format=value_format
    )
    messages.coalesce(1).write.parquet(str(snap / "v1"))
    (snap / "LATEST").write_text("1")
    old = poller._part_file(str(snap / "v1"))
    sink.mkdir()
    os.link(old, sink / os.path.basename(old))
    store = SnapshotStore(str(snap))
    got = run_poll_cycle(
        spark, store, _at(CLOCKS[1]), sink_dir=str(sink), value_format=value_format
    )
    assert _diff(got) == _diff(want[1]) and got["repeated"] > 0
    (new,) = got["published"]
    footers = [
        poller._footer_schema(spark, str(sink / f)) for f in (os.path.basename(old), new)
    ]
    assert footers[0] == footers[1] == messages.schema
    # names + types: Spark reads a directory back as nullable
    read = spark.read.parquet(str(sink)).schema
    assert [(f.name, f.dataType) for f in read] == [
        (f.name, f.dataType) for f in messages.schema
    ]
    assert _sink_rows(spark, str(sink)) == _sink_rows(spark, clean) - _sink_rows(
        spark, os.path.join(clean, want[2]["published"][0])
    )


def test_crash_inside_the_driver_write_adopts_no_version(spark, tmp_path, monkeypatch):
    """A cycle whose parquet write dies after creating its file leaves
    no ``_SUCCESS``, no new version and no sink file: the retry and the
    next cycle leave the counts and sink rows of an uninterrupted run.
    ``_SUCCESS`` is opened only once the part file is closed, footer and
    all."""
    import builtins

    import pyarrow.parquet as pq

    from transitdata_omm_cancellation_source_spark.streaming import poller

    def torn_write(_table, where, **_kwargs):
        with open(where, "wb") as fh:
            fh.write(b"PAR1")  # the header; the footer never comes
        raise RuntimeError("crash")

    closed = []

    def open_after_close(path, *args, **kwargs):
        if os.path.basename(path) == "_SUCCESS":
            part = poller._part_file(os.path.dirname(path))
            closed.append(pq.read_metadata(part).num_rows)
        return builtins.open(path, *args, **kwargs)

    load_tables(spark, SF_SMOKE)
    sink, want = _uninterrupted(spark, tmp_path)
    store = SnapshotStore(str(tmp_path / "crash" / "snap"))
    crashed = str(tmp_path / "crash" / "sink")
    monkeypatch.setattr(poller, "open", open_after_close, raising=False)
    got = [run_poll_cycle(spark, store, _at(CLOCKS[0]), sink_dir=crashed)]
    with monkeypatch.context() as m:
        m.setattr(pq, "write_table", torn_write)
        with pytest.raises(RuntimeError, match="crash"):
            run_poll_cycle(spark, store, _at(CLOCKS[1]), sink_dir=crashed)
    staging = tmp_path / "crash" / "snap" / "_staging"
    assert [p.name.startswith("part-") for p in staging.iterdir()] == [True]
    assert store.current_version() == 1
    assert os.listdir(crashed) == got[0]["published"]
    got += [run_poll_cycle(spark, store, _at(now), sink_dir=crashed) for now in CLOCKS[1:]]
    assert [_diff(c) for c in got] == [_diff(c) for c in want]
    assert _sink_rows(spark, crashed) == _sink_rows(spark, sink)
    assert closed == [c["total"] for c in got]


def test_empty_batch_cycle(spark, tmp_path):
    """A clock past every valid_to selects nothing: the cycle reports
    zero counts (an Observation on an empty collect still reports), appends
    no sink rows and leaves an empty snapshot whose footer gives the
    message schema; the next cycle on a normal clock finds every row new."""
    from transitdata_omm_cancellation_source_spark.plans.cancellation import (
        cancellation_pipeline,
    )
    from transitdata_omm_cancellation_source_spark.streaming import poller
    from transitdata_omm_cancellation_source_spark.streaming.messages import (
        encode_messages,
    )

    load_tables(spark, SF_SMOKE)
    for sink in (str(tmp_path / "sink"), None):
        store = SnapshotStore(str(tmp_path / f"snap-{sink is None}"))
        if sink is not None:
            run_poll_cycle(spark, store, QueryParams(mode="NOW"), sink_dir=sink)
        sunk = spark.read.parquet(sink).count() if sink else 0
        empty = run_poll_cycle(spark, store, PAST_ALL, sink_dir=sink)
        assert (empty["total"], empty["new"], empty["repeated"]) == (0, 0, 0)
        assert empty["cancel_departure_combo"] == 0
        if sink is not None:
            assert spark.read.parquet(sink).count() == sunk
        version = os.path.join(store.path, f"v{store.current_version()}")
        footer = poller._footer_schema(spark, poller._part_file(version))
        assert [(f.name, f.dataType) for f in footer] == [
            (f.name, f.dataType)
            for f in encode_messages(cancellation_pipeline(spark, PAST_ALL)).schema
        ]
        assert store.read(spark).count() == 0
        normal = run_poll_cycle(spark, store, QueryParams(mode="NOW"))
        assert normal["total"] > 0 and normal["new"] == normal["total"]


def test_poller_streaming_query(spark, tmp_path):
    """The scheduler loop as a real StreamingQuery: fires >=1 cycle."""
    load_tables(spark, SF_SMOKE)
    store = SnapshotStore(str(tmp_path / "snap"))
    sink = str(tmp_path / "sink")
    q = poller_query(
        spark, store, QueryParams(mode="NOW"), sink_dir=sink,
        interval="1 seconds", checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        deadline = time.time() + 60
        while store.current_version() is None and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    assert store.current_version() is not None
    assert spark.read.parquet(sink).count() > 0


def test_encode_messages_json_roundtrip(spark):
    """The json-format value carries every payload field, parseable back."""
    import json

    from transitdata_omm_cancellation_source_spark.plans.cancellation import (
        cancellation_pipeline,
    )
    from transitdata_omm_cancellation_source_spark.streaming.messages import (
        PAYLOAD_FIELDS,
        encode_messages,
    )

    load_tables(spark, SF_SMOKE)
    records = cancellation_pipeline(spark, QueryParams(mode="NOW"))
    msgs = encode_messages(records, ordered=True)
    rows = msgs.collect()
    originals = records.orderBy("dvj_id").collect()
    assert len(rows) == len(originals) > 0
    parsed = json.loads(rows[0]["value"])
    assert set(parsed).issubset(set(PAYLOAD_FIELDS))  # nulls omitted by to_json
    first = [r for r in originals if r["dvj_id"] == rows[0]["key"]][0]
    assert parsed["route_id"] == first["route_id"]
    assert parsed["status"] in ("CANCELED", "RUNNING")
    assert rows[0]["event_time_ms"] == first["ts_epoch_ms"]


def test_config_env_overrides():
    base = cfg.load_config(env={})
    assert base["omm.interval_secs"] == 30 and base["omm.mode"] == "NOW"
    over = cfg.load_config(
        env={"POLLER_INTERVAL_SECS": "5", "CANCELLATIONS_FROM_TIME": "past"}
    )
    assert over["omm.interval_secs"] == 5 and over["omm.mode"] == "PAST"
    with pytest.raises(ValueError):
        cfg.load_config(env={"CANCELLATIONS_FROM_TIME": "sometimes"})
    assert cfg.connection_string(env={}) is None
    assert cfg.connection_string(
        env={"TRANSITDATA_PUBTRANS_CONN_STRING": "jdbc:x"}
    ) == "jdbc:x"


def test_jdbc_template_selection_and_binding():
    now_sql = cancellation_query(QueryParams(mode="NOW"))
    past_sql = cancellation_query(QueryParams(mode="PAST"))
    assert "'2024-01-15 12:00:00'" in now_sql
    assert "last_modified >= '2024-01-10 00:00:00'" not in now_sql
    assert "DC.last_modified >= '2024-01-10 00:00:00'" in past_sql
    with pytest.raises(ValueError):
        cancellation_query(QueryParams(now="1; DROP TABLE x"))


def test_poller_protobuf_sink_streaming_e2e(spark, tmp_path):
    """Full streaming path with REAL wire bytes: rate trigger ->
    foreachBatch poll cycle -> protobuf-encoded keyed messages in the
    sink -> decode back to the pipeline's fields (E3 end to end)."""
    from transitdata_omm_cancellation_source_spark.plans.cancellation import (
        cancellation_pipeline,
    )
    from transitdata_omm_cancellation_source_spark.streaming.poller import poller_query
    from transitdata_omm_cancellation_source_spark.streaming.protobuf import (
        decode_messages,
    )

    load_tables(spark, SF_SMOKE)
    store = SnapshotStore(str(tmp_path / "snap"))
    sink = str(tmp_path / "sink")
    q = poller_query(
        spark, store, QueryParams(mode="NOW"), sink_dir=sink,
        interval="1 seconds", checkpoint_dir=str(tmp_path / "ckpt"),
        value_format="protobuf",
    )
    try:
        deadline = time.time() + 60
        while store.current_version() is None and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()

    msgs = spark.read.parquet(sink)
    assert dict(msgs.dtypes)["value"] == "binary"  # wire bytes, not the JSON stand-in
    decoded = decode_messages(msgs).select("key", "event_time_ms", "payload.*")
    originals = {r["dvj_id"]: r for r in cancellation_pipeline(
        spark, QueryParams(mode="NOW")).collect()}
    rows = decoded.collect()
    assert len(rows) >= len(originals) > 0  # >= : cycles re-emit the full set
    for row in rows[:25]:
        ref = originals[row["key"]]
        assert row["route_id"] == ref["route_id"]
        assert row["status"] == ref["status"]
        assert row["event_time_ms"] == ref["ts_epoch_ms"]


def test_fail_fast_supervisor_closes_app_on_failed_cycle(spark, tmp_path):
    """Main.java:53-81 — a failing cycle terminates the query and the
    supervisor's close hook fires (System.exit/app.close analogue)."""
    import threading

    from transitdata_omm_cancellation_source_spark.streaming.poller import (
        run_supervised,
    )

    closed = threading.Event()

    def boom(*_a, **_k):
        raise RuntimeError("injected cycle failure")

    store = SnapshotStore(str(tmp_path / "snap"))
    q = run_supervised(
        spark, store, QueryParams(mode="NOW"),
        interval="1 seconds", checkpoint_dir=str(tmp_path / "ckpt"),
        close=closed.set, cycle=boom,
    )
    try:
        assert closed.wait(timeout=60), "close hook never fired"
        deadline = time.time() + 30
        while q.isActive and time.time() < deadline:
            time.sleep(0.2)
        assert not q.isActive
        assert q.exception() is not None
    finally:
        if q.isActive:
            q.stop()


def test_fail_fast_supervisor_ignores_clean_stop(spark, tmp_path):
    """A caller-initiated stop() must NOT trigger application close."""
    import threading

    from transitdata_omm_cancellation_source_spark.streaming.poller import (
        run_supervised,
    )

    load_tables(spark, SF_SMOKE)
    closed = threading.Event()
    store = SnapshotStore(str(tmp_path / "snap"))
    q = run_supervised(
        spark, store, QueryParams(mode="NOW"), sink_dir=str(tmp_path / "sink"),
        interval="1 seconds", checkpoint_dir=str(tmp_path / "ckpt"),
        close=closed.set,
    )
    deadline = time.time() + 60
    while store.current_version() is None and time.time() < deadline:
        time.sleep(0.5)
    q.stop()
    assert store.current_version() is not None
    assert not closed.wait(timeout=5)


def test_poll_cycle_rejects_value_format_flip_on_populated_sink(spark, tmp_path):
    """Appending protobuf bytes to a sink already holding json strings
    must fail loudly instead of writing mixed-type parquet."""
    import pytest

    from transitdata_omm_cancellation_source_spark.streaming.poller import (
        run_poll_cycle,
    )

    load_tables(spark, SF_SMOKE)
    store = SnapshotStore(str(tmp_path / "snap"))
    sink = str(tmp_path / "sink")
    run_poll_cycle(spark, store, QueryParams(mode="NOW"), sink_dir=sink)
    with pytest.raises(ValueError, match="sink schema mismatch"):
        run_poll_cycle(
            spark, store, QueryParams(mode="NOW"), sink_dir=sink,
            value_format="protobuf",
        )
    # same format keeps appending fine
    run_poll_cycle(spark, store, QueryParams(mode="NOW"), sink_dir=sink)


def test_two_cycle_query_removes_its_snapshot_dir(spark, tmp_path, monkeypatch):
    """The stateful two-cycle registry query returns local rows and
    leaves no snapshot directory behind."""
    import tempfile

    from transitdata_omm_cancellation_source_spark.plans import lifecycle_queries

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rows = lifecycle_queries._build_two_cycle(spark, SF_SMOKE).collect()
    assert [r.cycle for r in rows] == [1, 2]
    assert list(tmp_path.iterdir()) == []
