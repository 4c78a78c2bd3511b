"""Streaming lifecycle: snapshot state across cycles, the rate-driven
poller query, config/env source, JDBC template binding.
"""

from __future__ import annotations

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
    store.replace(df)
    assert store.current_version() == 1
    assert store.read(spark).count() == 5
    store.replace(spark.range(3).withColumnRenamed("id", "dvj_id"))
    store.replace(spark.range(2).withColumnRenamed("id", "dvj_id"))
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
        store.replace(spark.range(n).withColumnRenamed("id", "dvj_id"))
    # v1 left behind, as by a crash right after v3's LATEST replace
    shutil.copytree(snap / "v2", snap / "v1")
    (snap / "vnotes").mkdir()  # not a version: left alone
    store.replace(spark.range(5).withColumnRenamed("id", "dvj_id"))
    store.replace(spark.range(6).withColumnRenamed("id", "dvj_id"))
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
    store.replace(spark.range(3).withColumnRenamed("id", "dvj_id"))
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
        store.replace(spark.range(2).withColumnRenamed("id", "dvj_id"))
    monkeypatch.undo()

    assert store.current_version() == 1
    assert store.read(spark).count() == 3


def test_missing_pointer_recovers_highest_complete_version(spark, tmp_path):
    """Without LATEST the store falls back to the highest version whose
    write completed; a version without _SUCCESS was torn and is skipped."""
    import os
    import shutil

    snap = tmp_path / "snap"
    store = SnapshotStore(str(snap))
    store.replace(spark.range(3).withColumnRenamed("id", "dvj_id"))
    store.replace(spark.range(10, 12).withColumnRenamed("id", "dvj_id"))
    os.remove(snap / "LATEST")
    assert store.current_version() == 2
    assert sorted(r.dvj_id for r in store.read(spark).collect()) == [10, 11]

    shutil.copytree(snap / "v1", snap / "v3")  # a write cut before its commit
    os.remove(snap / "v3" / "_SUCCESS")
    assert store.current_version() == 2
    assert sorted(r.dvj_id for r in store.read(spark).collect()) == [10, 11]
    store.replace(spark.range(7).withColumnRenamed("id", "dvj_id"))
    assert store.current_version() == 3
    assert store.read(spark).count() == 7


def test_sink_schema_check_reads_one_file(spark, tmp_path, monkeypatch):
    """The check reads one part file's footer on the driver, never the
    whole sink: no Spark job runs, yet a format flip still raises."""
    from transitdata_omm_cancellation_source_spark.streaming import poller
    from transitdata_omm_cancellation_source_spark.streaming.messages import (
        encode_messages,
    )

    load_tables(spark, SF_SMOKE)
    store = SnapshotStore(str(tmp_path / "snap"))
    sink = tmp_path / "sink"
    for _ in range(2):
        run_poll_cycle(spark, store, QueryParams(mode="NOW"), sink_dir=str(sink))
    records = store.read(spark)
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


def test_steady_state_cycle_runs_three_jobs(spark, tmp_path):
    """Past its first two cycles a poll cycle runs the broadcast of the
    previous snapshot's keys, the sink append and the snapshot write:
    the diff counts ride on the first write, the footers give the
    schemas, and A2 reads the persisted frame without a shuffle."""
    load_tables(spark, SF_SMOKE)
    for sink, most in ((str(tmp_path / "sink"), 3), (None, 2)):
        store = SnapshotStore(str(tmp_path / f"snap-{most}"))
        for _ in range(2):
            run_poll_cycle(spark, store, QueryParams(mode="NOW"), sink_dir=sink)
        jobs = jobs_run_by(
            spark,
            lambda: run_poll_cycle(spark, store, QueryParams(mode="NOW"), sink_dir=sink),
        )
        assert jobs <= most, (sink, jobs)


def test_each_sink_cycle_appends_one_file(spark, tmp_path):
    """The sink grows by one parquet file a cycle, not one per partition
    of the candidate frame."""
    import os

    load_tables(spark, SF_SMOKE)
    store = SnapshotStore(str(tmp_path / "snap"))
    sink = tmp_path / "sink"
    for n in range(1, 4):
        run_poll_cycle(spark, store, QueryParams(mode="NOW"), sink_dir=str(sink))
        parts = [f for f in os.listdir(sink) if f.startswith("part-")]
        assert len(parts) == n, parts
    assert spark.read.parquet(str(sink)).count() == 3 * store.read(spark).count() > 0


def test_previous_snapshot_with_repeated_keys_counts_each_row_once(spark, tmp_path):
    """A3 compares by dvj_id only: a previous snapshot holding two rows
    per dvj_id (two deviation cases) still flags each current row once."""
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
        snap.withColumn("deviation_case_id", F.col("deviation_case_id") + 1_000_000)
    )
    store.replace(twice)
    again = run_poll_cycle(spark, store, QueryParams(mode="NOW"))
    assert first["total"] > 0
    assert (again["total"], again["new"], again["repeated"]) == (
        first["total"], 0, first["total"],
    )


def test_empty_batch_cycle(spark, tmp_path):
    """A clock past every valid_to selects nothing: the cycle reports
    zero counts (an Observation on an empty write still reports), appends
    no sink rows and leaves an empty snapshot whose footer gives its
    schema; the next cycle on a normal clock finds every row new."""
    import os

    from transitdata_omm_cancellation_source_spark.plans.cancellation import (
        cancellation_pipeline,
    )
    from transitdata_omm_cancellation_source_spark.streaming import poller

    load_tables(spark, SF_SMOKE)
    past_all = QueryParams(now="2099-01-01 00:00:00", today="2099-01-01", mode="NOW")
    for sink in (str(tmp_path / "sink"), None):
        store = SnapshotStore(str(tmp_path / f"snap-{sink is None}"))
        if sink is not None:
            run_poll_cycle(spark, store, QueryParams(mode="NOW"), sink_dir=sink)
        sunk = spark.read.parquet(sink).count() if sink else 0
        empty = run_poll_cycle(spark, store, past_all, sink_dir=sink)
        assert (empty["total"], empty["new"], empty["repeated"]) == (0, 0, 0)
        assert empty["cancel_departure_combo"] == 0
        if sink is not None:
            assert spark.read.parquet(sink).count() == sunk
        version = os.path.join(store.path, f"v{store.current_version()}")
        footer = poller._footer_schema(spark, poller._part_file(version))
        assert [(f.name, f.dataType) for f in footer] == [
            (f.name, f.dataType) for f in cancellation_pipeline(spark, past_all).schema
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
