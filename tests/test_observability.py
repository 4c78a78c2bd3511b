"""Operational surfaces: protobuf E3 encoding, the 4 s slow-cycle
warning, F8 combination counting, structured JSON logging.
"""

from __future__ import annotations

import json
import logging

from transitdata_omm_cancellation_source_spark.catalog import load_tables
from transitdata_omm_cancellation_source_spark.observability import (
    SLOW_CYCLE_THRESHOLD_MS,
    JsonFormatter,
    get_json_logger,
    warn_if_slow,
)
from transitdata_omm_cancellation_source_spark.plans.cancellation import (
    QueryParams,
    cancellation_pipeline,
)
from transitdata_omm_cancellation_source_spark.plans.omm_model import register_omm_views
from transitdata_omm_cancellation_source_spark.streaming.poller import (
    SnapshotStore,
    run_poll_cycle,
)
from transitdata_omm_cancellation_source_spark.streaming.protobuf import (
    decode_trip_cancellation,
    encode_trip_cancellation,
)

from conftest import SF_SMOKE


# --- protobuf wire format ---------------------------------------------------

SAMPLE = {
    "route_id": "7575",
    "direction_id": 2,
    "start_date": "20180101",
    "start_time": "28:30:00",
    "status": "CANCELED",
    "schema_version": 1,
    "dvj_id": "1234567890123456",
    "deviation_case_id": 987654321,
    "deviation_cases_type": "CANCEL_DEPARTURE",
    "affected_departures_type": "CANCEL_ENTIRE_DEPARTURE",
    "title": "Peruttu: linja 7575",
    "description": "Lähtö peruttu — ääkköset säilyvät",
    "category": "TRAFFIC_ACCIDENT",
    "sub_category": "ASSAULT_ON_DRIVER",
}


def test_protobuf_roundtrip_one_message():
    buf = encode_trip_cancellation(SAMPLE)
    assert isinstance(buf, bytes) and len(buf) > 0
    # wire sanity: first tag is field 1, wire type 2 (0x0A)
    assert buf[0] == 0x0A
    assert decode_trip_cancellation(buf) == SAMPLE


def test_protobuf_default_elision_and_unknown_fields():
    rec = dict(SAMPLE, schema_version=0, title=None, description="")
    buf = encode_trip_cancellation(rec)
    out = decode_trip_cancellation(buf)
    for absent in ("schema_version", "title", "description"):
        assert absent not in out  # proto3 default elision
    # unknown field (number 31, single-byte tag) is skipped per spec
    unknown = bytes([31 << 3 | 2, 3]) + b"xyz"
    assert decode_trip_cancellation(buf + unknown) == out


def test_protobuf_varint_boundaries():
    for dcid in (1, 127, 128, 16384, 2**31 - 1, 2**45):
        buf = encode_trip_cancellation(dict(SAMPLE, deviation_case_id=dcid))
        assert decode_trip_cancellation(buf)["deviation_case_id"] == dcid


def test_protobuf_spark_path_roundtrips(spark):
    """encode_messages(value_format='protobuf') -> decode_messages
    recovers every payload field of every record."""
    from transitdata_omm_cancellation_source_spark.streaming.messages import (
        encode_messages,
    )
    from transitdata_omm_cancellation_source_spark.streaming.protobuf import (
        decode_messages,
    )

    load_tables(spark, SF_SMOKE)
    records = cancellation_pipeline(spark, QueryParams(mode="NOW"))
    msgs = encode_messages(records, value_format="protobuf")
    decoded = decode_messages(msgs).select("key", "payload.*").collect()
    originals = {r["dvj_id"]: r for r in records.collect()}
    assert len(decoded) == len(originals) > 0
    for row in decoded:
        src = originals[row["key"]]
        assert row["route_id"] == src["route_id"]
        assert row["status"] == src["status"]
        assert row["deviation_case_id"] == src["deviation_case_id"]
        assert row["start_time"] == src["start_time"]


# --- slow-cycle warn + F8 + JSON logging ------------------------------------


class _ListHandler(logging.Handler):
    def __init__(self):
        super().__init__()
        self.lines: list[str] = []

    def emit(self, record):
        self.lines.append(self.format(record))


def _capture_logger(name: str) -> tuple[logging.Logger, _ListHandler]:
    logger = logging.getLogger(name)
    logger.handlers.clear()
    handler = _ListHandler()
    handler.setFormatter(JsonFormatter())
    logger.addHandler(handler)
    logger.setLevel(logging.INFO)
    logger.propagate = False
    return logger, handler


def test_warn_if_slow_thresholds():
    logger, handler = _capture_logger("t.slow")
    assert not warn_if_slow(logger, SLOW_CYCLE_THRESHOLD_MS - 1)
    assert warn_if_slow(logger, SLOW_CYCLE_THRESHOLD_MS + 1)
    assert len(handler.lines) == 1
    doc = json.loads(handler.lines[0])
    assert doc["level"] == "WARNING" and doc["duration_ms"] > 4000


def test_poll_cycle_times_and_warns_with_fake_clock(spark, tmp_path):
    """Injected clock makes the cycle 'take' 5 s: duration_ms is
    reported and the SLO warning fires (OmmConnector.java:86-89)."""
    load_tables(spark, SF_SMOKE)
    logger, handler = _capture_logger("t.cycle")
    ticks = iter([0.0, 5000.0])
    counts = run_poll_cycle(
        spark,
        SnapshotStore(str(tmp_path / "snap")),
        QueryParams(mode="NOW"),
        clock=lambda: next(ticks),
        logger=logger,
    )
    assert counts["duration_ms"] == 5000.0
    docs = [json.loads(ln) for ln in handler.lines]
    assert any(d["level"] == "WARNING" for d in docs)
    done = [d for d in docs if d["message"] == "Poll cycle complete"]
    assert done and done[0]["total"] == counts["total"]
    assert "cancel_departure_combo" in done[0]


def test_cycle_record_names_its_version_and_published_files(spark, tmp_path):
    """The cycle record carries the snapshot version the cycle wrote and
    the sink files it published (none without a sink), so a replayed or
    crashed cycle can be matched to what it sent."""
    import os

    load_tables(spark, SF_SMOKE)
    logger, handler = _capture_logger("t.record")
    sink = tmp_path / "sink"
    for sink_dir in (str(sink), None):
        store = SnapshotStore(str(tmp_path / f"snap-{sink_dir is None}"))
        for n in (1, 2):
            before = set(os.listdir(sink)) if sink.exists() else set()
            run_poll_cycle(
                spark, store, QueryParams(mode="NOW"), sink_dir=sink_dir, logger=logger
            )
            done = json.loads(handler.lines[-1])
            assert done["message"] == "Poll cycle complete"
            assert done["snapshot_version"] == store.current_version() == n
            added = sorted(set(os.listdir(sink)) - before)
            assert done["published"] == (added if sink_dir else [])
            if sink_dir:
                assert len(added) == 1 and added[0].startswith("part-")
                version = os.path.join(store.path, f"v{n}", added[0])
                assert os.path.samefile(version, sink / added[0])


def test_f8_combo_count_matches_direct_aggregation(spark, tmp_path):
    """Every testdata candidate carries the F8 pair, so the even
    deviation cases are shadowed to another valid affected-departure
    type: the combo count must then differ from the row count."""
    from pyspark.sql import functions as F

    load_tables(spark, SF_SMOKE)
    ad = register_omm_views(spark)["omm_affected_departures"]
    ad.withColumn(
        "type",
        F.expr(
            "CASE WHEN deviation_case_id % 2 = 0"
            " THEN 'CANCEL_STOPS_FROM_MIDDLE' ELSE type END"
        ),
    ).createOrReplaceTempView("omm_affected_departures")
    try:
        logger, _ = _capture_logger("t.f8")
        counts = run_poll_cycle(
            spark, SnapshotStore(str(tmp_path / "snap")),
            QueryParams(mode="NOW"), logger=logger,
        )
        expected = (
            cancellation_pipeline(spark, QueryParams(mode="NOW"))
            .filter(
                (F.col("deviation_cases_type") == "CANCEL_DEPARTURE")
                & (F.col("affected_departures_type") == "CANCEL_ENTIRE_DEPARTURE")
            )
            .count()
        )
    finally:
        spark.catalog.dropTempView("omm_affected_departures")
    assert 0 < counts["cancel_departure_combo"] < counts["total"]
    assert counts["cancel_departure_combo"] == expected
    assert counts["duration_ms"] > 0


def test_json_logger_is_idempotent_and_parseable():
    a = get_json_logger("t.idem")
    b = get_json_logger("t.idem")
    assert a is b and len(a.handlers) == 1
    record = logging.LogRecord("t.idem", logging.INFO, __file__, 1, "hello %s", ("x",), None)
    doc = json.loads(a.handlers[0].formatter.format(record))
    assert doc["message"] == "hello x" and doc["level"] == "INFO"
