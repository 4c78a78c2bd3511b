"""Registry entries for the lifecycle layer: message encoding (S6),
the stateful two-cycle poll (A3 across micro-batches), events JSON
extraction and event-time windowing (north-star stream analytics).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..streaming.messages import PAYLOAD_FIELDS, SCHEMA_TAG
from ..streaming.poller import SnapshotStore, run_poll_cycle
from ..streaming.windows import (
    hopping_event_counts,
    sessionized_event_counts,
    windowed_event_counts,
)
from .cancellation import QueryParams, cancellation_oracle_sql, cancellation_pipeline
from .registry import QuerySpec, register


def _build_s6(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    records = cancellation_pipeline(spark, QueryParams(mode="NOW"))
    # same shape as encode_messages, but the value column is the fields
    # pipe-joined: Spark's and DuckDB's JSON formatters differ
    # byte-wise, so the JSON value is pinned by a unit test
    # (tests/test_streaming.py) while the oracle checks the keyed
    # message contract on a formatter-neutral serialization.
    return records.select(
        F.col("dvj_id").alias("key"),
        F.col("ts_epoch_ms").alias("event_time_ms"),
        F.col("dvj_id").alias("prop_dvj_id"),
        F.lit(SCHEMA_TAG).alias("prop_schema"),
        F.concat_ws("|", *PAYLOAD_FIELDS).alias("payload"),
    )


register(
    "s6_keyed_message_encode",
    QuerySpec(
        build=_build_s6,
        oracle=f"""
        WITH base AS ({cancellation_oracle_sql(QueryParams(mode="NOW"))})
        SELECT dvj_id AS key, ts_epoch_ms AS event_time_ms,
               dvj_id AS prop_dvj_id, '{SCHEMA_TAG}' AS prop_schema,
               concat_ws('|', {", ".join(PAYLOAD_FIELDS)}) AS payload
        FROM base
        """,
        survey_ref="S6/E3: keyed message encoding (key, payload, event time, properties)",
    ),
)


#: poll cycles the stateful query executes — the single source of
#: truth for bench.py's ``per_cycle_sec`` figure (bench asserts its
#: cycle count against this, so a change here can't silently mislabel
#: the per-cycle SLO comparison).
TWO_CYCLE_POLL_CYCLES = 2


def _build_two_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    store = SnapshotStore(tempfile.mkdtemp(prefix="omm_snapshot_"))
    rows = []
    for cycle in range(1, TWO_CYCLE_POLL_CYCLES + 1):
        counts = run_poll_cycle(spark, store, QueryParams(mode="NOW"))
        rows.append((cycle, counts["total"], counts["new"], counts["repeated"]))
    return spark.createDataFrame(
        rows, "cycle int, total long, new long, repeated long"
    )


register(
    "a3_stateful_two_cycle_poll",
    QuerySpec(
        build=_build_two_cycle,
        oracle=f"""
        WITH base AS ({cancellation_oracle_sql(QueryParams(mode="NOW"))})
        SELECT CAST(1 AS INTEGER) AS cycle, count(*) AS total,
               count(*) AS new, CAST(0 AS BIGINT) AS repeated FROM base
        UNION ALL
        SELECT CAST(2 AS INTEGER), count(*), CAST(0 AS BIGINT), count(*) FROM base
        """,
        survey_ref="A3 + streaming state: snapshot diff across two real poll cycles "
        "(SnapshotStore-backed foreachBatch body)",
    ),
)


def _build_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, ["events"])["events"]
    parsed = events.select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    # order-independent aggregates only: exact integer sums -> the
    # derived mean is deterministic under any partitioning.
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.round(F.sum("k") / F.count(F.lit(1)), 6).alias("avg_k"),
    )


register(
    "events_json_props_extract",
    QuerySpec(
        build=_build_json_props,
        oracle="""
        SELECT event_type, count(*) AS n_events,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               round(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
                     / count(*), 6) AS avg_k
        FROM events GROUP BY event_type
        """,
        survey_ref="north-star: semi-structured JSON prop extraction (get_json_object)",
    ),
)


def _build_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, ["events"])["events"]
    return sessionized_event_counts(events, "30 minutes")


register(
    "events_session_window",
    QuerySpec(
        build=_build_sessionized,
        oracle="""
        WITH seq AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts,
                   sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sid
            FROM seq
        )
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events
        FROM sess GROUP BY user_id, sid
        """,
        survey_ref="north-star streaming: session windows (gap merge; "
        "gaps-and-islands oracle)",
    ),
)


def _build_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, ["events"])["events"]
    return windowed_event_counts(events, "1 hour")


def _build_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, ["events"])["events"]
    return hopping_event_counts(events, "15 minutes", "5 minutes")


register(
    "events_hopping_window",
    QuerySpec(
        build=_build_hopping,
        oracle="""
        WITH exp AS (
            SELECT e.*,
                   make_timestamp(((epoch_ms(ts) // 300000) - k.k) * 300000000)
                       AS win_start
            FROM events e, (SELECT unnest([0, 1, 2]) AS k) k
        )
        SELECT win_start, win_start + INTERVAL 15 MINUTE AS win_end,
               event_type,
               count(*) AS n_events,
               round(min(value), 6) AS min_value,
               round(max(value), 6) AS max_value,
               count(DISTINCT user_id) AS n_users
        FROM exp GROUP BY 1, 2, 3
        """,
        survey_ref="north-star streaming: hopping/sliding event-time windows "
        "(15 min window, 5 min slide; epoch-aligned fan-out oracle)",
    ),
)


register(
    "events_tumbling_window",
    QuerySpec(
        build=_build_windowed,
        oracle="""
        SELECT date_trunc('hour', ts) AS win_start, event_type,
               count(*) AS n_events,
               round(min(value), 6) AS min_value,
               round(max(value), 6) AS max_value
        FROM events GROUP BY 1, 2
        """,
        survey_ref="north-star streaming: event-time tumbling window aggregation "
        "(same operator serves readStream + watermark)",
    ),
)


def _build_pb_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 with real wire bytes: pipeline -> encode -> decode -> fields.

    The Spark side pushes every surviving record through the protobuf
    wire-format codec (streaming/protobuf.py; Arrow-batched pandas
    UDFs) and projects the decoded payload, so any encoding defect
    breaks the hash.  The oracle never sees bytes — it projects the
    same fields straight off the relational pipeline, applying proto3
    default-value elision (empty string / zero int encode to nothing
    and decode to NULL) via nullif, which is exactly the lossy-ness
    the wire format is *specified* to have
    (OmmCancellationHandler.java:112-148,236).
    """
    from ..streaming.messages import encode_messages
    from ..streaming.protobuf import TRIP_CANCELLATION_FIELDS, decode_messages

    load_tables(spark, sf_dir)
    records = cancellation_pipeline(spark, QueryParams(mode="NOW"))
    msgs = encode_messages(records, value_format="protobuf")
    decoded = decode_messages(msgs)
    return decoded.select(
        "key",
        "event_time_ms",
        *[
            F.col(f"payload.{name}").alias(name)
            for _, name, _ in TRIP_CANCELLATION_FIELDS
        ],
    )


def _pb_roundtrip_oracle() -> str:
    from ..streaming.protobuf import TRIP_CANCELLATION_FIELDS

    cols = ",\n               ".join(
        (
            f"CAST(nullif({name}, 0) AS BIGINT) AS {name}"
            if kind == "int"
            else f"nullif({name}, '') AS {name}"
        )
        for _, name, kind in TRIP_CANCELLATION_FIELDS
    )
    return f"""
        WITH base AS ({cancellation_oracle_sql(QueryParams(mode="NOW"))})
        SELECT dvj_id AS key, ts_epoch_ms AS event_time_ms,
               {cols}
        FROM base
        """


register(
    "e3_protobuf_roundtrip",
    QuerySpec(
        build=_build_pb_roundtrip,
        oracle=_pb_roundtrip_oracle(),
        survey_ref="E3/S6: TripCancellation wire-format encode/decode round trip "
        "(OmmCancellationHandler.java:112-148,236)",
    ),
)
