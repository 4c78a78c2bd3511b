"""E3/S6/S7 — record -> keyed message encoding for the sink.

The reference builds one protobuf ``TripCancellation`` per surviving
row and sends it to Pulsar with key = dvjId, eventTime = the record's
last-modified epoch ms, and two string properties
(``OmmCancellationHandler.java:234-254``).  Here the message set is a
DataFrame: ``key | value_json | event_time_ms | prop_dvj_id |
prop_schema`` — ready for any keyed sink (``write.format("pulsar")``
/ kafka / parquet).  JSON stands in for protobuf bytes per SURVEY
§1.3 (portable build keeps the struct; ``to_protobuf`` slots in where
the descriptor is available).

S7 (per-row ordered send): the reference sends synchronously in batch
order.  Bulk writes keep order only within partitions, so
``ordered=True`` sorts by key into a deterministic send order —
the scale-honest equivalent (a single global send thread is exactly
what a 100 TB pipeline must not have).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: protobuf field order (OmmCancellationHandler.java:112-148)
PAYLOAD_FIELDS = [
    "route_id",
    "direction_id",
    "start_date",
    "start_time",
    "status",
    "schema_version",
    "dvj_id",
    "deviation_case_id",
    "deviation_cases_type",
    "affected_departures_type",
    "title",
    "description",
    "category",
    "sub_category",
]

SCHEMA_TAG = "transitdata.TripCancellation"


def encode_messages(
    records: DataFrame, ordered: bool = False, value_format: str = "json"
) -> DataFrame:
    """Deduplicated records -> keyed sink-ready messages.

    ``value_format="protobuf"`` emits real wire-format bytes
    (streaming/protobuf.py, the E3 path —
    ``OmmCancellationHandler.java:112-148,236``); ``"json"`` is the
    portable default.  Both formats use the same ``value`` column name
    (bytes vs string), so a sink's layout is format-independent —
    but appending different formats to ONE sink still mixes types;
    ``run_poll_cycle`` validates the existing sink schema first.

    Every column but ``value`` is one SQL-expression string, and so is
    the JSON ``value``: the poll cycle encodes every 30 s, and a string
    is one py4j call where a ``Column`` tree is several.

    Wire-compat caveat (streaming/protobuf.py): the portable protobuf
    codec self-assigns field numbers and encodes enums as strings —
    valid wire format, NOT byte-compatible with the reference's
    ``InternalMessages.TripCancellation`` descriptor.  Decoders built
    from the upstream ``.proto`` cannot read these bytes; wire
    ``pyspark.sql.protobuf.to_protobuf`` in with the compiled
    descriptor where upstream compatibility is required.
    """
    if value_format == "protobuf":
        from .protobuf import protobuf_value

        value = protobuf_value(PAYLOAD_FIELDS)
    else:
        value = F.expr(f"to_json(struct({', '.join(PAYLOAD_FIELDS)}))")
    meta = [
        "ts_epoch_ms AS event_time_ms",
        "dvj_id AS prop_dvj_id",
        f"'{SCHEMA_TAG}' AS prop_schema",
    ]
    out = records.select(F.expr("dvj_id AS key"), value.alias("value"), *map(F.expr, meta))
    return out.orderBy("key") if ordered else out
