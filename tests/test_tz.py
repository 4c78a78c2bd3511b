"""P11/P12 timezone tests — ports of OmmConnectorTest.java:11-17 plus
epoch-ms round-trips through the Spark expression path.
"""

from __future__ import annotations

import datetime as dt
from zoneinfo import ZoneInfo

from pyspark.sql import Row
from pyspark.sql import functions as F

import duckdb
import pytest

from transitdata_omm_cancellation_source_spark.functions.scalars import (
    local_str_to_utc_epoch_ms,
    local_to_utc_epoch_ms_sql,
    now_strings,
)


def test_local_datetime_string_helsinki():
    # OmmConnectorTest: epoch 1541415600 rendered in Helsinki
    instant = dt.datetime.fromtimestamp(1541415600, tz=dt.timezone.utc)
    assert now_strings(instant, "Europe/Helsinki")[0] == "2018-11-05 13:00:00"


def test_local_datetime_string_utc():
    # same wall-clock via UTC two hours later
    instant = dt.datetime.fromtimestamp(1541422800, tz=dt.timezone.utc)
    assert now_strings(instant, "UTC")[0] == "2018-11-05 13:00:00"


def test_year_start_utc():
    instant = dt.datetime.fromtimestamp(1514764800, tz=dt.timezone.utc)
    assert now_strings(instant, "UTC") == ("2018-01-01 00:00:00", "2018-01-01")


def test_year_boundary_helsinki():
    instant = dt.datetime.fromtimestamp(1514843999, tz=dt.timezone.utc)
    assert now_strings(instant, "Europe/Helsinki")[0] == "2018-01-01 23:59:59"


def test_local_str_to_utc_epoch_ms(spark):
    # toUtcEpochMs (OmmCancellationHandler.java:79-97): Helsinki
    # wall-clock "2024-01-01 12:00:00" == 1704103200000 UTC epoch ms;
    # winter = UTC+2.  Also check a DST (summer, UTC+3) instant.
    df = spark.createDataFrame(
        [
            Row(ts="2024-01-01 12:00:00"),
            Row(ts="2024-07-01 12:00:00"),
        ]
    )
    out = df.select(
        local_str_to_utc_epoch_ms(F.col("ts").cast("timestamp_ntz")).alias("ms")
    ).collect()
    expected = [
        int(
            dt.datetime(2024, 1, 1, 12, tzinfo=ZoneInfo("Europe/Helsinki"))
            .timestamp()
            * 1000
        ),
        int(
            dt.datetime(2024, 7, 1, 12, tzinfo=ZoneInfo("Europe/Helsinki"))
            .timestamp()
            * 1000
        ),
    ]
    assert [r.ms for r in out] == expected


def _epoch_ms(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "ts string")
    return [r.ms for r in df.select(local_str_to_utc_epoch_ms("ts").alias("ms")).collect()]


def test_malformed_local_strings_are_null(spark):
    # toUtcEpochMs returns null on a parse failure and the row is
    # dropped (OmmCancellationHandler.java:155-157); under ANSI mode a
    # plain cast would fail the whole poll cycle instead.
    assert _epoch_ms(spark, ["", "garbage", None]) == [None, None, None]


#: Europe/Helsinki switch days: local wall-clock string -> UTC epoch ms.
_DST_CASES = {
    # spring, 2024-03-31: 03:00-03:59 local does not exist
    "2024-03-31 02:59:59": 1711846799000,
    "2024-03-31 03:00:00": 1711846800000,
    "2024-03-31 03:30:00": 1711848600000,
    "2024-03-31 04:00:00": 1711846800000,
    # autumn, 2024-10-27: 03:00-03:59 local happens twice
    "2024-10-27 02:59:59": 1729987199000,
    "2024-10-27 03:00:00": 1729987200000,
    "2024-10-27 03:30:00": 1729989000000,
    "2024-10-27 03:30:00.123": 1729989000123,
    "2024-10-27 03:59:59.999": 1729990799999,
    "2024-10-27 04:00:00": 1729994400000,
}


def test_dst_switches_follow_zoneinfo_fold0(spark):
    # P11 resolves the autumn overlap to the earlier offset, as
    # java.time's LocalDateTime.atZone and zoneinfo fold=0 do.
    zone = ZoneInfo("Europe/Helsinki")
    for text, ms in _DST_CASES.items():
        local = dt.datetime.fromisoformat(text).replace(tzinfo=zone, fold=0)
        assert round(local.timestamp() * 1000) == ms, text
    assert _epoch_ms(spark, list(_DST_CASES)) == list(_DST_CASES.values())


@pytest.mark.parametrize("session_zone", ["UTC", "America/New_York", "Europe/Helsinki"])
def test_oracle_dst_switches_follow_zoneinfo_fold0(session_zone):
    # the oracles' P11 expression gives the same values as the engine
    # in DuckDB, whose own timezone() takes the later offset in the
    # autumn overlap; the session zone must not matter
    con = duckdb.connect()
    con.execute(f"SET TimeZone = '{session_zone}'")
    rows = ", ".join(f"({i}, TIMESTAMP '{t}')" for i, t in enumerate(_DST_CASES))
    got = con.execute(
        f"SELECT {local_to_utc_epoch_ms_sql('ts')} FROM (VALUES {rows}) v(i, ts) ORDER BY i"
    ).fetchall()
    assert [ms for (ms,) in got] == list(_DST_CASES.values())
