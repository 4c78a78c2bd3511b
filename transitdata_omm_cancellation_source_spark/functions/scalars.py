"""Scalar transforms P2-P13 (SURVEY.md §2.2) as native Column builders.

Each function cites the reference behavior it reproduces
(`/root/reference/src/main/resources/cancellations_current_future.sql`
and `.../fi/hsl/transitdata/omm/OmmCancellationHandler.java`); all are
pure ``pyspark.sql.functions`` compositions, so Catalyst folds them
into whole-stage codegen — no Python in the row path.
"""

from __future__ import annotations

import datetime as _dt
from zoneinfo import ZoneInfo

from pyspark.sql import Column
from pyspark.sql import functions as F

#: The reference computes query params / epoch conversions in this zone
#: (environment.conf:19-20, OmmCancellationHandler.java:76-77).
DEFAULT_TIMEZONE = "Europe/Helsinki"


def char16_id(col: Column | str) -> Column:
    """P2 — ``CONVERT(CHAR(16), DVJ.Id)``: int id as string.

    The Java side re-parses the string to long
    (OmmCancellationHandler.java:137-138), so trailing-space padding of
    CHAR is semantically irrelevant; plain cast is the faithful mapping.
    """
    return F.col(col).cast("string") if isinstance(col, str) else col.cast("string")


def direction_from_gid(gid: Column | str) -> Column:
    """P3 — 12th digit of the 16-digit direction-of-line GID.

    ``CONVERT(INTEGER, SUBSTRING(CONVERT(CHAR(16), gid), 12, 1))``
    (cancellations_current_future.sql:15).  GIDs are exactly 16 digits,
    so a string cast is equivalent to CHAR(16).  1 = outbound,
    2 = inbound (Jore convention).
    """
    col = F.col(gid) if isinstance(gid, str) else gid
    return F.substring(col.cast("string"), 12, 1).cast("int")


def operating_day(day: Column | str) -> Column:
    """P4 — ``CONVERT(CHAR(8), OperatingDayDate, 112)`` = yyyyMMdd."""
    col = F.col(day) if isinstance(day, str) else day
    return F.date_format(col, "yyyyMMdd")


def start_time_over24h(offset_ts: Column | str) -> Column:
    """P5-P8 — offset-datetime -> "HH:mm:00" clock that can exceed 24 h.

    ``PlannedStartOffsetDateTime`` is an offset from 1900-01-01: a
    departure at operating-day+1 04:30 must render "28:30:00" (transit
    >24 h convention), so ``date_format`` is wrong by construction.
    Reproduces cancellations_current_future.sql:17-19:

      RIGHT('0'+CONVERT(VARCHAR(2), DATEDIFF(HOUR,'1900-01-01',t)),2)
      + ':' + RIGHT('0'+CONVERT(VARCHAR(2),
                DATEDIFF(MINUTE,'1900-01-01',t) - 60*DATEDIFF(...)),2)
      + ':00'

    ``RIGHT(s, 2)`` of a <=2-digit int is the int mod 100 left-padded,
    hence the %100 guard.  T-SQL ``DATEDIFF`` counts *boundary
    crossings*; with the anchor exactly on a minute boundary that is
    ``floor(seconds/unit)``, computed here with ``timestampdiff`` on
    the ntz values — integer arithmetic, no timezone involvement.
    """
    col = F.col(offset_ts) if isinstance(offset_ts, str) else offset_ts
    anchor = F.lit("1900-01-01 00:00:00").cast("timestamp_ntz")
    secs = F.timestamp_diff("SECOND", anchor, col.cast("timestamp_ntz"))
    mins = F.floor(secs / 60)
    hours = F.floor(secs / 3600) % 100
    rem_min = mins % 60
    return F.concat(
        F.lpad(hours.cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad(rem_min.cast("string"), 2, "0"),
        F.lit(":00"),
    )


def status_from_ad(ad_status: Column | str) -> Column:
    """P9 — trip status derivation (OmmCancellationHandler.java:125-133).

    ``affected_departures.status == 'deleted'`` (case-insensitive) means
    the cancellation itself was removed -> the trip is RUNNING again
    ("cancellation of a cancellation"); anything else -> CANCELED.
    """
    col = F.col(ad_status) if isinstance(ad_status, str) else ad_status
    return F.when(F.lower(col) == "deleted", F.lit("RUNNING")).otherwise(
        F.lit("CANCELED")
    )


def local_str_to_utc_epoch_ms(
    ts: Column | str, timezone: str = DEFAULT_TIMEZONE
) -> Column:
    """P11 — local wall-clock timestamp -> UTC epoch milliseconds.

    Reproduces ``toUtcEpochMs`` (OmmCancellationHandler.java:79-97):
    interpret the naive value in ``timezone`` and emit epoch ms;
    unparseable/empty values yield NULL (callers drop them, S5) — a
    ``try_cast``, since an ANSI-mode ``cast`` fails the whole query on
    one malformed string.  Requires session tz UTC
    (session.RUNTIME_CONFS) so the ntz->instant cast is the identity
    before the explicit zone shift.  A wall-clock time in the autumn
    overlap resolves to the earlier offset and one in the spring gap
    shifts forward by the gap, as java.time's ``atZone`` does
    (``tests/test_tz.py`` pins both switches).
    """
    col = F.col(ts) if isinstance(ts, str) else ts
    as_instant = col.try_cast("timestamp_ntz").cast("timestamp")
    return F.unix_millis(F.to_utc_timestamp(as_instant, timezone))


def local_to_utc_epoch_ms_sql(ts: str, timezone: str = DEFAULT_TIMEZONE) -> str:
    """P11 as a DuckDB expression, for the oracles: the naive timestamp
    expression ``ts`` read as wall-clock time in ``timezone`` -> UTC
    epoch ms.  DuckDB resolves a time in the autumn overlap to the later
    offset; when the instant one hour earlier shows the same wall-clock
    time, that earlier instant is taken instead, as
    ``local_str_to_utc_epoch_ms`` and java.time do.  Independent of the
    DuckDB session time zone (``tests/test_tz.py``)."""
    later = f"epoch_ms(timezone('{timezone}', {ts}))"
    earlier = f"{later} - 3600000"
    return (
        f"CASE WHEN timezone('{timezone}', to_timestamp(({earlier}) / 1000.0)) = {ts}"
        f" THEN {earlier} ELSE {later} END"
    )


def now_strings(
    now: _dt.datetime | None = None, timezone: str = DEFAULT_TIMEZONE
) -> tuple[str, str]:
    """P12 — driver-side query params (OmmConnector.java:53-59,63-65).

    Formats "now" in the configured zone as
    ``("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd")`` — the reference binds
    these as *strings* to avoid JDBC timezone coercion; we bind them as
    literals into DataFrame predicates for the same reason.
    """
    instant = now or _dt.datetime.now(tz=_dt.timezone.utc)
    local = instant.astimezone(ZoneInfo(timezone))
    return local.strftime("%Y-%m-%d %H:%M:%S"), local.strftime("%Y-%m-%d")


def schema_version() -> Column:
    """P13 — constant protobuf schemaVersion (OmmCancellationHandler.java:136)."""
    return F.lit(1)
