"""E1 — the flagship trip-cancellation pipeline (SURVEY.md §3).

Reference lifecycle (``Main.java:53-66`` →
``OmmConnector.queryAndProcessResults`` →
``OmmCancellationHandler.handleAndSend``):

  scan 11 tables → join J1-J10 → filter F1-F7 → project P1-P8 →
  decode P9-P13 + malformed-row drop S5 → dedup A2 → diff A3 → sink S6

The reference splits this between SQL Server (relational half) and a
row-at-a-time Java loop (dataflow half).  Here the *whole* lifecycle is
one declarative DataFrame program: Catalyst fuses decode/validation
into the join stages (whole-stage codegen), prunes every scan to the
referenced columns, pushes literal predicates into parquet, and
broadcasts the small dimension tables — the plan a 100 TB run needs.

The reference re-runs the statement every 30 s, and between polls only
its clock parameters change; of the filters, only F2/F3 read them.  So
the statement is split into shared pieces: the clock-free join
(``_joined``: J1-J10; ``_filtered``: F1, F4-F7), the F2/F3 predicate
(``_temporal``) and the P1-P8 projection (``_projected``).
``raw_cancellations`` composes them as written.  ``cancellation_pipeline``
builds the *candidate frame* once per source version: the clock-free
join, projected and decoded under S5, carrying the four columns F2/F3
read.  The frame is hash-partitioned on ``dvj_id`` and persisted through
``caching.memo``, keyed on its input files, and its plan object is
reused while the OMM views stand (``omm_model.omm_plan``).  Each call
then runs only F2/F3 and A2 over it; the partitioning satisfies A2's
``PARTITION BY dvj_id, deviation_case_id``, so A2 plans no shuffle.
Both are SQL expression strings (``_temporal``, ``priority_argmax``):
a poll cycle rebuilds them every 30 s, and a string is parsed JVM-side
in one py4j call where a ``Column`` tree costs one per node.  A
candidate plan with a leaf that is not a file scan (a JDBC read) has
nothing to fingerprint, so it is never persisted.

Query templates: cancellations_current_future.sql (NOW mode, 2 params)
and cancellations_past_current_future.sql (PAST mode, 5 params,
incremental change capture of recently modified past cancellations).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import fingerprinted, forget, memo
from ..catalog import load_tables
from ..functions import enums
from ..functions.scalars import (
    DEFAULT_TIMEZONE,
    char16_id,
    direction_from_gid,
    local_str_to_utc_epoch_ms,
    local_to_utc_epoch_ms_sql,
    operating_day,
    start_time_over24h,
    status_from_ad,
)
from ..operators.dedup import priority_argmax
from .omm_model import omm_ctes, omm_plan
from .registry import QuerySpec, register


@dataclass(frozen=True)
class QueryParams:
    """S2 — the reference's bind parameters (OmmConnector.java:53-81).

    All three are *local wall-clock strings* in ``omm.timezone``; the
    reference binds strings precisely to avoid JDBC tz coercion
    (OmmConnector.java:62).  ``since`` (= now - poll interval) only
    applies in PAST mode (cancellations_past_current_future.sql:37).
    Defaults sit mid-range of the testdata's January 2024 event span so
    every WHERE arm is exercised.
    """

    now: str = "2024-01-15 12:00:00"
    today: str = "2024-01-15"
    since: str = "2024-01-10 00:00:00"
    mode: str = "NOW"  # CancellationSourceType: NOW | PAST (Main.java:30-44)


def _joined(spark: SparkSession) -> DataFrame:
    """J1-J10 over the OMM views, under the reference's table aliases.

    KVT/KT/OT derive from tables that stay tiny at every scale factor
    (suppliers/nations/regions ~10^1..10^3 rows) → explicit broadcast;
    the remaining dimensions are left to Catalyst/AQE, which will
    broadcast them while they fit and shuffle them when they do not.
    """
    dc = spark.table("omm_deviation_cases").alias("DC")
    ad = spark.table("omm_affected_departures").alias("AD")
    blm = spark.table("omm_bulletin_localized_messages").alias("BLM")
    b = spark.table("omm_bulletins").alias("B")
    dvj = spark.table("omm_dated_vehicle_journey").alias("DVJ")
    vj = spark.table("omm_vehicle_journey").alias("VJ")
    vjt = spark.table("omm_vehicle_journey_template").alias("VJT")
    kvv = spark.table("omm_key_variant_value").alias("KVV")
    kvt = F.broadcast(spark.table("omm_key_variant_type")).alias("KVT")
    kt = F.broadcast(spark.table("omm_key_type")).alias("KT")
    ot = F.broadcast(spark.table("omm_object_type")).alias("OT")
    return (
        dc
        # J1 (left: a case may have no affected departures … yet J4 is inner)
        .join(ad, F.col("DC.deviation_case_id") == F.col("AD.deviation_case_id"), "left")
        # J2/J3 (left: bulletin may be missing; F1 below re-tightens BLM)
        .join(blm, F.col("DC.bulletin_id") == F.col("BLM.bulletins_id"), "left")
        .join(b, F.col("DC.bulletin_id") == F.col("B.bulletins_id"), "left")
        # J4-J7 (inner fact chain)
        .join(dvj, F.col("DVJ.Id") == F.col("AD.departure_id"), "inner")
        .join(vj, F.col("VJ.Id") == F.col("DVJ.IsBasedOnVehicleJourneyId"), "inner")
        .join(vjt, F.col("VJT.Id") == F.col("DVJ.IsBasedOnVehicleJourneyTemplateId"), "inner")
        .join(kvv, F.col("KVV.IsForObjectId") == F.col("VJ.Id"), "inner")
        # J8-J10 (broadcast dimension chain)
        .join(kvt, F.col("KVT.Id") == F.col("KVV.IsOfKeyVariantTypeId"), "inner")
        .join(kt, F.col("KT.Id") == F.col("KVT.IsForKeyTypeId"), "inner")
        .join(ot, F.col("OT.Number") == F.col("KT.ExtendsObjectTypeNumber"), "inner")
    )


def _temporal(
    params: QueryParams,
    valid_to: str,
    ad_status: str,
    operating_day_date: str,
    dc_last_modified: str,
) -> str:
    """F2/F3 — the only predicates that read the clock, as a SQL
    expression over the four columns they compare (raw ``AD.status``:
    F2 is case-sensitive).  One string is one py4j call per poll cycle
    where the equivalent ``Column`` tree costs dozens."""
    now = f"CAST('{params.now}' AS TIMESTAMP_NTZ)"
    today = f"CAST('{params.today}' AS TIMESTAMP_NTZ)"
    deleted = f"{valid_to} IS NULL AND {ad_status} = 'deleted'"
    # F2 — temporal validity disjunction with NULL logic (SQL L34-35)
    current_or_future = (
        f"({valid_to} > {now} OR ({deleted} AND {operating_day_date} >= {today}))"
    )
    if params.mode != "PAST":
        return current_or_future
    # F3 — incremental capture of recently modified past rows
    # (cancellations_past_current_future.sql:34-37)
    since = f"CAST('{params.since}' AS TIMESTAMP_NTZ)"
    past_modified = (
        f"({valid_to} <= {now} OR ({deleted} AND {operating_day_date} < {today}))"
        f" AND {dc_last_modified} >= {since}"
    )
    return f"({current_or_future} OR ({past_modified}))"


def _filtered(joined: DataFrame, temporal: str | None = None) -> DataFrame:
    """F1 and F4-F7 (clock-free), with F2/F3 when ``temporal`` is given."""
    cond = [
        "BLM.language_code = 'fi'",  # F1
        "KT.Name IN ('JoreIdentity', 'JoreRouteIdentity', 'RouteName')",  # F4
        "OT.Name = 'VehicleJourney'",  # F5
        "VJT.IsWorkedOnDirectionOfLineGid IS NOT NULL",  # F6
        "DVJ.IsReplacedById IS NULL",  # F7
    ]
    if temporal is not None:
        cond.insert(1, temporal)  # F2/F3
    return joined.where(" AND ".join(cond))


def _projected(filtered: DataFrame, *extra: Column) -> DataFrame:
    """P1-P8 — projection with the reference's aliases (SQL L1-19)."""
    return filtered.select(
        F.col("DC.deviation_case_id").alias("deviation_case_id"),
        F.col("DC.valid_from").alias("VALID_FROM"),
        F.col("DC.valid_to").alias("VALID_TO"),
        F.col("DC.type").alias("DEVIATION_CASES_TYPE"),
        F.col("DC.last_modified").alias("DEVIATION_CASES_LAST_MODIFIED"),
        F.col("AD.last_modified").alias("AFFECTED_DEPARTURES_LAST_MODIFIED"),
        F.col("AD.status").alias("AFFECTED_DEPARTURES_STATUS"),
        F.col("AD.type").alias("AFFECTED_DEPARTURES_TYPE"),
        F.col("BLM.title").alias("TITLE"),
        F.col("BLM.description").alias("DESCRIPTION"),
        F.col("B.category").alias("CATEGORY"),
        F.col("B.sub_category").alias("SUB_CATEGORY"),
        char16_id(F.col("DVJ.Id")).alias("DVJ_ID"),  # P2
        F.col("KVV.StringValue").alias("ROUTE_NAME"),
        direction_from_gid(F.col("VJT.IsWorkedOnDirectionOfLineGid")).alias("DIRECTION"),  # P3
        operating_day(F.col("DVJ.OperatingDayDate")).alias("OPERATING_DAY"),  # P4
        start_time_over24h(F.col("DVJ.PlannedStartOffsetDateTime")).alias("START_TIME"),  # P5-P8
        *extra,
    )
    # O1 (ORDER BY DC.last_modified) feeds A2's encounter order; a global
    # sort here would only pay a shuffle to produce an ordering the dedup
    # window re-derives locally, so the order column travels instead.


def raw_cancellations(spark: SparkSession, params: QueryParams) -> DataFrame:
    """The 17-column relational half (cancellations_current_future.sql:1-39).

    Join chain J1-J10 and filters F1-F7 exactly as written — including
    the two semantic traps SURVEY §7 flags:

    - J4: the INNER join on ``DVJ.Id = AD.departure_id`` consumes J1's
      LEFT join, silently dropping AD-less deviation cases.  Preserved,
      not "fixed".
    - F1: ``BLM.language_code = 'fi'`` lives in WHERE, so it also
      cancels J2's outerness for bulletin-less cases.  Preserved.

    ``cancellation_pipeline`` runs the same pieces in another order: the
    clock-free join once per source version, F2/F3 per call.
    """
    temporal = _temporal(
        params, "DC.valid_to", "AD.status", "DVJ.OperatingDayDate", "DC.last_modified"
    )
    return _projected(_filtered(_joined(spark), temporal))


def _decoded(df: DataFrame, timezone: str, *extra: str) -> DataFrame:
    """``decode_cancellations`` keeping ``ad_status`` and ``extra``."""
    decoded = df.select(
        F.col("deviation_case_id"),
        F.col("ROUTE_NAME").alias("route_id"),
        F.col("DIRECTION").alias("direction_id"),
        F.col("OPERATING_DAY").alias("start_date"),
        F.col("START_TIME").alias("start_time"),
        status_from_ad("AFFECTED_DEPARTURES_STATUS").alias("status"),  # P9
        F.lit(1).alias("schema_version"),  # P13
        char16_id(F.col("DVJ_ID").cast("long")).alias("dvj_id"),  # Long.toString(getLong(..)) L137
        F.col("DEVIATION_CASES_TYPE").alias("deviation_cases_type"),
        F.col("AFFECTED_DEPARTURES_TYPE").alias("affected_departures_type"),
        F.col("TITLE").alias("title"),
        F.col("DESCRIPTION").alias("description"),
        F.col("CATEGORY").alias("category"),
        F.col("SUB_CATEGORY").alias("sub_category"),
        local_str_to_utc_epoch_ms("AFFECTED_DEPARTURES_LAST_MODIFIED", timezone).alias(
            "ts_epoch_ms"
        ),  # P11
        F.col("DEVIATION_CASES_LAST_MODIFIED").alias("dc_last_modified"),  # A2 order
        F.col("AFFECTED_DEPARTURES_STATUS").alias("ad_status"),
        *extra,
    )
    return decoded.filter(
        enums.is_valid_enum(F.lower(F.col("ad_status")), enums.AFFECTED_DEPARTURES_STATUS)
        & enums.is_valid_enum("deviation_cases_type", enums.DEVIATION_CASES_TYPE)
        & enums.is_valid_enum("affected_departures_type", enums.AFFECTED_DEPARTURES_TYPE)
        & enums.is_valid_enum("category", enums.CATEGORY)
        & enums.is_valid_enum("sub_category", enums.SUB_CATEGORY)
        & F.col("ts_epoch_ms").isNotNull()
    )


def decode_cancellations(df: DataFrame, timezone: str = DEFAULT_TIMEZONE) -> DataFrame:
    """S4/S5 + P9-P13 — ResultSet decode as vectorized expressions.

    Mirrors ``parseData`` (OmmCancellationHandler.java:106-166): derive
    Status (P9), parse AFFECTED_DEPARTURES_LAST_MODIFIED as ``timezone``
    wall-clock → UTC epoch ms (P11; null ⇒ row dropped, L155-157), and
    drop rows whose enum strings fail validation (S5, L161-163).  The
    Java loop throws/catches per row; here malformed rows are filtered
    out by vectorized ``isin`` predicates — same survivors, no Python.
    """
    return _decoded(df, timezone).drop("ad_status")


def dedup_cancellations(df: DataFrame) -> DataFrame:
    """A2 — one survivor per (dvj_id, deviation_case_id)."""
    return priority_argmax(
        df,
        group_cols=["dvj_id", "deviation_case_id"],
        status_col="status",
        encounter_order_col="dc_last_modified",
        ts_col="ts_epoch_ms",
    )


#: what the candidate frame carries past decode for F2/F3 besides
#: ``ad_status`` and ``dc_last_modified``
_CLOCK_INPUTS = ("VALID_TO", "OPERATING_DAY_DATE")
_CANDIDATES = "cancellation.candidates"


def _candidate_plan(spark: SparkSession) -> tuple[DataFrame, bool]:
    """The clock-free join, projected and decoded under S5, and whether
    its data may be persisted.  Built once per OMM view set; a rebuild
    first drops the previous set's persisted frame, whose plan Spark's
    cache would otherwise match to this one's (same paths, maybe new
    bytes)."""
    forget(_CANDIDATES)
    plan = _decoded(
        _projected(
            _filtered(_joined(spark)),
            F.col("DVJ.OperatingDayDate").alias("OPERATING_DAY_DATE"),
        ),
        DEFAULT_TIMEZONE,
        *_CLOCK_INPUTS,
    )
    return plan, fingerprinted(plan)


def cancellation_pipeline(
    spark: SparkSession, params: QueryParams | None = None
) -> DataFrame:
    """scan → join → filter → project → decode → dedup (E1 through A2).

    Requires base testdata views (catalog.load_tables) to be registered;
    registers the derived OMM views itself.  Returns the deduplicated,
    send-ready record set (the input to A3 diff / S6 sink).

    Only F2/F3 read the clock, so the rest runs once per source version:
    the candidate frame (J1-J10, F1, F4-F7, P1-P8, decode and S5) is
    hash-partitioned on ``dvj_id`` and persisted through ``caching.memo``,
    keyed on its input files, and each call runs F2/F3 and A2 over it
    with no Exchange.  A plan with a leaf that is not a file scan (a JDBC
    read) cannot be fingerprinted; it runs uncached, and Catalyst pushes
    F2/F3 into the join as in ``raw_cancellations``, so a caller that
    reads the records more than once re-runs the source query each time
    and may see other rows (the poll cycle reads them once).
    """
    p = params or QueryParams()
    candidates, persistable = omm_plan(spark, _CANDIDATES, _candidate_plan)
    if persistable:
        candidates = memo(
            _CANDIDATES, candidates, lambda: candidates.repartition("dvj_id"), frame=True
        )
    current = candidates.where(
        _temporal(p, "VALID_TO", "ad_status", "OPERATING_DAY_DATE", "dc_last_modified")
    )
    return dedup_cancellations(current).drop("dc_last_modified", "ad_status", *_CLOCK_INPUTS)


# ---------------------------------------------------------------------------
# DuckDB oracle — the same lifecycle in portable SQL, built on the same
# derivation CTEs, used by the driver's correctness harness.
# ---------------------------------------------------------------------------

def _sql_quote_list(values: list[str]) -> str:
    return ", ".join("'" + v + "'" for v in values)


def cancellation_oracle_sql(params: QueryParams | None = None) -> str:
    """DuckDB-dialect equivalent of ``cancellation_pipeline``."""
    p = params or QueryParams()
    temporal = f"""(DC.valid_to > TIMESTAMP '{p.now}'
            OR (DC.valid_to IS NULL AND AD.status = 'deleted'
                AND DVJ.OperatingDayDate >= TIMESTAMP '{p.today} 00:00:00'))"""
    if p.mode == "PAST":
        temporal = f"""({temporal}
            OR ((DC.valid_to <= TIMESTAMP '{p.now}'
                 OR (DC.valid_to IS NULL AND AD.status = 'deleted'
                     AND DVJ.OperatingDayDate < TIMESTAMP '{p.today} 00:00:00'))
                AND DC.last_modified >= TIMESTAMP '{p.since}'))"""
    return f"""
WITH {omm_ctes()},
raw AS (
    SELECT
        DC.deviation_case_id AS deviation_case_id,
        DC.type AS deviation_cases_type,
        DC.last_modified AS dc_last_modified,
        AD.last_modified AS ad_last_modified,
        AD.status AS ad_status,
        AD.type AS affected_departures_type,
        BLM.title AS title,
        BLM.description AS description,
        B.category AS category,
        B.sub_category AS sub_category,
        CAST(DVJ.Id AS VARCHAR) AS dvj_id,
        KVV.StringValue AS route_id,
        CAST(substring(CAST(VJT.IsWorkedOnDirectionOfLineGid AS VARCHAR), 12, 1) AS INTEGER) AS direction_id,
        strftime(DVJ.OperatingDayDate, '%Y%m%d') AS start_date,
        lpad(CAST((CAST(floor(datediff('minute', TIMESTAMP '1900-01-01 00:00:00', DVJ.PlannedStartOffsetDateTime) / 60) AS BIGINT) % 100) AS VARCHAR), 2, '0')
          || ':' ||
        lpad(CAST((datediff('minute', TIMESTAMP '1900-01-01 00:00:00', DVJ.PlannedStartOffsetDateTime) % 60) AS VARCHAR), 2, '0')
          || ':00' AS start_time
    FROM omm_deviation_cases DC
    LEFT JOIN omm_affected_departures AD ON DC.deviation_case_id = AD.deviation_case_id
    LEFT JOIN omm_bulletin_localized_messages BLM ON DC.bulletin_id = BLM.bulletins_id
    LEFT JOIN omm_bulletins B ON DC.bulletin_id = B.bulletins_id
    INNER JOIN omm_dated_vehicle_journey DVJ ON DVJ.Id = AD.departure_id
    INNER JOIN omm_vehicle_journey VJ ON VJ.Id = DVJ.IsBasedOnVehicleJourneyId
    INNER JOIN omm_vehicle_journey_template VJT ON VJT.Id = DVJ.IsBasedOnVehicleJourneyTemplateId
    INNER JOIN omm_key_variant_value KVV ON KVV.IsForObjectId = VJ.Id
    INNER JOIN omm_key_variant_type KVT ON KVT.Id = KVV.IsOfKeyVariantTypeId
    INNER JOIN omm_key_type KT ON KT.Id = KVT.IsForKeyTypeId
    INNER JOIN omm_object_type OT ON OT.Number = KT.ExtendsObjectTypeNumber
    WHERE BLM.language_code = 'fi'
      AND {temporal}
      AND KT.Name IN ('JoreIdentity', 'JoreRouteIdentity', 'RouteName')
      AND OT.Name = 'VehicleJourney'
      AND VJT.IsWorkedOnDirectionOfLineGid IS NOT NULL
      AND DVJ.IsReplacedById IS NULL
),
decoded AS (
    SELECT
        deviation_case_id, route_id, direction_id, start_date, start_time,
        CASE WHEN lower(ad_status) = 'deleted' THEN 'RUNNING' ELSE 'CANCELED' END AS status,
        CAST(1 AS INTEGER) AS schema_version,
        dvj_id, deviation_cases_type, affected_departures_type,
        title, description, category, sub_category,
        {local_to_utc_epoch_ms_sql("ad_last_modified")} AS ts_epoch_ms,
        dc_last_modified
    FROM raw
    WHERE lower(ad_status) IN ({_sql_quote_list(enums.AFFECTED_DEPARTURES_STATUS)})
      AND deviation_cases_type IN ({_sql_quote_list(enums.DEVIATION_CASES_TYPE)})
      AND affected_departures_type IN ({_sql_quote_list(enums.AFFECTED_DEPARTURES_TYPE)})
      AND category IN ({_sql_quote_list(enums.CATEGORY)})
      AND sub_category IN ({_sql_quote_list(enums.SUB_CATEGORY)})
      AND ad_last_modified IS NOT NULL
),
dedup AS (
    SELECT *, row_number() OVER (
        PARTITION BY dvj_id, deviation_case_id
        ORDER BY CASE WHEN status = 'CANCELED' THEN 0 ELSE 1 END ASC,
                 CASE WHEN status = 'CANCELED' THEN 0.0 ELSE -CAST(ts_epoch_ms AS DOUBLE) END ASC,
                 dc_last_modified ASC,
                 ts_epoch_ms ASC
    ) AS rn
    FROM decoded
)
SELECT deviation_case_id, route_id, direction_id, start_date, start_time,
       status, schema_version, dvj_id, deviation_cases_type,
       affected_departures_type, title, description, category, sub_category,
       ts_epoch_ms
FROM dedup WHERE rn = 1
"""


def _flagship(mode: str):
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_tables(spark, sf_dir)
        return cancellation_pipeline(spark, QueryParams(mode=mode))

    return build


register(
    "cancellation_pipeline_now",
    QuerySpec(
        build=_flagship("NOW"),
        oracle=cancellation_oracle_sql(QueryParams(mode="NOW")),
        survey_ref="E1: J1-J10,F1-F2,F4-F7,P1-P13,S4-S5,A2",
    ),
)
register(
    "cancellation_pipeline_past",
    QuerySpec(
        build=_flagship("PAST"),
        oracle=cancellation_oracle_sql(QueryParams(mode="PAST")),
        survey_ref="E2/F3: incremental change capture",
    ),
)
