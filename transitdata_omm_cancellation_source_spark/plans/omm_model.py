"""OMM logical source model realized over the driver testdata.

The reference queries 11 SQL Server tables (SURVEY.md §1.4 /
FIXTURES.md §A).  The driver environment only ships the TPC-H-ish
testdata, so this module *derives* the 11 OMM relations from those
tables with deterministic, side-effect-free arithmetic.  The derivation
is written once, in the common SQL subset parsed identically by Spark
SQL and DuckDB, and is used two ways:

- Spark: ``register_omm_views(spark)`` materializes each relation as a
  temp view (a projection over the parquet scan — stays columnar,
  prunes, pushes down; nothing is collected or cached).
- Oracle: ``omm_ctes()`` returns the same text as a WITH-clause prefix
  so DuckDB sees byte-identical fixture relations.

Value ranges are sf-agnostic: every modulus keeps foreign keys inside
the smallest scale factor's key ranges, so the same SQL is valid at
sf0.001 .. sf0.1 (and, by construction, at any larger sf).

Fixture-coverage notes (FIXTURES.md §A requirements):
- deviation_cases.valid_to has NULLs (open-ended cases)  -> F2 null arm
- affected_departures.status covers active/deleted       -> P9 both arms
- bulletin messages cover fi/sv/en                       -> F1 observable
- VJT GIDs cover direction 1, 2 and NULL                 -> P3/F6
- DVJ.IsReplacedById has NULL and non-NULL rows          -> F7
- DVJ.PlannedStartOffsetDateTime exceeds 1900-01-02      -> P5 >24h clock
- KeyType.Name has in-set and out-of-set values          -> F4
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# 16-digit GID whose 12th digit carries the direction (SURVEY §2.2 P3):
# 9011000000000000 + direction*10^4 + low-4-digit suffix never touches
# digit 12 because the suffix is < 10^4.
_OMM_DERIVATION: dict[str, str] = {
    # --- OMM_Community side: deviation/bulletin relations from events+part
    "omm_deviation_cases": """
        SELECT
            event_id                                   AS deviation_case_id,
            ts                                         AS valid_from,
            CASE WHEN event_id % 7 = 0 THEN NULL
                 ELSE ts + (36 * INTERVAL 1 HOUR) END  AS valid_to,
            CASE WHEN event_id % 11 = 0 THEN 'DISRUPTION'
                 ELSE 'CANCEL_DEPARTURE' END           AS type,
            ts + (7 * INTERVAL 1 MINUTE)               AS last_modified,
            CASE WHEN event_id % 5 = 0 THEN NULL
                 ELSE event_id % 180 END               AS bulletin_id
        FROM events
    """,
    "omm_affected_departures": """
        SELECT
            event_id                                   AS deviation_case_id,
            event_id % 1400                            AS departure_id,
            ts + (3 * INTERVAL 1 MINUTE)               AS last_modified,
            CASE WHEN event_type = 'error' THEN 'deleted'
                 ELSE 'active' END                     AS status,
            CASE WHEN event_id % 17 = 0 THEN 'CANCEL_UNKNOWN'
                 WHEN event_id % 3 = 0 THEN 'CANCEL_ENTIRE_DEPARTURE'
                 ELSE 'CANCEL_STOPS_FROM_MIDDLE' END   AS type
        FROM events
    """,
    "omm_bulletin_localized_messages": """
        SELECT
            p_partkey                                  AS bulletins_id,
            CASE p_partkey % 3 WHEN 0 THEN 'fi'
                               WHEN 1 THEN 'sv'
                               ELSE 'en' END           AS language_code,
            p_name                                     AS title,
            p_type                                     AS description
        FROM part
    """,
    "omm_bulletins": """
        SELECT
            p_partkey                                  AS bulletins_id,
            CASE p_partkey % 4 WHEN 0 THEN 'TRAFFIC_ACCIDENT'
                               WHEN 1 THEN 'WEATHER'
                               WHEN 2 THEN 'TECHNICAL_FAILURE'
                               ELSE 'STRIKE' END       AS category,
            CASE p_partkey % 3 WHEN 0 THEN 'ASSAULT'
                               WHEN 1 THEN 'WEATHER_CONDITIONS'
                               ELSE 'BREAK_MALFUNCTION' END AS sub_category
        FROM part
    """,
    # --- ptDOI4_Community side: journey relations from orders/customer/...
    "omm_dated_vehicle_journey": """
        SELECT
            o_orderkey                                 AS Id,
            o_custkey % 140                            AS IsBasedOnVehicleJourneyId,
            o_orderkey % 190                           AS IsBasedOnVehicleJourneyTemplateId,
            TIMESTAMP '2024-01-01 00:00:00'
              + ((o_orderkey % 30) * INTERVAL 1 DAY)   AS OperatingDayDate,
            TIMESTAMP '1900-01-01 00:00:00'
              + ((o_orderkey % 1800) * INTERVAL 1 MINUTE)
                                                       AS PlannedStartOffsetDateTime,
            CASE WHEN o_orderkey % 13 = 0 THEN o_orderkey + 1
                 ELSE NULL END                         AS IsReplacedById
        FROM orders
    """,
    "omm_vehicle_journey": """
        SELECT c_custkey AS Id FROM customer
    """,
    "omm_vehicle_journey_template": """
        SELECT
            p_partkey                                  AS Id,
            CASE WHEN p_partkey % 10 = 9 THEN NULL
                 ELSE 9011000000000000
                      + ((p_partkey % 2) + 1) * 10000
                      + (p_partkey % 9999) END         AS IsWorkedOnDirectionOfLineGid
        FROM part
    """,
    "omm_key_variant_value": """
        SELECT
            c_custkey                                  AS IsForObjectId,
            c_custkey % 10                             AS IsOfKeyVariantTypeId,
            c_name                                     AS StringValue
        FROM customer
    """,
    "omm_key_variant_type": """
        SELECT
            s_suppkey                                  AS Id,
            s_suppkey % 25                             AS IsForKeyTypeId
        FROM supplier
    """,
    "omm_key_type": """
        SELECT
            n_nationkey                                AS Id,
            CASE n_nationkey % 5 WHEN 0 THEN 'JoreIdentity'
                                 WHEN 1 THEN 'JoreRouteIdentity'
                                 WHEN 2 THEN 'RouteName'
                                 WHEN 3 THEN 'Contract'
                                 ELSE 'DeadRunning' END AS Name,
            n_regionkey                                AS ExtendsObjectTypeNumber
        FROM nation
    """,
    "omm_object_type": """
        SELECT
            r_regionkey                                AS Number,
            CASE WHEN r_regionkey < 2 THEN 'VehicleJourney'
                 ELSE 'StopPoint' END                  AS Name
        FROM region
    """,
}

#: appId -> (the catalog views_key the OMM views were registered over,
#: the 11 registered relations, name -> (the OMM view relations a plan
#: was built over, the value ``omm_plan`` built)).  Parsing and
#: registering the 11 derivations costs ~0.2-0.3 s per call warm, and
#: every cancellation-family build paid it.  Re-registration happens
#: whenever the BASE views were re-pointed (key change) or any OMM
#: view is missing (a caller dropped it), and replaces the whole entry,
#: so the plans built over the old views go with it; an unchanged key
#: with all views present skips the rebuild.  Same shadowing contract
#: as the catalog: a caller who shadows an OMM view owns that name
#: until it drops it.  Fixture injectors should shadow the OMM
#: relations, not the base tables (a base-table shadow under an
#: unchanged catalog key is invisible to this guard, exactly as it is
#: to the catalog's).
_OMM: dict[str, tuple[tuple, dict[str, DataFrame], dict[str, tuple]]] = {}


def register_omm_views(spark: SparkSession) -> dict[str, DataFrame]:
    """Create the 11 OMM relations as temp views over the base views.

    Callers must have registered the base testdata views first
    (``catalog.load_tables``).  Views are lazy projections — Catalyst
    inlines them, so e.g. a query touching only ``deviation_case_id``
    still prunes the events scan to one column.  Memoized per
    (session, base-views key) — see ``_OMM``.
    """
    from ..catalog import views_key

    app_id = spark.sparkContext.applicationId
    key = (views_key(spark),)
    entry = _OMM.get(app_id)
    if entry is not None and entry[0] == key:
        cat = spark._jsparkSession.sessionState().catalog()
        if all(
            cat.getTempView(name).isDefined() for name in _OMM_DERIVATION
        ):
            return dict(entry[1])
    out: dict[str, DataFrame] = {}
    for name, sql in _OMM_DERIVATION.items():
        df = spark.sql(sql)
        df.createOrReplaceTempView(name)
        out[name] = df
    _OMM[app_id] = (key, out, {})
    return dict(out)


def omm_plan(spark: SparkSession, name: str, build):
    """``build(spark)`` over the OMM views, reused while they stand.

    Registers the views first, then returns the value built for
    ``name`` as long as every OMM name still resolves to the view
    relation it resolved to at build time.  A re-registration (new base
    views) drops every plan of the session, and a shadow a fixture
    injector put over one OMM name is a different relation, so the
    next call rebuilds and sees it; a plan built over the old views is
    never served past them.
    """
    register_omm_views(spark)
    plans = _OMM[spark.sparkContext.applicationId][2]
    cat = spark._jsparkSession.sessionState().catalog()
    views = [cat.getTempView(view) for view in _OMM_DERIVATION]
    hit = plans.get(name)
    if hit is not None and all(v.equals(h) for v, h in zip(views, hit[0])):
        return hit[1]
    value = build(spark)
    plans[name] = (views, value)
    return value


def omm_ctes() -> str:
    """The same derivation as a DuckDB WITH-clause prefix (no WITH kw)."""
    return ",\n".join(
        f"{name} AS ({sql})" for name, sql in _OMM_DERIVATION.items()
    )
