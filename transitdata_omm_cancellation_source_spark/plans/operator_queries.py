"""Per-operator queries (SURVEY.md §2) over the driver testdata.

The flagship pipeline exercises the operators *composed*; these entries
exercise each one *isolated*, on the testdata realization mapped in
FIXTURES.md §C, so the driver's oracle gate pins every §2 row
individually.  All money aggregates sum integer cents (exact in both
engines) instead of raw doubles, so value hashes cannot drift on
floating-point summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import (
    direction_from_gid,
    local_str_to_utc_epoch_ms,
    local_to_utc_epoch_ms_sql,
    operating_day,
    start_time_over24h,
    status_from_ad,
)
from ..operators.dedup import priority_argmax
from ..operators.diff import diff_counts
from .registry import registered_query as _q


_CENTS = lambda c: F.round(F.col(c) * 100).cast("long")  # noqa: E731


# ---------------------------------------------------------------------------
# §2.1 sources
# ---------------------------------------------------------------------------

@_q(
    "s1_scan_projection_pushdown",
    "S1/P1: columnar scan, projection pruning, predicate pushdown",
    """
    SELECT l_orderkey, l_linenumber, l_returnflag,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_returnflag = 'R'
    """,
)
def _s1(spark, t):
    # .explain shows PushedFilters on l_shipdate/l_returnflag and a
    # 5-column ReadSchema — the scan shape a 100 TB table requires.
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
            & (F.col("l_returnflag") == "R")
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            _CENTS("l_extendedprice").alias("price_cents"),
        )
    )


@_q(
    "s2_parameterized_query",
    "S2: bind-parameter query (OmmConnector.java:72-81) via spark.sql args",
    """
    SELECT event_type, count(*) AS n, CAST(min(event_id) AS BIGINT) AS first_id
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-20 00:00:00' AND event_type = 'purchase'
    GROUP BY event_type
    """,
)
def _s2(spark, t):
    # Spark >=3.4 named-parameter binding — the engine's analogue of the
    # reference's '?' placeholders; literals reach the scan as pushdowns.
    return spark.sql(
        """
        SELECT event_type, count(*) AS n, min(event_id) AS first_id
        FROM events
        WHERE ts >= :since AND event_type = :etype
        GROUP BY event_type
        """,
        args={"since": "2024-01-20 00:00:00", "etype": "purchase"},
    )


@_q(
    "s5_malformed_row_skip",
    "S5: malformed rows dropped, batch continues (OmmCancellationHandler.java:155-163)",
    """
    SELECT CAST(count(*) AS BIGINT) AS valid_rows,
           CAST(sum(CASE WHEN event_type NOT IN ('click','view','purchase','signup') THEN 1 ELSE 0 END) AS BIGINT) AS would_be_invalid
    FROM events
    WHERE event_type IN ('click','view','purchase','signup')
    """,
)
def _s5(spark, t):
    valid = ["click", "view", "purchase", "signup"]  # 'error' = malformed
    kept = t["events"].filter(F.col("event_type").isin(valid))
    return kept.agg(
        F.count(F.lit(1)).alias("valid_rows"),
        F.sum(
            F.when(~F.col("event_type").isin(valid), 1).otherwise(0)
        ).cast("long").alias("would_be_invalid"),
    )


# ---------------------------------------------------------------------------
# §2.2 scalar projections
# ---------------------------------------------------------------------------

@_q(
    "p2_p4_id_and_day_formatting",
    "P2/P4/P6/P7: char-cast ids, lpad, yyyyMMdd day formatting",
    """
    SELECT CAST(o_orderkey AS VARCHAR) AS dvj_id,
           lpad(CAST(o_orderkey AS VARCHAR), 16, '0') AS dvj_id_char16,
           strftime(o_orderdate, '%Y%m%d') AS operating_day
    FROM orders
    WHERE o_orderkey % 10 = 3
    """,
)
def _p2(spark, t):
    return (
        t["orders"]
        .filter(F.col("o_orderkey") % 10 == 3)
        .select(
            F.col("o_orderkey").cast("string").alias("dvj_id"),
            F.lpad(F.col("o_orderkey").cast("string"), 16, "0").alias("dvj_id_char16"),
            operating_day("o_orderdate").alias("operating_day"),
        )
    )


@_q(
    "p3_direction_from_gid",
    "P3: 12th-digit direction extraction from 16-digit GID",
    """
    SELECT gid, CAST(substring(CAST(gid AS VARCHAR), 12, 1) AS INTEGER) AS direction
    FROM (
        SELECT 9011000000000000 + ((o_orderkey % 2) + 1) * 10000
               + (o_orderkey % 9999) AS gid
        FROM orders
    )
    """,
)
def _p3(spark, t):
    gid = (
        F.lit(9011000000000000)
        + ((F.col("o_orderkey") % 2) + 1) * 10000
        + (F.col("o_orderkey") % 9999)
    ).alias("gid")
    return t["orders"].select(gid).select(
        "gid", direction_from_gid("gid").alias("direction")
    )


@_q(
    "p5_start_time_over_24h",
    "P5-P8: offset-datetime -> HH:mm:00 clock exceeding 24 h (the date_format trap)",
    """
    SELECT offset_minutes,
           lpad(CAST((CAST(floor(datediff('minute', TIMESTAMP '1900-01-01 00:00:00', start_offset) / 60) AS BIGINT) % 100) AS VARCHAR), 2, '0')
             || ':' ||
           lpad(CAST((datediff('minute', TIMESTAMP '1900-01-01 00:00:00', start_offset) % 60) AS VARCHAR), 2, '0')
             || ':00' AS start_time
    FROM (
        SELECT o_orderkey % 1800 AS offset_minutes,
               TIMESTAMP '1900-01-01 00:00:00'
                 + ((o_orderkey % 1800) * INTERVAL 1 MINUTE) AS start_offset
        FROM orders
    )
    """,
)
def _p5(spark, t):
    base = t["orders"].select(
        (F.col("o_orderkey") % 1800).alias("offset_minutes"),
        (
            F.lit("1900-01-01 00:00:00").cast("timestamp_ntz")
            + F.make_interval(mins=(F.col("o_orderkey") % 1800).cast("int"))
        ).alias("start_offset"),
    )
    return base.select(
        "offset_minutes", start_time_over24h("start_offset").alias("start_time")
    )


@_q(
    "p9_status_derivation",
    "P9: cancellation-of-cancellation status rule",
    """
    SELECT CASE WHEN lower(event_type) = 'error' THEN 'RUNNING'
                ELSE 'CANCELED' END AS status,
           count(*) AS n
    FROM events GROUP BY 1
    """,
)
def _p9(spark, t):
    # events realization: 'error' plays the role of AD.status='deleted'
    return (
        t["events"]
        .select(
            F.when(F.lower("event_type") == "error", "RUNNING")
            .otherwise("CANCELED")
            .alias("status")
        )
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "p11_local_to_utc_epoch_ms",
    "P11: Helsinki wall-clock -> UTC epoch ms (toUtcEpochMs)",
    f"""
    SELECT event_id, {local_to_utc_epoch_ms_sql("ts")} AS ts_epoch_ms
    FROM events WHERE event_id % 37 = 0
    """,
)
def _p11(spark, t):
    return (
        t["events"]
        .filter(F.col("event_id") % 37 == 0)
        .select(
            "event_id", local_str_to_utc_epoch_ms("ts").alias("ts_epoch_ms")
        )
    )


# ---------------------------------------------------------------------------
# §2.3 filters
# ---------------------------------------------------------------------------

@_q(
    "f1_f4_f5_literal_and_isin",
    "F1/F4/F5: literal equality + IN-list membership",
    """
    SELECT n_name, count(*) AS suppliers
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_8', 'NATION_12') AND s_acctbal > 0
    GROUP BY n_name
    """,
)
def _f1(spark, t):
    return (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_3", "NATION_8", "NATION_12") & (F.col("s_acctbal") > 0))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("suppliers"))
    )


@_q(
    "f2_null_aware_disjunction",
    "F2/F6/F7: temporal validity disjunction with IS NULL arms after outer join",
    """
    SELECT o_orderstatus, count(*) AS n
    FROM orders LEFT JOIN lineitem
      ON o_orderkey = l_orderkey AND l_linenumber = 1
    WHERE l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
       OR (l_shipdate IS NULL AND o_orderstatus = 'O'
           AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY o_orderstatus
    """,
)
def _f2(spark, t):
    li = t["lineitem"].filter(F.col("l_linenumber") == 1)
    joined = t["orders"].join(
        li, t["orders"].o_orderkey == li.l_orderkey, "left"
    )
    return (
        joined.filter(
            (F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp_ntz"))
            | (
                F.col("l_shipdate").isNull()
                & (F.col("o_orderstatus") == "O")
                & (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz"))
            )
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "f3_incremental_capture",
    "F3: last_modified >= since incremental scan (PAST mode)",
    """
    SELECT event_type, count(*) AS modified_since,
           CAST(max(event_id) AS BIGINT) AS max_id
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
    GROUP BY event_type
    """,
)
def _f3(spark, t):
    return (
        t["events"]
        .filter(F.col("ts") >= F.lit("2024-01-25 00:00:00").cast("timestamp_ntz"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("modified_since"),
            F.max("event_id").alias("max_id"),
        )
    )


# ---------------------------------------------------------------------------
# §2.4 joins
# ---------------------------------------------------------------------------

@_q(
    "j1_left_outer_join",
    "J1-J3: left outer equi-join preserving unmatched left rows",
    """
    SELECT c_mktsegment,
           count(*) AS rows_out,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS customers_without_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def _j1(spark, t):
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("rows_out"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("customers_without_orders"),
        )
    )


@_q(
    "j4_left_then_inner_interaction",
    "J4: INNER join on a LEFT-joined nullable key cancels the outerness — preserved, not fixed",
    """
    SELECT count(*) AS n, CAST(count(DISTINCT c_custkey) AS BIGINT) AS customers
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    INNER JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_linenumber = 1
    """,
)
def _j4(spark, t):
    # customers without orders survive the LEFT join but die at the
    # INNER join on the nullable o_orderkey — exactly the reference's
    # DC⟕AD⨝DVJ shape (cancellations_current_future.sql:21,24).
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"), "inner")
        .filter(F.col("l_linenumber") == 1)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("c_custkey").alias("customers"),
        )
    )


@_q(
    "j8_j10_broadcast_star_join",
    "J5-J10: inner fact->dim chain with broadcast dimensions",
    """
    SELECT r_name, n_name, count(*) AS line_count,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY r_name, n_name
    """,
)
def _j8(spark, t):
    revenue_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        t["lineitem"]
        .filter(F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("line_count"),
            F.sum(revenue_cents).cast("long").alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# §2.5 aggregation / dedup / diff
# ---------------------------------------------------------------------------

@_q(
    "a2_priority_argmax_dedup",
    "A1/A2/O2: grouped status-priority argmax dedup as a window",
    f"""
    WITH decoded AS (
        SELECT user_id, event_id % 50 AS case_id,
               CASE WHEN lower(event_type) = 'error' THEN 'RUNNING'
                    ELSE 'CANCELED' END AS status,
               {local_to_utc_epoch_ms_sql("ts")} AS ts_epoch_ms,
               event_id
        FROM events
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, case_id
            ORDER BY CASE WHEN status = 'CANCELED' THEN 0 ELSE 1 END ASC,
                     CASE WHEN status = 'CANCELED' THEN 0.0 ELSE -CAST(ts_epoch_ms AS DOUBLE) END ASC,
                     event_id ASC
        ) AS rn FROM decoded
    )
    SELECT user_id, case_id, status, ts_epoch_ms, event_id
    FROM ranked WHERE rn = 1
    """,
)
def _a2(spark, t):
    decoded = t["events"].select(
        "user_id",
        (F.col("event_id") % 50).alias("case_id"),
        status_from_ad(
            F.when(F.lower("event_type") == "error", "deleted").otherwise("active")
        ).alias("status"),
        local_str_to_utc_epoch_ms("ts").alias("ts_epoch_ms"),
        "event_id",
    )
    # encounter order realized by unique event_id (the reference's is
    # the ORDER BY DC.last_modified scan order)
    return priority_argmax(
        decoded,
        group_cols=["user_id", "case_id"],
        status_col="status",
        encounter_order_col="event_id",
        ts_col="ts_epoch_ms",
    )


@_q(
    "a3_snapshot_diff_counts",
    "A3/A4: semi/anti-join snapshot diff between two polls",
    """
    WITH prev AS (SELECT DISTINCT user_id FROM events
                  WHERE ts <  TIMESTAMP '2024-01-16 00:00:00'),
    cur AS (SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00')
    SELECT CAST(count(*) AS BIGINT) AS total,
           CAST(sum(CASE WHEN prev.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS new,
           CAST(sum(CASE WHEN prev.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS repeated
    FROM cur LEFT JOIN prev ON cur.user_id = prev.user_id
    """,
)
def _a3(spark, t):
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    prev = t["events"].filter(F.col("ts") < cut)
    cur = t["events"].filter(F.col("ts") >= cut)
    return diff_counts(cur, prev, key="user_id")


# ---------------------------------------------------------------------------
# §2.6 sort
# ---------------------------------------------------------------------------

@_q(
    "o1_global_sort",
    "O1: global ORDER BY last_modified (range-partitioned sort, no single-node funnel)",
    """
    SELECT event_id, ts, event_type
    FROM events
    WHERE event_type = 'signup' AND ts < TIMESTAMP '2024-01-05 00:00:00'
    ORDER BY ts
    """,
)
def _o1(spark, t):
    return (
        t["events"]
        .filter(
            (F.col("event_type") == "signup")
            & (F.col("ts") < F.lit("2024-01-05 00:00:00").cast("timestamp_ntz"))
        )
        .select("event_id", "ts", "event_type")
        .orderBy("ts")
    )
