"""User-history analytics over ``events``: SCD2 dimension build and
ordered funnel conversion.

Two classic warehouse shapes a training-data/analytics platform runs
on event streams (the reference's cancellation feed is itself a
change-history: ``valid_from``/``valid_to`` intervals in
``cancellations_current_future.sql`` — this generalizes that model to
arbitrary keys):

- ``events_scd2_user_status``: collapse each user's event stream into
  slowly-changing-dimension type-2 validity intervals — one row per
  run of equal status, ``[valid_from, valid_to)``, open-ended current
  row, monotonically increasing ``version``.
- ``events_funnel_conversion``: strictly-ordered funnel
  (view → click → purchase), each step within 7 days of the previous
  step's first occurrence; per-step user counts and share of step 1.

Float determinism: the only double is ``pct_of_first`` — one bigint/
bigint division rounded to 6, bit-identical across engines.
Determinism of ordering: window order is ``(ts, event_id)``;
``event_id`` breaks potential equal-timestamp ties identically on
both engines.

Scale notes (100 TB): SCD2 is one shuffle on ``user_id`` and two
sorted window passes over it — the canonical change-capture plan; no
self-join, no fan-out.  The funnel is three user-keyed aggregations,
each reusing the same ``user_id`` partitioning (AQE coalesces the
tiny step frames), and the step totals are 1-row broadcasts — nothing
corpus-proportional crosses a second shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.registry import registered_query as _q

_FUNNEL_WINDOW = "INTERVAL 7 DAYS"  # Spark spelling
_FUNNEL_WINDOW_D = "INTERVAL 7 DAY"  # DuckDB spelling
_STEPS = ("view", "click", "purchase")


@_q(
    "events_scd2_user_status",
    "north-star: SCD2 change capture — run-collapse + validity intervals",
    """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER w AS prev
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
        SELECT user_id, event_type, ts, event_id
        FROM ordered WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type AS status, ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           CAST(row_number() OVER w AS INTEGER) AS version,
           (lead(ts) OVER w IS NULL) AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def _scd2(spark, t):
    ev = t["events"].select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = ev.withColumn("prev", F.lag("event_type").over(w)).filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    # second window pass runs over the already-user-partitioned change
    # rows — same partitioning, no extra shuffle
    return changes.select(
        "user_id",
        F.col("event_type").alias("status"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.row_number().over(w).cast("int").alias("version"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


def _funnel_oracle() -> str:
    return f"""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t FROM events
        WHERE event_type = '{_STEPS[0]}' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t
        FROM events e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = '{_STEPS[1]}'
          AND e.ts > s1.t AND e.ts <= s1.t + {_FUNNEL_WINDOW_D}
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t
        FROM events e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = '{_STEPS[2]}'
          AND e.ts > s2.t AND e.ts <= s2.t + {_FUNNEL_WINDOW_D}
        GROUP BY e.user_id
    ),
    counts AS (
        SELECT 1 AS step, '{_STEPS[0]}' AS stage, count(*) AS n_users FROM s1
        UNION ALL
        SELECT 2, '{_STEPS[1]}', count(*) FROM s2
        UNION ALL
        SELECT 3, '{_STEPS[2]}', count(*) FROM s3
    )
    SELECT step, stage, n_users,
           round(CAST(n_users AS DOUBLE)
                 / (SELECT n_users FROM counts WHERE step = 1), 6) AS pct_of_first
    FROM counts
    """


@_q(
    "events_funnel_conversion",
    "north-star: strictly-ordered 3-step funnel, 7-day step windows",
    _funnel_oracle(),
)
def _funnel(spark, t):
    ev = t["events"]

    def first_after(prev: DataFrame, step: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == step)
            .join(prev, "user_id")
            .filter(
                (F.col("ts") > F.col("t"))
                & (F.col("ts") <= F.expr(f"t + {_FUNNEL_WINDOW}"))
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias("t2"))
            .withColumnRenamed("t2", "t")
        )

    s1 = (
        ev.filter(F.col("event_type") == _STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    s2 = first_after(s1, _STEPS[1])
    s3 = first_after(s2, _STEPS[2])
    counts = None
    for step, (name, frame) in enumerate(zip(_STEPS, (s1, s2, s3)), start=1):
        row = frame.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(step).alias("step"), F.lit(name).alias("stage"), "n_users"
        )
        counts = row if counts is None else counts.unionByName(row)
    first = counts.filter(F.col("step") == 1).select(
        F.col("n_users").alias("n_first")
    )
    return counts.crossJoin(F.broadcast(first)).select(
        "step",
        "stage",
        "n_users",
        F.round(F.col("n_users").cast("double") / F.col("n_first"), 6).alias(
            "pct_of_first"
        ),
    )


@_q(
    "events_retention_cohorts",
    "north-star: weekly cohort retention matrix (first-touch cohort x "
    "week offset, distinct active users)",
    """
    WITH first_touch AS (
        SELECT user_id,
               CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
        FROM events GROUP BY user_id
    ),
    active AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
        FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.week) / 7 AS INTEGER)
               AS week_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM active a JOIN first_touch f USING (user_id)
    GROUP BY 1, 2
    """,
)
def _retention(spark, t):
    # Cohort analysis — the canonical "did week-N users come back in
    # week N+k" matrix.  Two user-keyed shuffles (first-touch min and
    # the distinct week grid), then the first-touch frame joins back on
    # user_id; the final (cohort, offset) aggregation is
    # cohort-cardinality-sized.  Week truncation is ISO-Monday on both
    # engines; offsets are exact day-diffs over multiples of 7.
    ev = t["events"]
    first_touch = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    return (
        active.join(first_touch, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7).cast("int").alias(
                "week_offset"
            ),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )
