"""Time-series / ranking operators over the ``events`` stream table.

North-star additions beyond the reference surface (the reference has
no as-of joins, quantiles, or top-k — SURVEY §2.4/§2.6 note their
absence), each in its scale-correct Spark form:

- ``events_asof_latest_order``: as-of (backward) join — every event
  picks the user's latest order at-or-before the event time.  The
  plan is the MERGE form: union both inputs, one shuffle+sort per
  key, ``last(ignorenulls)`` over an unbounded-preceding window.
  Unlike the naive inequality join + argmax, per-key cost is
  O(events + orders) regardless of how many orders a hot user has —
  the fan-out-free as-of at 100 TB.  (DuckDB's native ASOF JOIN
  leaves equal-timestamp ties unspecified, so the oracle uses the
  explicit ranked form with the same (date, orderkey) tie-break.)
- ``events_value_quantiles``: exact interpolated per-group quantiles
  (Spark ``percentile`` ≡ DuckDB ``quantile_cont``, both linear
  interpolation at rank (n-1)p).  Exact quantiles sort each group —
  fine while groups fit a partition spill; the documented 100 TB
  path is ``approx_percentile`` (KLL/GK sketch, mergeable, one pass),
  which has no cross-engine-exact oracle and so is not the registered
  parity query.
- ``events_top_users_per_type``: distributed top-k per group — full
  pre-aggregation first (map-side combine shrinks the stream to one
  row per (type, user)), then rank on the reduced set.  The window
  never sees raw events.
- ``events_attribution_range_join``: range join (no native Spark
  operator) as day-bin bucketing: bin width == range width bounds an
  anchor's window to two consecutive bins, so candidates come from a
  plain (user, day) equi-join and the exact timestamp range is a
  residual filter.
- ``events_gapfill_daily``: gap-fill + LOCF (the timescale
  ``time_bucket_gapfill``/``locf`` pattern).  The spine is generated
  per key with ``sequence()`` + ``explode`` — fan-out bounded by each
  key's own day span, never a global calendar cross join — and the
  carry-forward is one ``last(ignorenulls)`` running window.
- ``events_lag_lead_stats``: the navigation-window family (lag /
  lead / ntile / percent_rank / cume_dist) in one pass — a single
  shuffle on the partition key serves all five functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.registry import registered_query as _q


@_q(
    "events_asof_latest_order",
    "north-star: as-of backward join (merge form: union + sort + last-fill)",
    """
    WITH ranked AS (
        SELECT e.event_id, e.user_id, e.ts AS event_ts,
               o.o_orderkey, o.o_orderdate, o.o_totalprice,
               row_number() OVER (PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e
        LEFT JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    )
    SELECT event_id, user_id, event_ts,
           o_orderkey AS order_key, o_orderdate AS order_date,
           o_totalprice AS order_total
    FROM ranked WHERE rn = 1
    """,
)
def _asof_latest_order(spark, t):
    # kind 0 (orders) sorts before kind 1 (events) at equal ts, making
    # the join boundary inclusive (o_orderdate <= ts); equal-date
    # orders tie-break on o_orderkey, so the fill is deterministic.
    orders = t["orders"].select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("ts"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("kind"),
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
    )
    events = t["events"].select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp").alias("o_orderdate"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("kind").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        orders.unionByName(events)
        .withColumn("order_key", F.last("o_orderkey", ignorenulls=True).over(w))
        .withColumn("order_date", F.last("o_orderdate", ignorenulls=True).over(w))
        .withColumn("order_total", F.last("o_totalprice", ignorenulls=True).over(w))
    )
    return filled.filter(F.col("kind") == 1).select(
        "event_id",
        "user_id",
        F.col("ts").alias("event_ts"),
        "order_key",
        "order_date",
        "order_total",
    )


@_q(
    "events_value_quantiles",
    "north-star: exact interpolated per-group quantiles (percentile ≡ quantile_cont)",
    """
    SELECT event_type, count(*) AS n,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
)
def _value_quantiles(spark, t):
    q = t["events"].groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(value, array(0.5D, 0.9D, 0.99D))").alias("q"),
    )
    return q.select(
        "event_type",
        "n",
        F.round(q["q"][0], 6).alias("p50"),
        F.round(q["q"][1], 6).alias("p90"),
        F.round(q["q"][2], 6).alias("p99"),
    )


@_q(
    "events_top_users_per_type",
    "north-star: distributed top-k per group (pre-aggregate, then rank)",
    """
    WITH counts AS (
        SELECT event_type, user_id, count(*) AS n_events
        FROM events GROUP BY event_type, user_id
    )
    SELECT event_type, user_id, n_events, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type
                    ORDER BY n_events DESC, user_id ASC) AS rank
        FROM counts
    ) WHERE rank <= 3
    """,
)
def _top_users_per_type(spark, t):
    counts = t["events"].groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n_events").desc(), F.col("user_id").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("event_type", "user_id", "n_events", F.col("rank").cast("int").alias("rank"))
    )


@_q(
    "events_value_quantiles_sketch",
    "north-star 100 TB path: one-pass mergeable quantile sketch "
    "(approx_percentile) with its rank-error contract hash-certified",
    """
    SELECT event_type, count(*) AS n,
           TRUE AS p50_rank_ok, TRUE AS p90_rank_ok, TRUE AS p99_rank_ok
    FROM events GROUP BY event_type
    """,
)
def _value_quantiles_sketch(spark, t):
    # The scale path the exact query's docstring promises: a GK/KLL-
    # style summary built in ONE pass with map-side partial merge — no
    # per-group sort, bounded memory per task, mergeable across any
    # partitioning.  Sketch VALUES are engine- and merge-order-specific,
    # so they can't be hash-compared cross-engine; what CAN be is the
    # sketch's documented contract — accuracy 10000 bounds rank error at
    # 1e-4·n (floor((p−ε)n) ≤ rank(result) ≤ ceil((p+ε)n)).  The query
    # therefore re-ranks each sketch output against the empirical CDF
    # (one extra pass, certification-only) and emits the within-bound
    # verdicts as booleans the driver's value hash covers: the oracle
    # asserts TRUE, so a sketch drifting out of contract turns the row
    # red.  Tolerance = ε + 4/n (±1-element discreteness at each of the
    # two rank boundaries, doubled for duplicate-value ties).
    sketch = t["events"].groupBy("event_type").agg(
        F.expr(
            "approx_percentile(value, array(0.5D, 0.9D, 0.99D), 10000)"
        ).alias("q"),
    )
    joined = t["events"].join(F.broadcast(sketch), "event_type")
    cdf = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.when(F.col("value") <= F.col("q")[i], 1).otherwise(0)
            ).alias(f"c{i}")
            for i in range(3)
        ],
    )
    tol = 1e-4 + 4.0 / F.col("n")
    return cdf.select(
        "event_type",
        "n",
        *[
            (F.abs(F.col(f"c{i}") / F.col("n") - F.lit(p)) <= tol).alias(
                f"p{int(p * 100)}_rank_ok"
            )
            for i, p in enumerate((0.5, 0.9, 0.99))
        ],
    )


@_q(
    "events_distinct_users_sketch",
    "north-star 100 TB path: HLL++ distinct-count sketch "
    "(approx_count_distinct) with its relative-error contract hash-certified",
    """
    SELECT event_type, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           TRUE AS hll_rel_err_ok
    FROM events GROUP BY event_type
    """,
)
def _distinct_users_sketch(spark, t):
    # Exact per-group distinct needs a (group, user) de-dup shuffle
    # before counting; the HLL++ sketch replaces that with fixed-size
    # mergeable registers updated in one pass — the standard trade at
    # fact scale.  HLL register values are engine-specific, so the
    # sketch estimate itself can't be hash-compared; its CONTRACT can:
    # rsd 0.02 ⇒ ~2 % typical relative error, and register merges are
    # per-register max (commutative, associative), so the estimate is
    # deterministic for a given dataset regardless of partitioning.
    # The query emits |approx − exact|/exact ≤ 0.05 (2.5 σ) as a
    # boolean the driver's value hash covers — the exact side doubles
    # as the certification payload the oracle recomputes.
    agg = t["events"].groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
    )
    rel_err = F.abs(F.col("approx_users") - F.col("n_users")) / F.col("n_users")
    return agg.select(
        "event_type", "n_events", "n_users", (rel_err <= 0.05).alias("hll_rel_err_ok")
    )


@_q(
    "events_attribution_range_join",
    "north-star: range join (follow-on events within 24h of a signup) via "
    "time-bin bucketing — the scalable form of a join Spark lacks natively",
    """
    WITH j AS (
        SELECT a.event_id, a.user_id, e.event_type, e.ts
        FROM events a JOIN events e
          ON e.user_id = a.user_id
         AND e.event_id <> a.event_id
         AND e.ts >= a.ts
         AND e.ts < a.ts + INTERVAL 24 HOUR
        WHERE a.event_type = 'signup'
    )
    SELECT event_id, user_id, count(*) AS n_follow,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchase,
           min(ts) AS first_follow_ts, max(ts) AS last_follow_ts
    FROM j GROUP BY event_id, user_id
    """,
)
def _attribution_range_join(spark, t):
    # Attribution-window join: for every signup, aggregate the same
    # user's events inside the following 24 hours.  A naive range join
    # (equi on user + ts BETWEEN) compiles to a per-key nested scan;
    # the scalable form bins both sides by calendar DAY (bin width ==
    # range width, so an anchor's window spans AT MOST two consecutive
    # days), joins on (user, day) — a plain shuffle-prunable equi-join
    # whose fan-out is bounded by per-day-per-user occupancy — and
    # applies the exact timestamp range as a post-join filter.  Day
    # numbers come from pure DATE arithmetic on both sides (no
    # epoch/timezone functions: tz-dependent offsets could disagree
    # near bin boundaries and silently drop candidates).
    day = "datediff(CAST(ts AS DATE), DATE '1970-01-01')"
    ev = t["events"].select(
        F.col("event_id").alias("e_id"),
        F.col("user_id").alias("e_user"),
        F.col("event_type").alias("e_type"),
        F.col("ts").alias("e_ts"),
        F.expr(day).alias("day"),
    )
    anchors = t["events"].filter(F.col("event_type") == "signup").select(
        "event_id",
        "user_id",
        F.col("ts").alias("a_ts"),
        F.expr("CAST(ts + INTERVAL 24 HOUR AS TIMESTAMP_NTZ)").alias("end_ts"),
        F.explode(F.expr(f"array({day}, {day} + 1)")).alias("day"),
    )
    j = anchors.join(
        ev,
        (anchors["user_id"] == ev["e_user"])
        & (anchors["day"] == ev["day"])
        & (anchors["event_id"] != ev["e_id"])
        & (ev["e_ts"] >= anchors["a_ts"])
        & (ev["e_ts"] < anchors["end_ts"]),
    )
    return j.groupBy("event_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_follow"),
        F.sum(F.when(F.col("e_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchase"
        ),
        F.min("e_ts").alias("first_follow_ts"),
        F.max("e_ts").alias("last_follow_ts"),
    )


@_q(
    "events_gapfill_daily",
    "north-star: time-series gap-fill + LOCF (per-key spine via sequence/explode, "
    "carry-forward via last(ignorenulls) running window)",
    """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n,
               round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
                   AS day_value
        FROM events GROUP BY 1, 2
    ),
    span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily
             GROUP BY user_id),
    spine AS (
        SELECT user_id,
               unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        FROM span
    )
    SELECT s.user_id, CAST(s.day AS TIMESTAMP) AS day_ts,
           coalesce(d.n, 0) AS n_events,
           d.n IS NULL AS is_gap,
           d.day_value AS day_value,
           last_value(d.day_value IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
    FROM spine s LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
    """,
)
def _gapfill_daily(spark, t):
    # Missing calendar days are materialized per key from that key's own
    # (min, max) day span: sequence(d0, d1) fans out to span-length rows
    # for ONE user — at 100 TB the spine is Σ(per-key span), not
    # |keys| × |global calendar|, and it joins back on (user, day), the
    # same prunable equi-join shape as the range join above.  Day sums
    # are exact-decimal (associative ⇒ partitioning-independent), so the
    # carried-forward value is deterministic too.
    daily = (
        t["events"]
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("day_value"),
        )
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.sequence("d0", "d1")).alias("day"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.col("day").cast("timestamp").alias("day_ts"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.col("n").isNull().alias("is_gap"),
            "day_value",
            F.last("day_value", ignorenulls=True).over(w).alias("locf_value"),
        )
    )


@_q(
    "events_lag_lead_stats",
    "north-star: navigation-window family (lag/lead/ntile/percent_rank/cume_dist "
    "in one shuffle)",
    """
    SELECT event_id, user_id, ts,
           epoch_ms(ts) - epoch_ms(lag(ts) OVER w) AS gap_ms,
           epoch_ms(lead(ts) OVER w) - epoch_ms(ts) AS next_gap_ms,
           CAST(ntile(4) OVER w AS INTEGER) AS ts_quartile,
           round(percent_rank() OVER (PARTITION BY user_id
                     ORDER BY value, event_id), 6) AS value_pct_rank,
           round(cume_dist() OVER (PARTITION BY user_id
                     ORDER BY value, event_id), 6) AS value_cume_dist
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def _lag_lead_stats(spark, t):
    # One partitionBy(user_id) shuffle serves every navigation function;
    # both orderings carry event_id so ranks never depend on engine sort
    # stability.  ntile/percent_rank/cume_dist definitions are shared
    # ANSI semantics — parity is by spec, not by luck.
    w_ts = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_val = Window.partitionBy("user_id").orderBy("value", "event_id")
    ms = lambda c: F.unix_millis(F.col(c).cast("timestamp"))  # noqa: E731
    ev = t["events"].withColumn("ts_ms", ms("ts"))
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("ts_ms") - F.lag("ts_ms").over(w_ts)).alias("gap_ms"),
        (F.lead("ts_ms").over(w_ts) - F.col("ts_ms")).alias("next_gap_ms"),
        F.ntile(4).over(w_ts).cast("int").alias("ts_quartile"),
        F.round(F.percent_rank().over(w_val), 6).alias("value_pct_rank"),
        F.round(F.cume_dist().over(w_val), 6).alias("value_cume_dist"),
    )


#: Iglewicz–Hoaglin modified z-score: 0.6745 ≈ Φ⁻¹(0.75) rescales the
#: MAD to estimate sigma under normality; |Mz| > 3.5 is the classic
#: outlier cut (Iglewicz & Hoaglin 1993 — public method).  Both
#: constants are compared against 6-decimal-ROUNDED scores so the
#: flag decision is cross-engine stable at the boundary.
_MAD_K, _MAD_CUT = 0.6745, 3.5


@_q(
    "events_anomaly_mad",
    "north-star: robust per-group outlier detection — median/MAD modified "
    "z-score, anomalous events only",
    f"""
    WITH med AS (
        SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        FROM events GROUP BY event_type
    ),
    mad AS (
        SELECT e.event_type,
               round(quantile_cont(abs(e.value - med.med), 0.5), 6) AS mad
        FROM events e JOIN med USING (event_type)
        GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           round({_MAD_K} * (e.value - med.med) / mad.mad, 6) AS robust_z
    FROM events e
    JOIN med USING (event_type)
    JOIN mad USING (event_type)
    WHERE mad.mad > 0
      AND abs(round({_MAD_K} * (e.value - med.med) / mad.mad, 6)) > {_MAD_CUT}
    """,
)
def _anomaly_mad(spark, t):
    """Robust anomaly detection per event_type: median + MAD (median
    absolute deviation) are outlier-resistant location/scale estimates
    — a single extreme value cannot drag them the way it drags
    mean/stddev — and the modified z-score flags events beyond 3.5
    rescaled MADs.  Emits ONLY the anomalous rows (bounded output:
    the tail of the distribution, not the corpus).

    Determinism: median and MAD are exact interpolated percentiles
    (``percentile`` ≡ ``quantile_cont``, the parity established by
    ``events_value_quantiles``), each rounded to 6 decimals BEFORE
    the score arithmetic, and the score itself is rounded before the
    threshold — identical doubles in, identical flags out.

    Scale shape (100 TB): two grouped exact-percentile passes (each
    one shuffle keyed by event_type; Spark's ``percentile`` runs as
    a partial-merge aggregate) and two broadcast joins of the
    group-cardinality stat tables — the event scan never self-joins.
    A group whose MAD is 0 (over half its values identical) has no
    meaningful scale and is excluded, mirrored in both engines.
    """
    med = t["events"].groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5D)"), 6).alias("med")
    )
    dev = t["events"].join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.round(F.expr("percentile(abs(value - med), 0.5D)"), 6).alias("mad")
    )
    rz = F.round(
        F.lit(_MAD_K) * (F.col("value") - F.col("med")) / F.col("mad"), 6
    )
    return (
        t["events"]
        .join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .filter(F.col("mad") > 0)
        .select("event_id", "event_type", "value", rz.alias("robust_z"))
        .filter(F.abs(F.col("robust_z")) > _MAD_CUT)
    )
