"""Fact-scale analytics over the TPC-H-ish star schema.

The reference pushes all relational work to SQL Server; this module is
the engine's own analytics surface at the largest table (lineitem),
exercising the operator classes the reference never stresses: wide
aggregation, join-then-aggregate at fact scale, global top-k, running
windows, rollup.  Query shapes follow the public TPC-H patterns (Q1 /
Q3 / Q5 analogues) restated on this schema.

Determinism discipline: money columns are stored as doubles, and a
double sum is partitioning-order-dependent — so every sum first casts
to DECIMAL(18,4) (exact, associative), and only the final exact value
is cast back to double for the emitted column.  Top-k and windows
carry an explicit id tie-break.  This is what makes results
hash-identical between Spark and DuckDB — and retry-stable on a real
cluster.

Scale notes: Q1 is a pure map-side-partial aggregation (one shuffle of
6 groups); Q3/Q5 join fact-to-fact on orderkey (shuffle) with
dimensions broadcast; the running window shuffles once on custkey.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..plans.registry import QuerySpec, register
from ..plans.registry import registered_query as _q


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,4)")


_SHIP_CUTOFF = "2000-09-02"
_Q3_DATE = "1998-01-01"


@_q(
    "tpch_q1_pricing_summary",
    "analytics: wide aggregation at fact scale (TPC-H Q1 pattern)",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_base_price,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                          * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS sum_disc_price,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{_SHIP_CUTOFF} 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def _q1(spark, t):
    li = t["lineitem"].filter(F.col("l_shipdate") <= _SHIP_CUTOFF)
    disc_price = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(18,4)") - _dec("l_discount")
    )
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.round(F.sum(_dec("l_extendedprice")).cast("double"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price).cast("double"), 2).alias("sum_disc_price"),
        F.round(F.sum(_dec("l_quantity")).cast("double") / n, 6).alias("avg_qty"),
        F.round(F.sum(_dec("l_extendedprice")).cast("double") / n, 6).alias("avg_price"),
        n.alias("count_order"),
    )


@_q(
    "tpch_q3_shipping_priority",
    "analytics: fact-fact join + aggregate + deterministic global top-k (Q3 pattern)",
    f"""
    SELECT o_orderkey, round(CAST(revenue AS DOUBLE), 2) AS revenue, o_orderdate
    FROM (
        SELECT l.l_orderkey AS o_orderkey, o.o_orderdate,
               sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                   * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '{_Q3_DATE} 00:00:00'
          AND l.l_shipdate > TIMESTAMP '{_Q3_DATE} 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate
    )
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def _q3(spark, t):
    revenue = F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    )
    agg = (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < _Q3_DATE)
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > _Q3_DATE)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(revenue.alias("revenue"))
    )
    # orderBy+limit compiles to TakeOrdered — no global sort materialized
    return (
        agg.orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            F.round(F.col("revenue").cast("double"), 2).alias("revenue"),
            "o_orderdate",
        )
    )


@_q(
    "tpch_q5_region_revenue",
    "analytics: star join with broadcast dimension chain (Q5 pattern)",
    """
    SELECT r.r_name AS region, n.n_name AS nation,
           round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def _q5(spark, t):
    revenue = F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    )
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(revenue.cast("double"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_q(
    "window_running_customer_total",
    "analytics: per-key running window aggregation (exact decimal running sum)",
    """
    SELECT o_custkey, o_orderkey, rn,
           round(CAST(run_total AS DOUBLE), 2) AS run_total
    FROM (
        SELECT o_custkey, o_orderkey,
               row_number() OVER w AS rn,
               sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS run_total
        FROM orders
        WHERE o_custkey % 100 = 0
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    """,
)
def _running(spark, t):
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t["orders"]
        .filter(F.col("o_custkey") % 100 == 0)
        .select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
            F.round(F.sum(_dec("o_totalprice")).over(w).cast("double"), 2).alias(
                "run_total"
            ),
        )
    )


@_q(
    "customers_without_recent_orders",
    "analytics: anti-join at fact scale (existence-negation, the A3 'new' pattern generalized)",
    """
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    ANTI JOIN (SELECT * FROM orders
               WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00') o
      ON o.o_custkey = c.c_custkey
    """,
)
def _anti(spark, t):
    recent = t["orders"].filter(F.col("o_orderdate") >= "2001-01-01")
    return (
        t["customer"]
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


@_q(
    "large_order_customers",
    "analytics: aggregate-HAVING + semi join (TPC-H Q18 pattern)",
    """
    SELECT c.c_custkey, c.c_name, big.o_orderkey,
           CAST(big.total_qty AS DOUBLE) AS total_qty
    FROM (
        SELECT l_orderkey AS o_orderkey,
               sum(CAST(l_quantity AS DECIMAL(18,4))) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 250
    ) big
    JOIN orders o ON o.o_orderkey = big.o_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def _q18(spark, t):
    qty = F.sum(_dec("l_quantity"))
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(qty.alias("total_qty"))
        .filter(F.col("total_qty") > 250)  # HAVING
    )
    return (
        big.join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


@_q(
    "distinct_users_per_event_type",
    "analytics: exact distinct aggregation (count distinct expands to two-phase agg)",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def _distinct(spark, t):
    return t["events"].groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@_q(
    "region_nation_rollup",
    "analytics: hierarchical ROLLUP totals (grouping sets)",
    """
    SELECT coalesce(r.r_name, 'ALL') AS region,
           CASE WHEN r.r_name IS NULL THEN 'ALL' ELSE coalesce(n.n_name, 'ALL') END AS nation,
           count(*) AS n_customers,
           round(CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
)
def _rollup(spark, t):
    joined = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum(_dec("c_acctbal")).cast("double"), 2).alias("total_acctbal"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.when(F.col("r_name").isNull(), "ALL")
            .otherwise(F.coalesce("n_name", F.lit("ALL")))
            .alias("nation"),
            "n_customers",
            "total_acctbal",
        )
    )


#: One SQL text, two engines: the query is passed verbatim to
#: ``spark.sql`` AND registered as its own DuckDB oracle, which makes
#: it a direct test of Catalyst's correlated-subquery decorrelation
#: (the reference has no subqueries at all — SURVEY §4).  The
#: predicate is kept in EXACT decimal arithmetic with the division
#: multiplied through (o_totalprice * n > 2 * sum), so the per-group
#: aggregate is associative and the comparison cannot flip on a
#: last-ulp float difference between engines.
_BIG_SPENDER_SQL = """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price
    FROM orders o
    WHERE CAST(o_totalprice AS DECIMAL(18,4))
          * (SELECT count(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
          > 2 * (SELECT sum(CAST(o2.o_totalprice AS DECIMAL(18,4)))
                 FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
"""


def _build_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Catalyst decorrelates the two scalar subqueries into grouped
    # aggregates joined back on o_custkey — no per-row subquery
    # execution exists in the physical plan (pinned by
    # tests/test_plan_shapes.py).
    load_tables(spark, sf_dir)
    return spark.sql(_BIG_SPENDER_SQL)


register(
    "orders_above_2x_customer_avg",
    QuerySpec(
        build=_build_correlated,
        oracle=_BIG_SPENDER_SQL,
        survey_ref="optimizer surface: correlated scalar-subquery decorrelation "
        "(same SQL text on both engines)",
    ),
)


@_q(
    "lineitem_cube_revenue",
    "analytics: full CUBE grouping sets with explicit grouping markers",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
           count(*) AS n_items,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def _cube(spark, t):
    # Two-level aggregation (r15, guide §2.3 "aggregate before you
    # shuffle"): the direct .cube() expands every fact row into all
    # 2^k grouping-set copies BEFORE the map-side partial, so the
    # hash-aggregate and the decimal accumulation ran 4x the fact
    # rows.  Level 1 is a plain groupBy on the two keys (exact
    # decimal partial per observed key pair — at most
    # |flags| x |statuses| rows); the CUBE then expands only that
    # tiny partial.  Exact: count and the decimal revenue sum are
    # associative, a real NULL key groups through level 1 unchanged,
    # and GROUPING() markers come from the level-2 cube exactly as
    # before (measured at sf0.1: 3.0-3.6 -> 1.0-1.3 s,
    # value-identical).  GROUPING() (ANSI, identical in DuckDB)
    # disambiguates a real NULL key from a rolled-up one, which the
    # coalesce label alone cannot.
    partial = (
        t["lineitem"]
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
            ).alias("_r"),
        )
    )
    return (
        partial.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.sum("_n").alias("n_items"),
            F.round(F.sum("_r").cast("double"), 2).alias("revenue"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "g_flag",
            "g_status",
            "n_items",
            "revenue",
        )
    )


#: Pivot value lists are explicit: with them Spark pivots in a single
#: pass (map-side partials per (row-key, pivot-value)); without, it
#: first runs a distinct scan to discover the columns.
_ORDER_STATUSES = ["F", "O", "P"]


@_q(
    "orders_pivot_status_by_priority",
    "analytics: pivot (wide conditional aggregation) with explicit value list",
    f"""
    SELECT o_orderpriority,
           {", ".join(
               f"CAST(sum(CASE WHEN o_orderstatus = '{s}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{s.lower()}"
               for s in _ORDER_STATUSES
           )},
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def _pivot(spark, t):
    # .pivot() compiles to exactly the oracle's conditional aggregation
    # — one scan, one shuffle of |priorities| x |statuses| cells.  The
    # count is wrapped in coalesce(.., 0): pivot emits NULL for an
    # empty cell, while the SQL CASE-sum form emits 0.
    wide = (
        t["orders"]
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", _ORDER_STATUSES)
        .agg(F.count(F.lit(1)))
    )
    totals = t["orders"].groupBy("o_orderpriority").agg(
        F.round(F.sum(_dec("o_totalprice")).cast("double"), 2).alias("total_price")
    )
    return wide.join(totals, "o_orderpriority").select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(f"`{s}`"), F.lit(0)).alias(f"n_{s.lower()}")
            for s in _ORDER_STATUSES
        ],
        "total_price",
    )


#: Salt fan-out for the manually salted join below.
N_SALTS = 16


@_q(
    "events_segment_enrich_salted",
    "analytics: skew-safe salted equi-join (deterministic salt, replicated dim)",
    """
    SELECT c.c_mktsegment AS segment, e.event_type,
           count(*) AS n_events,
           round(CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
)
def _salted_enrich(spark, t):
    # The manual skew treatment for when AQE can't help (e.g. the
    # skewed side feeds a streaming stateful op, or the engine below
    # is not Spark): the fact side salts its key with a DETERMINISTIC
    # hash of a unique column (never rand() — retries must re-salt
    # identically), the dim side replicates each row N_SALTS times, and
    # the join key becomes (key, salt) — a hot user's rows now land on
    # 16 reducers instead of one.  The result is provably identical to
    # the unsalted join (the oracle IS the unsalted join).  On vanilla
    # batch Spark, AQE skew-split achieves this at runtime without the
    # dim blow-up — this operator documents the portable form.
    ev = t["events"].withColumn(
        "salt", (F.xxhash64("event_id") % N_SALTS + N_SALTS) % N_SALTS
    )
    dim = t["customer"].select(
        "c_custkey",
        "c_mktsegment",
        F.explode(F.array(*[F.lit(i) for i in range(N_SALTS)])).alias("salt"),
    )
    return (
        ev.join(dim, (ev["user_id"] == dim["c_custkey"]) & (ev["salt"] == dim["salt"]))
        .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6).alias(
                "total_value"
            ),
        )
    )


@_q(
    "promo_revenue_share_monthly",
    "analytics: conditional-aggregate ratio over a broadcast dim join "
    "(TPC-H Q14 pattern; completes coverage of every testdata table)",
    """
    SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
           round(100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                     THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE),
                 6) AS promo_share_pct,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY 1
    """,
)
def _promo_share(spark, t):
    # Q14 shape: fact joins a part dim (broadcast — |part| is fixed by
    # the catalog, not data-proportional), then a conditional/total
    # ratio per month.  Both sums stay exact-decimal until ONE final
    # double division, so the ratio is partitioning-independent.
    disc = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0).cast("decimal(18,4)"))
    )
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(
            F.date_trunc("month", "l_shipdate").cast("timestamp").alias("ship_month")
        )
        .agg(
            F.round(F.lit(100.0) * promo.cast("double") / F.sum(disc).cast("double"), 6)
            .alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_q(
    "lineitem_basket_pairs",
    "analytics: market-basket part-pair co-occurrence (order-bounded "
    "self-join, TakeOrdered top-k with key tie-break)",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    counts AS (
        SELECT part_a, part_b, count(*) AS n_orders
        FROM pairs GROUP BY part_a, part_b
    )
    SELECT part_a, part_b, n_orders, rnk FROM (
        SELECT part_a, part_b, n_orders,
               CAST(row_number() OVER (ORDER BY n_orders DESC, part_a, part_b)
                    AS INTEGER) AS rnk
        FROM counts
    ) WHERE rnk <= 50
    """,
)
def _basket_pairs(spark, t):
    # Market-basket co-occurrence via the pagerank edge-build shape
    # (r15, guide §2.4 remove shuffles): one collect_set groupBy
    # absorbs the old separate distinct into the single fact exchange,
    # and the sorted per-order array generates the a < b pairs
    # pipelined under codegen — replacing the distinct + order-key
    # re-exchange + sort-merge self-join (two additional fact-sized
    # exchanges for the same pair stream).  Pair fan-out per order is
    # C(lines, 2) with lines <= 7 in this schema — bounded per key,
    # never corpus x corpus.  Global top-50 goes through
    # orderBy().limit() (TakeOrdered: per-partition heap + driver
    # merge), and the rank window then touches only the 50 survivors,
    # with (part_a, part_b) breaking count ties deterministically.
    from .graph import _half_pairs, _per_order_parts

    po = _per_order_parts(t["lineitem"].select("l_orderkey", "l_partkey"))
    pairs = _half_pairs(po).select(
        F.col("src").alias("part_a"), F.col("dst").alias("part_b")
    )
    counts = pairs.groupBy("part_a", "part_b").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    top = counts.orderBy(
        F.col("n_orders").desc(), F.col("part_a").asc(), F.col("part_b").asc()
    ).limit(50)
    w = Window.orderBy(
        F.col("n_orders").desc(), F.col("part_a").asc(), F.col("part_b").asc()
    )
    return top.select(
        "part_a",
        "part_b",
        "n_orders",
        F.row_number().over(w).cast("int").alias("rnk"),
    )


@_q(
    "customer_order_count_distribution",
    "analytics: outer-join count histogram (TPC-H Q13 pattern — customer "
    "distribution by order count)",
    """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c
          LEFT OUTER JOIN orders o
            ON c.c_custkey = o.o_custkey
           AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey)
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def _order_count_distribution(spark, t):
    # The Q13 trap: the priority predicate belongs in the JOIN
    # CONDITION, not a WHERE after the left join — a post-join filter
    # on the right side would silently turn the outer join inner and
    # drop zero-order customers from the histogram.  Expressed here as
    # filter-right-then-left-join (equivalent, and the shape Catalyst
    # rewrites the join-condition form into anyway).  Two shuffles:
    # the custkey join (count(o_orderkey) ignores the null-extended
    # rows by SQL semantics, so zero-order customers land in bucket 0)
    # and the tiny c_count histogram aggregation.
    per_customer = (
        t["customer"]
        .alias("c")
        .join(
            t["orders"].filter(F.col("o_orderpriority") != "1-URGENT").alias("o"),
            F.col("c.c_custkey") == F.col("o.o_custkey"),
            "left",
        )
        .groupBy("c.c_custkey")
        .agg(F.count("o.o_orderkey").alias("c_count"))
    )
    return (
        per_customer.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --- MERGE / upsert ---------------------------------------------------------

#: deterministic change-batch derivation from orders itself: every
#: 10th key is an UPDATE (+10% total), every 10th-plus-1 a DELETE, and
#: one INSERT per update key at key + shift, where shift =
#: max(o_orderkey) + 1 is DERIVED FROM THE DATA in both dialects — a
#: static constant would silently collide with the base key space on a
#: bigger corpus (both engines would compute the same WRONG fates, so
#: parity could not catch it).


@_q(
    "orders_upsert_merge",
    "analytics: MERGE/upsert — update/insert/delete change batch applied "
    "via one full-outer join (the MERGE INTO pattern without a table format)",
    f"""
    WITH changes AS (
        SELECT o_orderkey AS key, 'U' AS op,
               CAST(CAST(CAST(o_totalprice AS DECIMAL(18,4))
                    * CAST(1.1 AS DECIMAL(18,4)) AS DECIMAL(18,4))
                    AS DOUBLE) AS new_total
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey AS key, 'D' AS op, CAST(NULL AS DOUBLE) AS new_total
        FROM orders WHERE o_orderkey % 10 = 1
        UNION ALL
        SELECT o_orderkey + s.shift AS key, 'I' AS op,
               CAST(CAST(CAST(o_totalprice AS DECIMAL(18,4))
                    * CAST(0.5 AS DECIMAL(18,4)) AS DECIMAL(18,4))
                    AS DOUBLE) AS new_total
        FROM orders,
             (SELECT CAST(max(o_orderkey) + 1 AS BIGINT) AS shift
              FROM orders) s
        WHERE o_orderkey % 10 = 0
    ),
    merged AS (
        SELECT COALESCE(c.key, b.o_orderkey) AS o_orderkey,
               CASE WHEN c.op = 'U' THEN c.new_total
                    WHEN c.op = 'I' THEN c.new_total
                    ELSE CAST(CAST(b.o_totalprice AS DECIMAL(18,4))
                              AS DOUBLE) END
                   AS o_totalprice,
               CASE WHEN c.op IS NULL THEN 'kept'
                    WHEN c.op = 'U' THEN 'updated'
                    WHEN c.op = 'I' THEN 'inserted' END AS merge_action
        FROM orders b FULL OUTER JOIN changes c ON c.key = b.o_orderkey
        WHERE c.op IS NULL OR c.op <> 'D'
    )
    SELECT merge_action, count(*) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                AS DOUBLE) AS total_value,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM merged GROUP BY merge_action
    """,
)
def _upsert_merge(spark, t):
    """MERGE INTO semantics without a table format: one FULL OUTER join
    of base against the change batch resolves matched-update,
    matched-delete, and not-matched-insert in a single shuffle — the
    relational core of Delta/Iceberg MERGE (their addition is
    file-level transaction handling, not different join semantics).
    The change batch is derived deterministically from ``orders``
    itself so the oracle sees identical inputs.

    Determinism: ALL money arithmetic stays in DECIMAL(18,4) where the
    2-decimal inputs x 1.1 / x 0.5 are EXACT (3 decimal places) — no
    rounding step exists for the engines to disagree on (DuckDB
    truncates decimal downcasts where Spark rounds half-up, so a
    DECIMAL(18,2) rounding stage would drift on the .xx5 ties this
    derivation produces by construction); the certified output is the per-action
    summary (counts + exact total + key range), which pins every row's
    fate without hashing 15k merged rows.

    Scale shape (100 TB): MERGE is ONE full-outer shuffle join on the
    key — both sides key-partitioned, no broadcast of the fact side;
    with a day-partitioned fact layout the real-world version prunes
    the join to the partitions the change batch touches (the standard
    MERGE + partition-pruning combo).
    """
    o = t["orders"]
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    upd = o.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("key"),
        F.lit("U").alias("op"),
        (dec("o_totalprice") * F.lit(1.1).cast("decimal(18,4)"))
        .cast("decimal(18,4)").cast("double").alias("new_total"),
    )
    dele = o.filter(F.col("o_orderkey") % 10 == 1).select(
        F.col("o_orderkey").alias("key"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("new_total"),
    )
    shift = F.broadcast(
        o.agg((F.max("o_orderkey") + 1).cast("bigint").alias("shift"))
    )
    ins = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .crossJoin(shift)
        .select(
            (F.col("o_orderkey") + F.col("shift")).alias("key"),
            F.lit("I").alias("op"),
            (dec("o_totalprice") * F.lit(0.5).cast("decimal(18,4)"))
            .cast("decimal(18,4)").cast("double").alias("new_total"),
        )
    )
    changes = upd.unionByName(dele).unionByName(ins)
    merged = (
        o.alias("b")
        .join(changes.alias("c"), F.col("c.key") == F.col("b.o_orderkey"), "full_outer")
        .filter(F.col("c.op").isNull() | (F.col("c.op") != "D"))
        .select(
            F.coalesce(F.col("c.key"), F.col("b.o_orderkey")).alias("o_orderkey"),
            F.when(F.col("c.op") == "U", F.col("c.new_total"))
            .when(F.col("c.op") == "I", F.col("c.new_total"))
            .otherwise(F.col("b.o_totalprice").cast("decimal(18,4)").cast("double"))
            .alias("o_totalprice"),
            F.when(F.col("c.op").isNull(), "kept")
            .when(F.col("c.op") == "U", "updated")
            .when(F.col("c.op") == "I", "inserted")
            .alias("merge_action"),
        )
    )
    return merged.groupBy("merge_action").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double").alias("total_value"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.max("o_orderkey").cast("bigint").alias("max_key"),
    )


# --- TPC-H Q10: returned-item reporting --------------------------------------

#: Q10 quarter window (testdata order dates span 1995-2001).
_Q10_FROM, _Q10_TO = "1997-01-01", "1997-04-01"
_Q10_TOPN = 20


@_q(
    "tpch_q10_returned_items",
    "analytics: returned-item revenue report (Q10 pattern — fact-fact "
    "join window filter, customer rollup, broadcast nation, top-20)",
    f"""
    SELECT c_custkey, c_name, round(CAST(revenue AS DOUBLE), 2) AS revenue,
           round(c_acctbal, 2) AS c_acctbal, n_name,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
        SELECT *, row_number() OVER (ORDER BY revenue DESC, c_custkey) AS rnk
        FROM (
            SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
                   sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                       * (CAST(1 AS DECIMAL(18,4))
                          - CAST(l.l_discount AS DECIMAL(18,4)))) AS revenue
            FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE o.o_orderdate >= TIMESTAMP '{_Q10_FROM} 00:00:00'
              AND o.o_orderdate < TIMESTAMP '{_Q10_TO} 00:00:00'
              AND l.l_returnflag = 'R'
            GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        )
    ) WHERE rnk <= {_Q10_TOPN}
    """,
)
def _q10(spark, t):
    """TPC-H Q10 shape: which customers returned the most revenue last
    quarter.  Scale shape: the quarter predicate filters orders BEFORE
    the fact-fact join (partition-prunable on an orderdate-partitioned
    layout), the returnflag predicate prunes lineitem at the scan, the
    customer rollup is one map-side-combinable aggregation, nation is
    a broadcast dim, and the top-20 goes through orderBy().limit()
    (TakeOrderedAndProject) with row_number over only the survivors.
    Money arithmetic stays DECIMAL(18,4) end-to-end (exact, engine-
    identical), cast to double only for display."""
    revenue = F.sum(
        _dec("l_extendedprice")
        * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    )
    agg = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= _Q10_FROM)
            & (F.col("o_orderdate") < _Q10_TO)
        )
        .join(
            t["lineitem"].filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(revenue.alias("revenue"))
    )
    top = agg.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(
        _Q10_TOPN
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("revenue").cast("double"), 2).alias("revenue"),
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )
