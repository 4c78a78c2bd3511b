"""A3 — cross-poll snapshot diff (SURVEY.md §2.5).

The reference compares each deduplicated batch against the previous
poll's batch **by dvjId only**, counting new vs repeated rows, then
replaces the snapshot (``logChangesInCancellations``,
``OmmCancellationHandler.java:206-226``).  The Java form is an O(n^2)
nested loop over driver-held lists; the relational form flags each
current row with an ``EXISTS`` test against the previous keys, which
Spark plans as an ExistenceJoin (broadcast or shuffled hash) — O(n) per
executor, valid at any scale, and with no ``distinct`` stage: a key the
previous batch holds twice still flags each current row once.

``diff_counts`` aggregates the flag into the log line's counts; the poll
cycle instead observes the same aggregates (``diff_aggregates``) on its
first write, so the counts cost no job of their own.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: the existence flag ``flag_seen`` adds: true when the previous batch
#: holds the row's key
SEEN = "__seen"


def flag_seen(cur: DataFrame, prev: DataFrame | None, key: str = "dvj_id") -> DataFrame:
    """``cur`` plus the boolean ``SEEN`` column: ``EXISTS`` a row of
    ``prev`` with the same ``key`` (false for every row without ``prev``)."""
    if prev is None:
        return cur.withColumn(SEEN, F.lit(False))
    c, p = cur.alias("__cur"), prev.alias("__prev")
    seen = p.where(F.col(f"__prev.{key}") == F.col(f"__cur.{key}").outer()).exists()
    return c.select("*", seen.alias(SEEN))


def diff_aggregates() -> list[Column]:
    """(total, new, repeated) over a ``flag_seen`` frame — the reference's
    log line (``OmmCancellationHandler.java:206-224``)."""
    return [
        F.expr("count(1) AS total"),
        F.expr(f"count_if(NOT {SEEN}) AS new"),
        F.expr(f"count_if({SEEN}) AS repeated"),
    ]


def diff_counts(cur: DataFrame, prev: DataFrame | None, key: str = "dvj_id") -> DataFrame:
    """One-row DataFrame (total, new, repeated): one aggregation pass over
    the existence flag."""
    return flag_seen(cur, prev, key).agg(*diff_aggregates())
