"""A2 — priority-argmax deduplication (SURVEY.md §2.5).

The reference deduplicates each poll batch per (dvjId,
deviationCaseId) group with a status-priority rule
(``OmmCancellationHandler.filterDuplicates``,
``OmmCancellationHandler.java:168-204``):

- if the group contains a CANCELED row, keep the **first-encountered**
  CANCELED row — encounter order is the query's global
  ``ORDER BY DC.last_modified`` (cancellations_current_future.sql:39);
- else keep the RUNNING row with the **largest** epoch-ms timestamp
  (``Stream.max`` keeps the earliest of tied maxima);
- exactly one survivor per group.

The Java version is a driver-side hash-of-hashes over materialized
lists — O(batch) memory on one thread.  Here it is a single window
``row_number``: Spark hash-partitions groups across executors and the
rule becomes two sort keys, so the same code handles 100 TB of groups
(state never leaves the executors, skew handled by AQE).  No
``collect``, no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def priority_argmax(
    df: DataFrame,
    group_cols: list[str],
    status_col: str = "status",
    encounter_order_col: str = "dc_last_modified",
    ts_col: str = "ts_epoch_ms",
    winner: str = "CANCELED",
) -> DataFrame:
    """Keep one row per group under the reference's priority rule.

    Sort key 1 puts ``winner``-status rows first; sort key 2 is
    encounter order (ascending) for winner rows and negated timestamp
    (i.e. max-first, earliest-of-ties-first via key 3) for the rest —
    a faithful, distributed ``filterDuplicates``.

    The final ``ts_col`` key makes the ordering deterministic when two
    winner-status rows share the same encounter-order value (the
    reference inherits whatever order SQL Server emitted for that tie;
    a distributed engine must not let partitioning pick the survivor).
    The DuckDB oracle (plans/cancellation.py) appends the same key.

    The window is one SQL expression string: the poll cycle builds it
    every 30 s, and a string is parsed JVM-side in one py4j call where a
    ``Column`` tree costs one per node.  A frame already hash-partitioned
    on a subset of ``group_cols`` plans no Exchange under the window.
    """
    status, ts = f"`{status_col}`", f"`{ts_col}`"
    is_winner = f"{status} = '{winner}'"
    rank = (
        f"row_number() OVER (PARTITION BY {', '.join(f'`{c}`' for c in group_cols)}"
        f" ORDER BY CASE WHEN {is_winner} THEN 0 ELSE 1 END,"
        f" CASE WHEN {is_winner} THEN 0 ELSE -CAST({ts} AS DOUBLE) END,"
        f" `{encounter_order_col}`, {ts}) AS __rn"
    )
    return df.selectExpr("*", rank).where("__rn = 1").drop("__rn")
