"""The clock-free candidate frame behind ``cancellation_pipeline``.

Each call runs only F2/F3 and A2 over a frame that is built and persisted
once per source version.  These tests pin what that reuse must not
change: parity with the DuckDB oracle at the clock edges F2/F3 compare
on, a shadowed OMM view seen by the next call, and a rewritten base
table served fresh.
"""

from __future__ import annotations

import shutil

import pytest

from transitdata_omm_cancellation_source_spark.catalog import TABLE_NAMES, load_tables
from transitdata_omm_cancellation_source_spark.plans.cancellation import (
    QueryParams,
    cancellation_oracle_sql,
    cancellation_pipeline,
    raw_cancellations,
)
from transitdata_omm_cancellation_source_spark.plans.omm_model import register_omm_views
from transitdata_omm_cancellation_source_spark.testing import (
    assert_oracle_parity,
    compare_frames,
    duckdb_connection,
)

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def candidates(spark):
    """Every F1/F4-F7 row, through the un-hoisted chain: before 1900 no
    case has expired and every open deleted case is current."""
    load_tables(spark, SF_SMOKE)
    register_omm_views(spark)
    dawn = QueryParams(now="1900-01-01 00:00:00", today="1900-01-01", mode="NOW")
    return raw_cancellations(spark, dawn).collect()


def _middle(rows):
    return rows[len(rows) // 2]


def _edge_params(candidates, edge: str, mode: str) -> QueryParams:
    """A clock that puts one candidate row exactly on the ``edge``."""
    closed = sorted(
        (r for r in candidates if r.VALID_TO is not None), key=lambda r: r.VALID_TO
    )
    if edge == "valid_to == now":  # F2's strict '>' and F3's '<='
        now = str(_middle(closed).VALID_TO)
        return QueryParams(now=now, today=now[:10], since="2024-01-10 00:00:00", mode=mode)
    if edge == "operating_day == today":  # the null arm's '>=' and '<'
        open_deleted = sorted(
            (r for r in candidates
             if r.VALID_TO is None and r.AFFECTED_DEPARTURES_STATUS == "deleted"),
            key=lambda r: r.OPERATING_DAY,
        )
        day = _middle(open_deleted).OPERATING_DAY
        today = f"{day[:4]}-{day[4:6]}-{day[6:]}"
        return QueryParams(now=f"{today} 00:00:00", today=today,
                           since="2024-01-10 00:00:00", mode=mode)
    # last_modified == since: F3's '>=' on a case that has expired by now
    row = _middle(closed)
    now = str(row.VALID_TO)
    return QueryParams(now=now, today=now[:10],
                       since=str(row.DEVIATION_CASES_LAST_MODIFIED), mode=mode)


@pytest.mark.parametrize("mode", ["NOW", "PAST"])
@pytest.mark.parametrize(
    "edge", ["valid_to == now", "operating_day == today", "last_modified == since"]
)
def test_clock_edges_match_the_oracle(spark, candidates, edge, mode):
    params = _edge_params(candidates, edge, mode)
    assert_oracle_parity(
        cancellation_pipeline(spark, params), cancellation_oracle_sql(params), SF_SMOKE
    )


def _rows(df) -> set:
    return {tuple(r) for r in df.collect()}


def test_shadowed_omm_view_is_seen_by_the_next_call(spark):
    """A fixture injector shadows an OMM view; the next call must read
    the shadow, and the call after the shadow is dropped the original."""
    load_tables(spark, SF_SMOKE)
    params = QueryParams(mode="PAST")
    base = cancellation_pipeline(spark, params)
    base_rows = _rows(base)
    even = register_omm_views(spark)["omm_affected_departures"].filter(
        "deviation_case_id % 2 = 0"
    )
    even.createOrReplaceTempView("omm_affected_departures")
    try:
        shadowed = _rows(cancellation_pipeline(spark, params))
    finally:
        spark.catalog.dropTempView("omm_affected_departures")
    dc = base.columns.index("deviation_case_id")
    assert shadowed == {r for r in base_rows if r[dc] % 2 == 0}
    assert 0 < len(shadowed) < len(base_rows)
    assert _rows(cancellation_pipeline(spark, params)) == base_rows


def test_rewritten_base_parquet_is_a_miss_and_matches_the_oracle(spark, tmp_path):
    """Rewriting a table under the same path serves the new rows."""
    import pyarrow.parquet as pq

    src = tmp_path / "sf"
    src.mkdir()
    for name in TABLE_NAMES:
        shutil.copyfile(f"{SF_SMOKE}/{name}.parquet", src / f"{name}.parquet")
    params = QueryParams(mode="PAST")

    def check() -> int:
        load_tables(spark, str(src))
        got = cancellation_pipeline(spark, params).toPandas()
        con = duckdb_connection(str(src))
        try:
            want = con.execute(cancellation_oracle_sql(params)).df()
        finally:
            con.close()
        assert not compare_frames(got, want)
        return len(got)

    try:
        before = check()
        events = pq.read_table(src / "events.parquet")
        pq.write_table(
            events.take(list(range(0, events.num_rows, 2))),
            src / "events.parquet",
        )
        after = check()
    finally:
        load_tables(spark, SF_SMOKE)
    assert 0 < after < before
