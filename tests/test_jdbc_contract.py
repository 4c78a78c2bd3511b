"""Live-JDBC contract test against in-process Apache Derby.

The reference's S1 source is a real JDBC connection executing SQL
(``OmmConnector.java:61-95``).  PySpark ships the embedded Derby
driver in its own jars (for the Hive metastore), so the JDBC legs can
execute end-to-end in this sandbox: write a testdata table into a
Derby database, read it back through the repo's ``table_read``
(partitioned extraction) and ``pushdown_query`` (whole-statement
pushdown) readers, and compare against the parquet path value-wise.

The SQL Server T-SQL template itself can't run on Derby (dialect);
template selection + binding stay covered by the S2/S3 unit tests,
and ``pushdown_query`` is exercised here with a Derby-dialect
statement through the identical reader code path.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from transitdata_omm_cancellation_source_spark.sources.jdbc import (
    pushdown_query,
    table_read,
)

from conftest import SF_SMOKE

_DERBY = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture(scope="module")
def derby(spark, tmp_path_factory):
    """An embedded Derby DB seeded with the sf0.001 orders table."""
    url = f"jdbc:derby:{tmp_path_factory.mktemp('derby')}/omm;create=true"
    src = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    (
        src.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "ORDERS")
        .option("driver", _DERBY)
        .save()
    )
    return url, src


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_table_read_partitioned_matches_parquet(spark, derby):
    url, src = derby
    hi = src.agg(F.max("o_orderkey")).first()[0]
    via_jdbc = table_read(
        spark,
        url,
        "ORDERS",
        partition_column="o_orderkey",
        num_partitions=4,
        lower_bound=0,
        upper_bound=int(hi) + 1,
        driver=_DERBY,
    )
    # the partitioned read produced one JDBC partition per stride
    assert via_jdbc.rdd.getNumPartitions() == 4
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    assert _sorted_rows(via_jdbc, cols) == _sorted_rows(src, cols)
    assert via_jdbc.count() == src.count()


def test_pushdown_query_executes_on_db(spark, derby):
    url, src = derby
    # order-independent aggregates (count/min/max — no float-sum
    # ordering hazard) pushed INTO the database, reference-style.
    # Spark's DerbyDialect stores StringType as CLOB, which Derby
    # refuses in GROUP BY — cast to VARCHAR inside the pushed text.
    stmt = (
        'SELECT CAST("o_orderstatus" AS VARCHAR(4)) AS "o_orderstatus", '
        'COUNT(*) AS "n", '
        'MIN("o_totalprice") AS "lo", MAX("o_totalprice") AS "hi" '
        'FROM ORDERS GROUP BY CAST("o_orderstatus" AS VARCHAR(4))'
    )
    via_db = pushdown_query(spark, url, statement=stmt, driver=_DERBY)
    expect = src.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )
    cols = ["o_orderstatus", "n", "lo", "hi"]
    assert _sorted_rows(via_db, cols) == _sorted_rows(expect, cols)


def test_pushdown_query_requires_params_or_statement(spark):
    with pytest.raises(ValueError):
        pushdown_query(spark, "jdbc:derby:memory:none")


def test_jdbc_backed_omm_view_is_read_on_every_call(spark, derby):
    """A JDBC read has no input files to fingerprint, so the candidate
    frame over it is never persisted: a row inserted between two
    ``cancellation_pipeline`` calls is seen by the second."""
    from transitdata_omm_cancellation_source_spark.catalog import load_tables
    from transitdata_omm_cancellation_source_spark.plans.cancellation import (
        QueryParams,
        cancellation_pipeline,
    )
    from transitdata_omm_cancellation_source_spark.plans.omm_model import (
        register_omm_views,
    )

    url, _ = derby
    load_tables(spark, SF_SMOKE)
    params = QueryParams(mode="PAST")
    full = {tuple(r) for r in cancellation_pipeline(spark, params).collect()}
    held = min(r[0] for r in full)  # deviation_case_id is the first column
    ad = register_omm_views(spark)["omm_affected_departures"]
    opts = {"url": url, "dbtable": "AD", "driver": _DERBY}
    # VARCHAR, not Derby's default CLOB: F2 and S5 push string
    # comparisons into the read, and Derby cannot compare a CLOB
    varchar = "status VARCHAR(16), type VARCHAR(32)"
    ad.filter(F.col("deviation_case_id") != held).write.format("jdbc").options(
        **opts
    ).option("createTableColumnTypes", varchar).save()
    table_read(
        spark, url, "AD", driver=_DERBY, preferTimestampNTZ="true"
    ).createOrReplaceTempView("omm_affected_departures")
    try:
        first = {tuple(r) for r in cancellation_pipeline(spark, params).collect()}
        ad.filter(F.col("deviation_case_id") == held).write.format("jdbc").options(
            **opts
        ).mode("append").save()
        second = {tuple(r) for r in cancellation_pipeline(spark, params).collect()}
    finally:
        spark.catalog.dropTempView("omm_affected_departures")
    assert first == {r for r in full if r[0] != held} != full
    assert second == full


def test_jdbc_backed_poll_cycle_publishes_and_snapshots_one_read(
    spark, derby, tmp_path, monkeypatch
):
    """Over a JDBC source there is no persisted candidate frame, and the
    cycle reads the source once: a row inserted after the cycle's one
    job (the batch's collect), before the batch's file is published,
    reaches neither the sink nor the snapshot, and the snapshot holds
    exactly the rows just published."""
    from transitdata_omm_cancellation_source_spark.catalog import load_tables
    from transitdata_omm_cancellation_source_spark.plans.cancellation import (
        QueryParams,
        cancellation_pipeline,
    )
    from transitdata_omm_cancellation_source_spark.plans.omm_model import (
        register_omm_views,
    )
    from transitdata_omm_cancellation_source_spark.streaming import poller
    from transitdata_omm_cancellation_source_spark.streaming.poller import (
        SnapshotStore,
        run_poll_cycle,
    )

    url, _ = derby
    load_tables(spark, SF_SMOKE)
    params = QueryParams(mode="PAST")
    full = cancellation_pipeline(spark, params).collect()
    held = min(r[0] for r in full)  # deviation_case_id is the first column
    ad = register_omm_views(spark)["omm_affected_departures"]
    opts = {"url": url, "dbtable": "AD_POLL", "driver": _DERBY}
    ad.filter(F.col("deviation_case_id") != held).write.format("jdbc").options(
        **opts
    ).option("createTableColumnTypes", "status VARCHAR(16), type VARCHAR(32)").save()
    publish = poller._publish

    def insert_then_publish(src, dst):
        ad.filter(F.col("deviation_case_id") == held).write.format("jdbc").options(
            **opts
        ).mode("append").save()
        publish(src, dst)

    monkeypatch.setattr(poller, "_publish", insert_then_publish)
    store = SnapshotStore(str(tmp_path / "snapshot"))
    sink = str(tmp_path / "sink")
    table_read(
        spark, url, "AD_POLL", driver=_DERBY, preferTimestampNTZ="true"
    ).createOrReplaceTempView("omm_affected_departures")
    try:
        counts = run_poll_cycle(spark, store, params, sink_dir=sink)
        after = cancellation_pipeline(spark, params).count()
    finally:
        spark.catalog.dropTempView("omm_affected_departures")
    published = sorted(r.key for r in spark.read.parquet(sink).collect())
    snapshot = sorted(r.key for r in store.read(spark).collect())
    assert after == len(full)  # the inserted rows are in the source
    assert snapshot == published
    assert counts["total"] == counts["new"] == len(published) == len(
        [r for r in full if r[0] != held]
    )


# --- T-SQL dialect conformance against the reference resources --------------
# The template text only ever EXECUTES against Derby (rewritten), so
# SQL Server dialect drift would go unnoticed until production.  This
# guard pins the emitted statement token-by-token against the
# reference's own SQL resources (cancellations_current_future.sql /
# cancellations_past_current_future.sql), modulo a small documented
# set of formatting-only rewrites.

_REF_SQL_DIR = "/root/reference/src/main/resources"

#: formatting-only rewrites applied to the REFERENCE text before token
#: comparison; none changes SQL semantics.
_TABLE_ALIASES = ("DC", "AD", "BLM", "B", "DVJ", "VJ", "VJT", "KVV",
                  "KVT", "KT", "OT")


def _tokens(sql: str) -> list[str]:
    import re

    # strip comments, unquote [identifiers], drop the trailing ;
    sql = re.sub(r"/\*.*?\*/", " ", sql, flags=re.S)
    sql = sql.replace("[", "").replace("]", "").replace(";", " ")
    # INNER JOIN -> JOIN and "<table> AS <alias>" -> "<table> <alias>"
    sql = re.sub(r"\bINNER\s+JOIN\b", "JOIN", sql)
    sql = re.sub(r"\bAS\s+(%s)\b" % "|".join(_TABLE_ALIASES), r"\1", sql)
    toks = re.findall(r"[A-Za-z_][\w.]*|'[^']*'|[^\sA-Za-z_]", sql)
    # the reference spells the key-type filter as an OR-chain; the
    # template uses the equivalent IN-list — canonicalize the OR-chain
    orchain = (
        "( KT.Name = 'JoreIdentity' OR KT.Name = 'JoreRouteIdentity'"
        " OR KT.Name = 'RouteName' )"
    ).split()
    inlist = (
        "KT.Name IN ( 'JoreIdentity' , 'JoreRouteIdentity' ,"
        " 'RouteName' )"
    ).split()
    for i in range(len(toks) - len(orchain) + 1):
        if toks[i:i + len(orchain)] == orchain:
            toks[i:i + len(orchain)] = inlist
            break
    return toks


def _emitted_tokens(mode: str) -> list[str]:
    from transitdata_omm_cancellation_source_spark.plans.cancellation import (
        QueryParams,
    )
    from transitdata_omm_cancellation_source_spark.sources.jdbc import (
        cancellation_query,
    )

    params = QueryParams(mode=mode)
    sql = cancellation_query(params)
    # un-bind: each bound wall-clock literal back to the reference's ?
    # placeholder (the literals are distinct from the template's fixed
    # '1900-01-01' epoch anchors by construction)
    for lit in {params.now, params.today, getattr(params, "since", None)}:
        if lit:
            sql = sql.replace(f"'{lit}'", "?")
    return _tokens(sql)


@pytest.mark.parametrize(
    "mode,resource",
    [
        ("NOW", "cancellations_current_future.sql"),
        ("PAST", "cancellations_past_current_future.sql"),
    ],
)
def test_tsql_template_matches_reference_resource(mode, resource):
    import pathlib

    ref_path = pathlib.Path(_REF_SQL_DIR) / resource
    if not ref_path.exists():
        pytest.skip("reference checkout not present")
    ref = _tokens(ref_path.read_text())
    ours = _emitted_tokens(mode)
    assert ours == ref, (
        f"T-SQL template drifted from {resource}: first divergence at "
        f"token {next((i for i, (a, b) in enumerate(zip(ours, ref)) if a != b), min(len(ours), len(ref)))}"
    )


def test_tsql_template_binds_params_at_reference_positions():
    """The ?-placeholder count and order must match OmmConnector's
    setString sequence (OmmConnector.java:72-81): NOW binds 2 params
    (now, today), PAST binds 5 (now, today, now, today, since)."""
    from transitdata_omm_cancellation_source_spark.plans.cancellation import (
        QueryParams,
    )
    from transitdata_omm_cancellation_source_spark.sources.jdbc import (
        cancellation_query,
    )
    import re

    p = QueryParams(mode="PAST")
    sql = cancellation_query(p)
    bound = [
        m.group(0).strip("'")
        for m in re.finditer(r"'[0-9]{4}-[0-9]{2}-[0-9]{2}[^']*'", sql)
        if m.group(0) != "'1900-01-01'"
    ]
    assert bound == [p.now, p.today, p.now, p.today, p.since]
    pn = QueryParams(mode="NOW")
    sql_now = cancellation_query(pn)
    bound_now = [
        m.group(0).strip("'")
        for m in re.finditer(r"'[0-9]{4}-[0-9]{2}-[0-9]{2}[^']*'", sql_now)
        if m.group(0) != "'1900-01-01'"
    ]
    assert bound_now == [pn.now, pn.today]
