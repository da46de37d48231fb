"""Bucketed fact-layout tests: the pre-shuffled customer/orders/lineitem
tables must join WITHOUT an Exchange on the bucketed key, and produce
row-identical results to the plain parquet layout."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_arrow_spark.sources.bucketed import (
    create_bucketed_layout,
    use_bucketed_tables,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def bucketed(spark, tables):
    created = create_bucketed_layout(spark, SF_DIR, n_buckets=8,
                                     database="cas_bucketed_test")
    yield "cas_bucketed_test"
    for t in created:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.sql("DROP DATABASE IF EXISTS cas_bucketed_test")


def _fmt_plan(df):
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _no_broadcast(spark):
    return spark.conf.get("spark.sql.autoBroadcastJoinThreshold")


def test_orderkey_join_has_no_exchange(spark, bucketed):
    prev = _no_broadcast(spark)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.table(f"{bucketed}.orders")
        li = spark.table(f"{bucketed}.lineitem")
        joined = o.join(li, o.o_orderkey == li.l_orderkey).groupBy(
            "o_orderstatus"
        ).agg(F.count("*").alias("n"))
        plan = _fmt_plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_custkey_join_has_no_exchange(spark, bucketed):
    prev = _no_broadcast(spark)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        c = spark.table(f"{bucketed}.customer")
        o = spark.table(f"{bucketed}.orders_by_custkey")
        joined = c.join(o, c.c_custkey == o.o_custkey).groupBy(
            "c_mktsegment"
        ).agg(F.count("*").alias("n"))
        plan = _fmt_plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Exchange hashpartitioning(c_custkey" not in plan
    assert "Exchange hashpartitioning(o_custkey" not in plan


def test_bucketed_results_match_plain(spark, tables, bucketed):
    plain = (
        spark.table("orders")
        .join(
            spark.table("lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
        .orderBy("o_orderstatus")
        .collect()
    )
    ob = spark.table(f"{bucketed}.orders")
    lb = spark.table(f"{bucketed}.lineitem")
    bucketed_rows = (
        ob.join(lb, ob.o_orderkey == lb.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
        .orderBy("o_orderstatus")
        .collect()
    )
    assert plain == bucketed_rows


def test_use_bucketed_tables_repoints_views(spark, tables, bucketed):
    try:
        use_bucketed_tables(spark, bucketed)
        n = spark.table("orders").count()
        assert n > 0
        plan = _fmt_plan(spark.table("lineitem"))
        assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan or n > 0
    finally:
        # restore the plain views for other tests (force: registration
        # is memoized per (session, sf_dir) and would otherwise skip)
        from clickhouse_arrow_spark.sources import register_tables

        register_tables(spark, SF_DIR, force=True)


def test_bucketed_events_sessionization_no_exchange(spark, tables, bucketed):
    """The user_id-bucketed events table serves the sessionization
    window (two PARTITION BY user_id windows + a user_id aggregate)
    with ZERO exchanges — the events-workload analogue of the
    shuffle-free fact joins."""
    try:
        use_bucketed_tables(spark, bucketed)
        df = spark.sql(
            "SELECT user_id, max(session_id) AS sessions FROM ("
            " SELECT user_id, sum(CASE WHEN prev_ts IS NULL OR"
            "  ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END)"
            "  OVER (PARTITION BY user_id ORDER BY ts) AS session_id"
            " FROM (SELECT user_id, ts, lag(ts) OVER"
            "  (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM events)"
            ") GROUP BY user_id"
        )
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 0
        assert df.count() > 0
    finally:
        from clickhouse_arrow_spark.sources import register_tables

        register_tables(spark, SF_DIR, force=True)


def test_register_tables_memo_is_per_session(spark, tables):
    """Temp views belong to one SparkSession: the registration memo must
    not let a second session of the same application skip its own."""
    from clickhouse_arrow_spark.sources import register_tables

    other = spark.newSession()
    register_tables(other, SF_DIR)
    assert other.table("region").count() == spark.table("region").count()
