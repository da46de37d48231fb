"""ENGINE = Kafka / FileLog streaming-ingest engines: CREATE records
the source config, attached MVs are the consumers, start_ingest runs
the consumption loop through the standard insert trigger
(streaming/ingest.py; CH engines/table-engines/integrations/kafka)."""

from __future__ import annotations

import json
import time

import pytest

from clickhouse_arrow_spark.errors import QueryError, SchemaError


def test_filelog_engine_roundtrip(client, spark, tmp_path):
    watch = tmp_path / "logs"
    watch.mkdir()
    spark.sql("CREATE DATABASE IF NOT EXISTS ing")
    for t in ("ing.src", "ing.tgt"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    client.execute_ch(
        "CREATE TABLE ing.src (k Int64, v String) "
        f"ENGINE = FileLog('{watch}', 'JSONEachRow')"
    )
    client.execute_ch(
        "CREATE TABLE ing.tgt (k Int64, v_up String) "
        "ENGINE = MergeTree ORDER BY k"
    )
    # no MVs attached -> consumption refuses with the CH recipe
    from clickhouse_arrow_spark.streaming.ingest import start_ingest

    with pytest.raises(SchemaError, match="materialized view"):
        start_ingest(spark, "ing.src", available_now=True)
    client.execute_ch(
        "CREATE MATERIALIZED VIEW ing.mv TO ing.tgt AS "
        "SELECT k, upper(v) AS v_up FROM ing.src WHERE k % 2 = 0"
    )
    (watch / "batch1.jsonl").write_text(
        "\n".join(json.dumps({"k": i, "v": f"x{i}"}) for i in range(6))
    )
    q = start_ingest(spark, "ing.src", available_now=True)
    q.awaitTermination(60)
    got = sorted((r.k, r.v_up) for r in spark.table("ing.tgt").collect())
    assert got == [(0, "X0"), (2, "X2"), (4, "X4")]
    # a second file: offsets are checkpointed, only the new rows land
    (watch / "batch2.jsonl").write_text(json.dumps({"k": 8, "v": "y"}))
    q = start_ingest(spark, "ing.src", available_now=True)
    q.awaitTermination(60)
    got = sorted(r.k for r in spark.table("ing.tgt").collect())
    assert got == [0, 2, 4, 8]
    # the ingest table itself holds no rows (CH: Kafka tables store
    # nothing; the MVs own the data)
    assert spark.table("ing.src").count() == 0
    # INSERT into the endpoint refuses with guidance — batched too
    row = spark.createDataFrame([(1, "a")], "k BIGINT, v STRING")
    with pytest.raises(SchemaError, match="consumption endpoint"):
        client.insert("ing.src", row)
    with pytest.raises(SchemaError, match="consumption endpoint"):
        client.insert_many("ing.src", [row, row])
    for t in ("ing.mv", "ing.tgt", "ing.src"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_filelog_two_views_one_consume(client, spark, tmp_path):
    """Every attached MV sees every consumed block — the CH fan-out."""
    watch = tmp_path / "logs2"
    watch.mkdir()
    spark.sql("CREATE DATABASE IF NOT EXISTS ing")
    for t in ("ing.s2", "ing.t_even", "ing.t_all"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    client.execute_ch(
        "CREATE TABLE ing.s2 (k Int64) "
        f"ENGINE = FileLog('{watch}', 'JSONEachRow')"
    )
    client.execute_ch(
        "CREATE TABLE ing.t_even (k Int64) ENGINE = MergeTree ORDER BY k"
    )
    client.execute_ch(
        "CREATE TABLE ing.t_all (n Int64) ENGINE = MergeTree ORDER BY n"
    )
    client.execute_ch(
        "CREATE MATERIALIZED VIEW ing.mv_even TO ing.t_even AS "
        "SELECT k FROM ing.s2 WHERE k % 2 = 0"
    )
    client.execute_ch(
        "CREATE MATERIALIZED VIEW ing.mv_all TO ing.t_all AS "
        "SELECT count() AS n FROM ing.s2"
    )
    (watch / "b.jsonl").write_text(
        "\n".join(json.dumps({"k": i}) for i in range(5))
    )
    from clickhouse_arrow_spark.streaming.ingest import start_ingest

    q = start_ingest(spark, "ing.s2", available_now=True)
    q.awaitTermination(60)
    assert {r.k for r in spark.table("ing.t_even").collect()} == {0, 2, 4}
    assert [r.n for r in spark.table("ing.t_all").collect()] == [5]
    for t in ("ing.mv_even", "ing.mv_all", "ing.t_even", "ing.t_all",
              "ing.s2"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_kafka_engine_guided_without_connector(client, spark):
    """Without the Kafka connector JAR, building the stream raises the
    package recipe (the session here has no spark-sql-kafka)."""
    spark.sql("CREATE DATABASE IF NOT EXISTS ing")
    spark.sql("DROP TABLE IF EXISTS ing.kf")
    client.execute_ch(
        "CREATE TABLE ing.kf (k Int64, v String) ENGINE = Kafka "
        "SETTINGS kafka_broker_list = 'localhost:9092', "
        "kafka_topic_list = 'events', kafka_format = 'JSONEachRow', "
        "kafka_group_name = 'g1'"
    )
    from clickhouse_arrow_spark.streaming.ingest import (
        build_ingest_stream,
    )

    with pytest.raises(QueryError, match="spark-sql-kafka"):
        build_ingest_stream(spark, "ing.kf")
    spark.sql("DROP TABLE IF EXISTS ing.kf")


def test_kafka_engine_requires_brokers(client, spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS ing")
    spark.sql("DROP TABLE IF EXISTS ing.kf2")
    with pytest.raises(SchemaError, match="kafka_broker_list"):
        client.execute_ch(
            "CREATE TABLE ing.kf2 (k Int64) ENGINE = Kafka"
        )


def test_rabbitmq_still_guided(client, spark):
    with pytest.raises(SchemaError, match="Kafka|FileLog"):
        client.execute_ch(
            "CREATE TABLE ing.rmq (k Int64) ENGINE = RabbitMQ"
        )


def test_filelog_requires_path(client, spark):
    with pytest.raises(SchemaError, match="watch directory"):
        client.execute_ch(
            "CREATE TABLE ing.fl2 (k Int64) ENGINE = FileLog"
        )


def test_client_start_ingest_facade(client, spark, tmp_path):
    import json

    watch = tmp_path / "facade_logs"
    watch.mkdir()
    spark.sql("CREATE DATABASE IF NOT EXISTS ing")
    for t in ("ing.fs", "ing.ft"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    client.execute_ch(
        f"CREATE TABLE ing.fs (k Int64) "
        f"ENGINE = FileLog('{watch}', 'JSONEachRow')"
    )
    client.execute_ch(
        "CREATE TABLE ing.ft (k Int64) ENGINE = MergeTree ORDER BY k"
    )
    client.execute_ch(
        "CREATE MATERIALIZED VIEW ing.fmv TO ing.ft AS "
        "SELECT k FROM ing.fs"
    )
    (watch / "a.jsonl").write_text(json.dumps({"k": 42}))
    q = client.start_ingest("ing.fs", available_now=True)
    q.awaitTermination(60)
    assert [r.k for r in spark.table("ing.ft").collect()] == [42]
    for t in ("ing.fmv", "ing.ft", "ing.fs"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
