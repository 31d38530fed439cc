"""JDBC connector tests (embedded Derby — the in-container database).

Reference parity: JdbcDynamicTableFactory DDL options, parallel
range-split scans (JdbcRowDataInputFormat), JDBC sink, and the
JDBC-backed lookup join (JdbcRowDataLookupFunction.java:54).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_release_1_16_0_spark.operators.lookup import lookup_join
from flink_release_1_16_0_spark.sources.jdbc import (
    jdbc_source,
    jdbc_write,
)
from flink_release_1_16_0_spark.table_env import TableEnvironment

URL = "jdbc:derby:memory:graft_test;create=true"


@pytest.fixture(scope="module")
def seeded(spark):
    df = spark.range(1, 101).select(
        F.col("id").alias("k"),
        F.concat(F.lit("name_"), F.col("id")).alias("name"),
        (F.col("id") % 7).alias("grp"),
    )
    jdbc_write(df, URL, "dim", mode="overwrite")
    return df


def test_jdbc_roundtrip(spark, seeded):
    back = jdbc_source(spark, URL, "dim").toDF("k", "name", "grp")
    assert back.count() == 100
    assert back.filter(F.col("k") == 42).first()["name"] == "name_42"


def test_jdbc_partitioned_scan(spark, seeded):
    """scan.partition.* contract: range-split read arrives in multiple
    input partitions (the reference's parallel JdbcInputFormat)."""
    part = jdbc_source(
        spark,
        URL,
        "dim",
        partition_column="k",
        num_partitions=4,
        lower_bound=1,
        upper_bound=101,
    ).toDF("k", "name", "grp")
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == 100
    with pytest.raises(ValueError, match="together"):
        jdbc_source(spark, URL, "dim", partition_column="k")


def test_jdbc_pushdown(spark, seeded):
    """Predicate pushdown reaches the JDBC scan (PushedFilters in the
    DSv2 plan) — SupportsFilterPushDown parity."""
    df = jdbc_source(spark, URL, "dim").toDF("k", "name", "grp").filter(
        F.col("k") < 10
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "LessThan" in plan
    assert df.count() == 9


def test_jdbc_lookup_join_broadcast(spark, seeded):
    fact = spark.range(1, 51).select(
        F.col("id").alias("fk"), (F.col("id") * 10).alias("amount")
    )
    dim = jdbc_source(spark, URL, "dim").toDF("k", "name", "grp")
    out = lookup_join(fact, dim, on=[("fk", "k")], how="left")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert out.count() == 50


def test_jdbc_ddl_scan_and_insert(spark):
    """CREATE TABLE ... WITH ('connector'='jdbc') scans through the
    facade; INSERT INTO appends via the JDBC sink."""
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""
        CREATE TABLE jdim (k BIGINT, name STRING, grp BIGINT)
        WITH ('connector'='jdbc', 'url'='{URL}', 'table-name'='dim',
              'scan.partition.column'='k', 'scan.partition.num'='4',
              'scan.partition.lower-bound'='1',
              'scan.partition.upper-bound'='101')
        """
    )
    assert tenv.sql_query("SELECT COUNT(*) AS n FROM jdim").to_data_frame().first()[
        "n"
    ] == 100
    tenv.execute_sql(
        f"""
        CREATE TABLE jsink (k BIGINT, name STRING)
        WITH ('connector'='jdbc', 'url'='{URL}', 'table-name'='sink_t')
        """
    )
    tenv.execute_sql("INSERT INTO jsink SELECT k, name FROM jdim WHERE k <= 3")
    got = jdbc_source(spark, URL, "sink_t").toDF("k", "name")
    assert sorted(r["k"] for r in got.collect()) == [1, 2, 3]
    tenv.execute_sql("INSERT INTO jsink SELECT k, name FROM jdim WHERE k = 4")
    assert jdbc_source(spark, URL, "sink_t").count() == 4
