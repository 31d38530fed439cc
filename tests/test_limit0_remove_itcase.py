"""Limit0RemoveITCase conformance, ported from
flink-table-planner/src/test/scala/.../runtime/stream/sql/
Limit0RemoveITCase.scala — the LIMIT-0 elimination semantics: a
LIMIT 0 relation is empty everywhere it appears (bare, under ORDER
BY, inside a projection), and the three-valued subquery forms over
the empty relation: IN -> no rows, NOT IN -> ALL rows (vacuously
true, no NULL hazard from an empty set), EXISTS -> no rows,
NOT EXISTS -> all rows. Expected rows are the ITCase's own
(Apache-2.0); execution is native Spark SQL."""

from __future__ import annotations

import pytest


@pytest.fixture(autouse=True)
def _tables(spark):
    spark.createDataFrame(
        [(i,) for i in range(1, 7)], "a int"
    ).createOrReplaceTempView("lim_t1")
    spark.createDataFrame(
        [(i,) for i in range(1, 4)], "a int"
    ).createOrReplaceTempView("lim_t2")


def rows(spark, sql):
    return sorted(tuple(r) for r in spark.sql(sql).collect())


def test_simple_limit_remove(spark):
    assert rows(spark, "SELECT * FROM lim_t1 LIMIT 0") == []


def test_limit_remove_with_order_by(spark):
    assert rows(spark, "SELECT * FROM lim_t1 ORDER BY a LIMIT 0") == []


def test_limit_remove_with_select(spark):
    assert (
        rows(spark, "select a2 from (select cast(a as int) a2 from lim_t1 limit 0)")
        == []
    )


def test_limit_remove_with_in(spark):
    assert (
        rows(spark, "SELECT * FROM lim_t1 WHERE a IN (SELECT a FROM lim_t2 LIMIT 0)")
        == []
    )


def test_limit_remove_with_not_in(spark):
    got = rows(
        spark, "SELECT * FROM lim_t1 WHERE a NOT IN (SELECT a FROM lim_t2 LIMIT 0)"
    )
    assert got == [(i,) for i in range(1, 7)]


def test_limit_remove_with_exists(spark):
    assert (
        rows(spark, "SELECT * FROM lim_t1 WHERE EXISTS (SELECT a FROM lim_t2 LIMIT 0)")
        == []
    )


def test_limit_remove_with_not_exists(spark):
    got = rows(
        spark,
        "SELECT * FROM lim_t1 WHERE NOT EXISTS (SELECT a FROM lim_t2 LIMIT 0)",
    )
    assert got == [(i,) for i in range(1, 7)]


def test_limit_remove_with_join(spark):
    got = rows(
        spark,
        "SELECT a1 FROM (SELECT a AS a1 FROM lim_t1) "
        "JOIN (SELECT a AS a2 FROM lim_t2 LIMIT 0) ON a1 = a2",
    )
    assert got == []
