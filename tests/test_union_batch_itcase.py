"""Batch UnionITCase conformance, ported from
flink-table-planner/src/test/scala/.../runtime/batch/sql/
UnionITCase.scala — UNION / UNION ALL semantics: bag vs set, unions
of differently-shaped selects feeding filters/aggregations/joins
(incl. a sorted branch inside the union), and VALUES multi-input
union under max/min. Fixtures (smallTupleData3 / tupleData5) and
expected rows are the ITCase's own (Apache-2.0); execution is native
Spark SQL (SURVEY.md section 2.7)."""

from __future__ import annotations

import pytest

from tests.test_join_semianti_itcase import TUPLE5

SMALL3 = [(1, 1, "Hi"), (2, 2, "Hello"), (3, 2, "Hello world")]


@pytest.fixture(autouse=True)
def _tables(spark):
    spark.createDataFrame(SMALL3, "a int, b bigint, c string").createOrReplaceTempView("un_t3")
    spark.createDataFrame(
        TUPLE5, "d int, e bigint, f int, g string, h bigint"
    ).createOrReplaceTempView("un_t5")


def rows(spark, sql):
    return sorted(tuple(r) for r in spark.sql(sql).collect())


def test_union_all(spark):
    got = rows(spark, "SELECT t1.c FROM un_t3 t1 UNION ALL (SELECT t2.c FROM un_t3 t2)")
    assert got == sorted(
        [("Hi",), ("Hi",), ("Hello",), ("Hello",), ("Hello world",), ("Hello world",)]
    )


def test_union(spark):
    got = rows(spark, "SELECT t1.c FROM un_t3 t1 UNION (SELECT t2.c FROM un_t3 t2)")
    assert got == sorted([("Hi",), ("Hello",), ("Hello world",)])


def test_union_with_filter(spark):
    got = rows(
        spark,
        "SELECT c FROM (SELECT * FROM un_t3 UNION ALL (SELECT d, e, g FROM un_t5)) "
        "WHERE b < 2",
    )
    assert got == sorted([("Hi",), ("Hallo",)])


def test_union_with_aggregation(spark):
    got = rows(
        spark,
        "SELECT count(c) FROM (SELECT * FROM un_t3 UNION ALL (SELECT d, e, g FROM un_t5))",
    )
    assert got == [(18,)]


def test_join_after_union_all_with_sorted_branch(spark):
    got = rows(
        spark,
        "SELECT a, c, g FROM (SELECT t1.a, t1.b, t1.c FROM un_t3 t1 UNION ALL "
        "(SELECT a, b, c FROM un_t3 ORDER BY a, b, c)), un_t5 WHERE b = e",
    )
    assert got == sorted(
        [
            (1, "Hi", "Hallo"),
            (1, "Hi", "Hallo"),
            (2, "Hello", "Hallo Welt"),
            (2, "Hello", "Hallo Welt"),
            (3, "Hello world", "Hallo Welt"),
            (3, "Hello world", "Hallo Welt"),
        ]
    )


def test_union_of_values_multi_inputs(spark):
    got = rows(
        spark,
        "select max(v) as x, min(v) as n from "
        "(values cast(-86.4 as double), cast(-100 as double), cast(2 as double)) as t(v)",
    )
    assert got == [(2.0, -100.0)]
