"""Stream CorrelateITCase conformance (subset), ported from
flink-table-planner/src/test/scala/.../runtime/stream/sql/
CorrelateITCase.scala — UDTF correlates (CommonExecCorrelate):
the same-named field split through one UDTF over two different
sources union'd (the IndexOutOfBounds regression case), constant
(no-input-table) table function calls, a constant UDTF crossed with a
real table, and two different correlates over one table whose outputs
merge. Ported in Spark's lateral spelling (`FROM t, LATERAL fn(...)`)
— the Flink `LATERAL TABLE(fn(...))` spelling is the dialect layer's
concern; the semantics pinned here are the UDTF expansion rows.
Fixtures and expected rows are the ITCase's own (Apache-2.0)."""

from __future__ import annotations

import pytest


@pytest.fixture()
def str_split(spark):
    from pyspark.sql.functions import udtf

    @udtf(returnType="v string")
    class StringSplit:
        def eval(self, text: str = "a,b,c", sep: str = ","):
            for part in (text or "").split(sep or ","):
                yield (part,)

    spark.udtf.register("str_split", StringSplit)
    return StringSplit


def rows(spark, sql):
    return sorted(tuple(r) for r in spark.sql(sql).collect())


def test_udtf_same_field_of_different_sources(spark, str_split):
    spark.createDataFrame(
        [(1, 2, "abc-bcd"), (1, 2, "hhh"), (1, 2, "xxx")], "a int, b int, c string"
    ).createOrReplaceTempView("co_t1")
    spark.createDataFrame(
        [(1, "abc-bcd"), (1, "hhh"), (1, "xxx")], "a int, c string"
    ).createOrReplaceTempView("co_t2")
    got = rows(
        spark,
        "SELECT a, v FROM (SELECT a, v FROM co_t1, LATERAL str_split(c, '-') "
        "UNION ALL SELECT a, v FROM co_t2, LATERAL str_split(c, '-'))",
    )
    assert got == sorted(
        [(1, "abc"), (1, "abc"), (1, "bcd"), (1, "bcd"),
         (1, "hhh"), (1, "hhh"), (1, "xxx"), (1, "xxx")]
    )


def test_constant_table_func(spark, str_split):
    got = rows(spark, "SELECT * FROM str_split()")
    assert got == sorted([("a",), ("b",), ("c",)])
    got = rows(spark, "SELECT * FROM str_split('Jack,John', ',')")
    assert got == sorted([("Jack",), ("John",)])


def test_constant_table_func_crossed_with_table(spark, str_split):
    spark.createDataFrame(
        [(1, 2, "abc-bcd"), (1, 2, "hhh"), (1, 2, "xxx")], "a int, b int, c string"
    ).createOrReplaceTempView("co_t3")
    got = rows(
        spark,
        "SELECT * FROM co_t3, LATERAL str_split('Jack,John', ',')",
    )
    assert got == sorted(
        [
            (1, 2, "abc-bcd", "Jack"), (1, 2, "abc-bcd", "John"),
            (1, 2, "hhh", "Jack"), (1, 2, "hhh", "John"),
            (1, 2, "xxx", "Jack"), (1, 2, "xxx", "John"),
        ]
    )


def test_multiple_correlates(spark, str_split):
    spark.createDataFrame(
        [("1", "1,L", "A,B"), ("2", "2,L", "B,C")], "a string, b string, c string"
    ).createOrReplaceTempView("co_t4")
    got1 = rows(spark, "SELECT a, b, v FROM co_t4, LATERAL str_split(c, ',')")
    got2 = rows(spark, "SELECT a, c, v FROM co_t4, LATERAL str_split(b, ',')")
    merged = sorted(got1 + got2)
    assert merged == sorted(
        [
            ("1", "1,L", "A"), ("1", "1,L", "B"), ("1", "A,B", "1"), ("1", "A,B", "L"),
            ("2", "2,L", "B"), ("2", "2,L", "C"), ("2", "B,C", "2"), ("2", "B,C", "L"),
        ]
    )
