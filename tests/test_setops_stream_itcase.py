"""Stream SetOperatorsITCase conformance, ported from
flink-table-planner/src/test/scala/.../runtime/stream/sql/
SetOperatorsITCase.scala — INTERSECT [ALL] / EXCEPT [ALL] over
streams: distinct-set intersection, except as anti-membership on a
projected column, bag-semantics INTERSECT ALL (min multiplicity) and
EXCEPT ALL over a tripled UNION ALL (multiplicity subtraction). On
bounded input the retract-sink fold equals the batch result, which is
what these pin (native Catalyst set operators, SURVEY.md section 2.7).

Fixtures and expected rows are the ITCase's own (Apache-2.0)."""

from __future__ import annotations

import pytest

from flink_release_1_16_0_spark.table_env import TableEnvironment

SMALL3 = [(1, 1, "Hi"), (2, 2, "Hello"), (3, 2, "Hello world")]
DATA3_C = [
    "Hi", "Hello", "Hello world", "Hello world, how are you?",
    "I am fine.", "Luke Skywalker",
] + [f"Comment#{i}" for i in range(1, 16)]
B3 = [1, 2, 2, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 5, 6, 6, 6, 6, 6, 6]
DATA3 = [(i + 1, B3[i], DATA3_C[i]) for i in range(21)]


@pytest.fixture()
def tenv(spark):
    return TableEnvironment.create(spark)


def rows(t):
    return sorted(tuple(r) for r in t.to_data_frame().collect())


def test_intersect(tenv, spark):
    spark.createDataFrame(SMALL3, "a1 int, a2 bigint, a3 string").createOrReplaceTempView("so_a")
    spark.createDataFrame(DATA3, "b1 int, b2 bigint, b3 string").createOrReplaceTempView("so_b")
    got = rows(
        tenv.sql_query(
            "SELECT a1, a2, a3 from so_a INTERSECT SELECT b1, b2, b3 from so_b"
        )
    )
    assert got == sorted([(1, 1, "Hi"), (2, 2, "Hello"), (3, 2, "Hello world")])


def test_except(tenv, spark):
    d1 = [
        (1, 1, "Hi1"), (1, 2, "Hi2"), (1, 2, "Hi2"), (1, 5, "Hi3"),
        (2, 7, "Hi5"), (1, 9, "Hi6"), (1, 8, "Hi8"), (3, 8, "Hi9"),
    ]
    d2 = [(1, 1, "Hi1"), (2, 2, "Hi2"), (3, 2, "Hi3")]
    spark.createDataFrame(d1, "a1 int, a2 bigint, a3 string").createOrReplaceTempView("so_t1")
    spark.createDataFrame(d2, "b1 int, b2 bigint, b3 string").createOrReplaceTempView("so_t2")
    got = rows(tenv.sql_query("SELECT a3 from so_t1 EXCEPT SELECT b3 from so_t2"))
    assert got == sorted([("Hi5",), ("Hi6",), ("Hi8",), ("Hi9",)])


def test_intersect_all(tenv, spark):
    spark.createDataFrame([(c,) for c in [1, 1, 1, 2, 2]], "c int").createOrReplaceTempView("so_i1")
    spark.createDataFrame([(c,) for c in [1, 2, 2, 2, 3]], "c int").createOrReplaceTempView("so_i2")
    got = rows(tenv.sql_query("SELECT c FROM so_i1 INTERSECT ALL SELECT c FROM so_i2"))
    assert got == sorted([(1,), (2,), (2,)])


def test_minus_all(tenv, spark):
    spark.createDataFrame(SMALL3, "a int, b bigint, c string").createOrReplaceTempView("so_ma")
    spark.createDataFrame(
        [(1, 1, "Hi"), (1, 1, "Hi")], "a int, b bigint, c string"
    ).createOrReplaceTempView("so_mb")
    got = rows(
        tenv.sql_query(
            "SELECT c FROM ((SELECT * FROM so_ma UNION ALL SELECT * FROM so_ma "
            "UNION ALL SELECT * FROM so_ma) EXCEPT ALL SELECT * FROM so_mb)"
        )
    )
    assert got == sorted(
        [("Hi",)] + [("Hello",)] * 3 + [("Hello world",)] * 3
    )
