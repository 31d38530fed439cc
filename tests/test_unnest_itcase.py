"""UnnestITCase conformance, ported from
flink-table-planner/src/test/scala/.../runtime/stream/sql/
UnnestITCase.scala — the UNNEST correlate (CommonExecCorrelate /
UnnestRowsFunction): primitive arrays, arrays of arrays, arrays of
rows (with and without a column-alias list), the cross-join and
comma-join spellings, correlated filters referencing both sides, the
LEFT JOIN UNNEST ... ON TRUE outer form over a collected set, and
UNNEST of a MAP.

The dialect lowers UNNEST to LATERAL VIEW explode/inline
(table_env._rewrite_unnest) with an automatic retry that swaps
inline -> explode for MAP operands. The multiset-from-COLLECT cases
are covered at the operator level by the correlate_unnest_* registry
queries (COLLECT's multiset encoding is engine-internal; the SQL-level
composition is not ported). Fixtures and expected rows are the
ITCase's own (Apache-2.0)."""

from __future__ import annotations

import pytest

from flink_release_1_16_0_spark.table_env import TableEnvironment


@pytest.fixture()
def tenv(spark):
    return TableEnvironment.create(spark)


def rows(t):
    def key(tup):
        return tuple((v is None, str(v)) for v in tup)

    return sorted((tuple(r) for r in t.to_data_frame().collect()), key=key)


def _ab(rowlist):
    def key(tup):
        return tuple((v is None, str(v)) for v in tup)

    return sorted((tuple(r) for r in rowlist), key=key)


def test_unnest_primitive_array(tenv, spark):
    spark.createDataFrame(
        [(1, [12, 45]), (2, [41, 5]), (3, [18, 42])], "a int, b array<int>"
    ).createOrReplaceTempView("un_t1")
    got = rows(tenv.sql_query("SELECT a, s FROM un_t1, UNNEST(un_t1.b) AS A (s)"))
    assert got == _ab([(1, 12), (1, 45), (2, 41), (2, 5), (3, 18), (3, 42)])


def test_unnest_array_of_array(tenv, spark):
    spark.createDataFrame(
        [(1, [[12, 45]]), (2, [[18], [87]]), (3, [[1], [45]])],
        "a int, c array<array<int>>",
    ).createOrReplaceTempView("un_t2")
    got = rows(tenv.sql_query("SELECT a, s FROM un_t2, UNNEST(un_t2.c) AS A (s)"))
    assert got == _ab([(1, [12, 45]), (2, [18]), (2, [87]), (3, [1]), (3, [45])])


_OBJ_ROWS = [
    (1, [(12, "45.6"), (12, "45.612")]),
    (2, [(13, "41.6"), (14, "45.2136")]),
    (3, [(18, "42.6")]),
]


def test_unnest_object_array_with_filter(tenv, spark):
    spark.createDataFrame(
        _OBJ_ROWS, "a int, b array<struct<_1:int,_2:string>>"
    ).createOrReplaceTempView("un_t3")
    got = rows(
        tenv.sql_query(
            "SELECT a, s, t FROM un_t3, UNNEST(un_t3.b) AS A (s, t) WHERE s > 13"
        )
    )
    assert got == _ab([(2, 14, "45.2136"), (3, 18, "42.6")])


def test_cross_with_unnest(tenv, spark):
    spark.createDataFrame(
        [(1, 1, ["Hi", "w"]), (2, 2, ["Hello", "k"]), (3, 2, ["Hello world", "x"])],
        "a int, b bigint, c array<string>",
    ).createOrReplaceTempView("un_t4")
    got = rows(tenv.sql_query("SELECT a, s FROM un_t4, UNNEST(un_t4.c) as A (s)"))
    assert got == _ab(
        [(1, "Hi"), (1, "w"), (2, "Hello"), (2, "k"), (3, "Hello world"), (3, "x")]
    )


def test_cross_join_unnest_map(tenv, spark):
    spark.createDataFrame(
        [
            (1, 11, {"a": "10", "b": "11"}),
            (2, 22, {"c": "20"}),
            (3, 33, {"d": "30", "e": "31"}),
        ],
        "a int, b bigint, c map<string,string>",
    ).createOrReplaceTempView("un_t5")
    got = rows(
        tenv.sql_query("SELECT a, b, v FROM un_t5 CROSS JOIN UNNEST(c) as f (k, v)")
    )
    assert got == _ab(
        [(1, 11, "10"), (1, 11, "11"), (2, 22, "20"), (3, 33, "30"), (3, 33, "31")]
    )


def test_join_with_unnest_of_tuple(tenv, spark):
    spark.createDataFrame(
        [
            (1, [(12, "45.6"), (2, "45.612")]),
            (2, [(13, "41.6"), (1, "45.2136")]),
            (3, [(18, "42.6")]),
        ],
        "a int, b array<struct<_1:int,_2:string>>",
    ).createOrReplaceTempView("un_t6")
    got = rows(
        tenv.sql_query(
            "SELECT a, x, y FROM (SELECT a, b FROM un_t6 WHERE a < 3) as tf, "
            "UNNEST(tf.b) as A (x, y) WHERE x > a"
        )
    )
    assert got == _ab([(1, 12, "45.6"), (1, 2, "45.612"), (2, 13, "41.6")])


def test_unnest_object_array_without_alias(tenv, spark):
    spark.createDataFrame(
        _OBJ_ROWS, "a int, b array<struct<_1:int,_2:string>>"
    ).createOrReplaceTempView("un_t7")
    got = rows(
        tenv.sql_query(
            "SELECT a, A._1, A._2 FROM un_t7, UNNEST(un_t7.b) AS A where A._1 > 13"
        )
    )
    assert got == _ab([(2, 14, "45.2136"), (3, 18, "42.6")])


def test_unnest_with_nested_filter(tenv, spark):
    spark.createDataFrame(
        _OBJ_ROWS, "a int, b array<struct<_1:int,_2:string>>"
    ).createOrReplaceTempView("un_t8")
    got = rows(
        tenv.sql_query(
            """
            SELECT * FROM (
               SELECT a, b1, b2 FROM
                   (SELECT a, b FROM un_t8) T
                   CROSS JOIN
                   UNNEST(T.b) as S(b1, b2)
                   WHERE S.b1 >= 12
               ) tmp
            WHERE b2 <> '42.6'
            """
        )
    )
    assert got == _ab(
        [(1, 12, "45.612"), (1, 12, "45.6"), (2, 13, "41.6"), (2, 14, "45.2136")]
    )


def test_left_join_unnest_on_true(tenv, spark):
    # LEFT JOIN UNNEST(...) ON TRUE — the OUTER correlate: an empty
    # array still yields its left row, null-padded
    spark.createDataFrame(
        [(1, ["1", "2"]), (2, ["2"]), (3, []), (4, ["4"])],
        "a int, st array<string>",
    ).createOrReplaceTempView("un_t9")
    got = rows(
        tenv.sql_query(
            "SELECT a, s FROM un_t9 LEFT JOIN UNNEST(un_t9.st) AS A(s) ON TRUE "
            "WHERE a < 5"
        )
    )
    assert got == _ab([(1, "1"), (1, "2"), (2, "2"), (3, None), (4, "4")])
