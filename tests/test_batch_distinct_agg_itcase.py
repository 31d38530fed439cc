"""Batch DistinctAggregateITCase conformance, ported from
flink-table-planner/src/test/scala/.../runtime/batch/sql/agg/
DistinctAggregateITCaseBase.scala (the shared base the reference runs
under BOTH HashDistinctAggregateITCase and SortDistinctAggregateITCase
— a physical-operator parameterization; here Catalyst picks the
physical aggregate, so the base runs once and pins the same results).

Coverage: single/multi DISTINCT aggregates global and grouped, NULL
columns, empty input (global agg emits one row, grouped emits none),
distinct-on-group-key, GROUPING SETS x distinct, and the FILTER
(WHERE ...) matrix over Table5.

Fixtures: TestData.scala smallTupleData3/tupleData3/tupleData5 +
the NullTable3 derivation (Apache-2.0). Execution: native Spark SQL
(SURVEY.md section 2.4 row 31 — split/incremental distinct agg)."""

from __future__ import annotations

import pytest

from tests.test_join_semianti_itcase import TUPLE5  # (= tupleData5)

C3 = [
    "Hi", "Hello", "Hello world", "Hello world, how are you?",
    "I am fine.", "Luke Skywalker",
] + [f"Comment#{i}" for i in range(1, 16)]
B3 = [1, 2, 2, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 5, 6, 6, 6, 6, 6, 6]
DATA3 = [(i + 1, B3[i], C3[i]) for i in range(21)]
SMALL3 = DATA3[:3]
SMALL5 = TUPLE5[:3]
NULL3 = [(a, b, None if "Hello" in c else c) for a, b, c in DATA3]


@pytest.fixture(autouse=True)
def _tables(spark):
    spark.createDataFrame(DATA3, "a int, b bigint, c string").createOrReplaceTempView("Table3")
    spark.createDataFrame(SMALL3, "a int, b bigint, c string").createOrReplaceTempView("SmallTable3")
    spark.createDataFrame([], "a int, b bigint, c string").createOrReplaceTempView("EmptyTable3")
    spark.createDataFrame(
        NULL3, "a int, b bigint, c string"
    ).createOrReplaceTempView("NullTable3")
    spark.createDataFrame(
        TUPLE5, "a int, b bigint, c int, d string, e bigint"
    ).createOrReplaceTempView("Table5")
    spark.createDataFrame(
        SMALL5, "a int, b bigint, c int, d string, e bigint"
    ).createOrReplaceTempView("SmallTable5")


def check(spark, sql, expected):
    def norm(v):
        if v is None or isinstance(v, (float, str)):
            return v
        try:
            return int(v)  # long/Decimal sums onto the int grid
        except (TypeError, ValueError):
            return v

    def key(t):
        return tuple((v is None, str(v)) for v in t)

    got = sorted(
        (tuple(norm(v) for v in r) for r in map(tuple, spark.sql(sql).collect())),
        key=key,
    )
    want = sorted((tuple(row) for row in expected), key=key)
    assert got == want, f"{sql}\n got {got}\nwant {want}"


def test_single_distinct_agg(spark):
    check(spark, "SELECT COUNT(DISTINCT a) FROM Table3", [(21,)])
    check(spark, "SELECT COUNT(DISTINCT a) FROM EmptyTable3", [(0,)])


def test_multi_distinct_agg_on_same_column(spark):
    check(
        spark,
        "SELECT COUNT(DISTINCT b), SUM(DISTINCT b), MAX(b) FROM Table3",
        [(6, 21, 6)],
    )


def test_single_distinct_and_non_distinct(spark):
    check(spark, "SELECT COUNT(DISTINCT c), SUM(a) FROM NullTable3", [(18, 231)])
    check(spark, "SELECT COUNT(DISTINCT b), COUNT(c) FROM NullTable3", [(6, 18)])


def test_multi_distinct_on_different_columns(spark):
    check(spark, "SELECT COUNT(DISTINCT a), SUM(DISTINCT b) FROM Table3", [(21, 21)])
    check(
        spark,
        "SELECT COUNT(*), SUM(DISTINCT b), COUNT(DISTINCT c) FROM Table3",
        [(21, 21, 21)],
    )
    check(
        spark,
        "SELECT COUNT(a), SUM(DISTINCT b), COUNT(DISTINCT c) FROM NullTable3",
        [(21, 21, 18)],
    )
    check(
        spark,
        "SELECT COUNT(*), SUM(DISTINCT b), COUNT(DISTINCT c) FROM EmptyTable3",
        [(0, None, 0)],
    )


def test_multi_distinct_and_non_distinct_on_different_columns(spark):
    check(
        spark,
        "SELECT COUNT(DISTINCT a), SUM(DISTINCT b), COUNT(c), count(1) FROM Table3",
        [(21, 21, 21, 21)],
    )
    check(
        spark,
        "SELECT COUNT(DISTINCT a), SUM(DISTINCT b), COUNT(c), count(1) FROM EmptyTable3",
        [(0, None, 0, 0)],
    )


def test_single_distinct_with_group_by(spark):
    check(
        spark,
        "SELECT a, COUNT(a), SUM(DISTINCT b) FROM SmallTable3 GROUP BY a",
        [(1, 1, 1), (2, 1, 2), (3, 1, 2)],
    )
    check(
        spark,
        "SELECT c, COUNT(b), SUM(DISTINCT a) FROM NullTable3 WHERE a < 6 GROUP BY c",
        [(None, 3, 9), ("Hi", 1, 1), ("I am fine.", 1, 5)],
    )
    check(
        spark,
        "SELECT a, COUNT(a), SUM(DISTINCT b) FROM EmptyTable3 GROUP BY a",
        [],
    )


def test_two_distinct_with_group_by_and_count_star(spark):
    check(
        spark,
        "SELECT a, COUNT(*), SUM(DISTINCT b), COUNT(DISTINCT b) FROM SmallTable3 GROUP BY a",
        [(1, 1, 1, 1), (2, 1, 2, 1), (3, 1, 2, 1)],
    )
    check(
        spark,
        "SELECT a, COUNT(*), SUM(DISTINCT b), COUNT(DISTINCT c) FROM SmallTable3 GROUP BY a",
        [(1, 1, 1, 1), (2, 1, 2, 1), (3, 1, 2, 1)],
    )


def test_column_in_non_distinct_agg_and_group_by(spark):
    check(
        spark,
        "SELECT b, COUNT(b), SUM(DISTINCT a), COUNT(DISTINCT c) FROM SmallTable3 GROUP BY b",
        [(1, 1, 1, 1), (2, 2, 5, 2)],
    )
    check(
        spark,
        "SELECT b, COUNT(b), SUM(DISTINCT a), COUNT(DISTINCT c) FROM NullTable3 GROUP BY b",
        [
            (1, 1, 1, 1),
            (2, 2, 5, 0),
            (3, 3, 15, 2),
            (4, 4, 34, 4),
            (5, 5, 65, 5),
            (6, 6, 111, 6),
        ],
    )


def test_distinct_and_non_distinct_on_same_column(spark):
    check(
        spark,
        "SELECT COUNT(DISTINCT a), SUM(DISTINCT b), MAX(a), MIN(a), COUNT(a) FROM SmallTable3",
        [(3, 3, 3, 1, 3)],
    )
    check(
        spark,
        "SELECT COUNT(DISTINCT c), SUM(DISTINCT a), MAX(a), MIN(a), COUNT(a) "
        "FROM SmallTable3 GROUP BY b",
        [(1, 1, 1, 1, 1), (2, 5, 3, 2, 2)],
    )


def test_group_key_in_distinct_agg(spark):
    check(
        spark,
        "SELECT b, COUNT(a), SUM(DISTINCT b) FROM SmallTable3 GROUP BY b",
        [(1, 1, 1), (2, 2, 2)],
    )
    check(
        spark,
        "SELECT b, COUNT(1), SUM(DISTINCT b), COUNT(DISTINCT b) FROM SmallTable3 GROUP BY b",
        [(1, 1, 1, 1), (2, 2, 2, 1)],
    )


def test_distinct_with_grouping_sets(spark):
    check(
        spark,
        "SELECT COUNT(DISTINCT a) FROM SmallTable3 GROUP BY GROUPING SETS (b, c)",
        [(1,), (2,), (1,), (1,), (1,)],
    )
    check(
        spark,
        "SELECT COUNT(DISTINCT a), SUM(DISTINCT a), MAX(a) "
        "FROM SmallTable3 GROUP BY GROUPING SETS (b, c)",
        [(1, 1, 1), (2, 5, 3), (1, 1, 1), (1, 2, 2), (1, 3, 3)],
    )
    check(
        spark,
        "SELECT COUNT(DISTINCT a), SUM(b) FROM SmallTable5 GROUP BY GROUPING SETS (d, e)",
        [(1, 1), (1, 2), (1, 3), (2, 4), (1, 2)],
    )
    check(
        spark,
        "SELECT COUNT(DISTINCT a), SUM(DISTINCT b), COUNT(c), COUNT(1) "
        "FROM SmallTable5 GROUP BY GROUPING SETS (d, e)",
        [(1, 1, 1, 1), (1, 2, 1, 1), (1, 3, 1, 1), (2, 4, 2, 2), (1, 2, 1, 1)],
    )


def test_single_distinct_with_filter(spark):
    check(
        spark,
        "SELECT e, COUNT(DISTINCT a) FILTER (WHERE c > 0) FROM Table5 GROUP BY e",
        [(1, 3), (2, 4), (3, 2)],
    )


def test_multi_distinct_same_column_with_filter(spark):
    check(
        spark,
        "SELECT e, COUNT(DISTINCT a), COUNT(DISTINCT a) FILTER (WHERE c > 0), "
        "COUNT(DISTINCT a) FILTER (WHERE c < 10) FROM Table5 GROUP BY e",
        [(1, 4, 3, 3), (2, 4, 4, 3), (3, 2, 2, 1)],
    )


def test_multi_distinct_different_columns_with_filter(spark):
    check(
        spark,
        "SELECT e, COUNT(DISTINCT a), COUNT(DISTINCT a) FILTER (WHERE c > 0), "
        "COUNT(DISTINCT b) FILTER (WHERE b > 1) FROM Table5 GROUP BY e",
        [(1, 4, 3, 4), (2, 4, 4, 7), (3, 2, 2, 3)],
    )


def test_multi_distinct_with_filter_and_non_distinct(spark):
    check(
        spark,
        "SELECT e, COUNT(DISTINCT a), COUNT(DISTINCT a) FILTER (WHERE c > 0), "
        "MAX(c), MIN(c) FROM Table5 GROUP BY e",
        [(1, 4, 3, 10, 0), (2, 4, 4, 14, 1), (3, 2, 2, 12, 5)],
    )
    check(
        spark,
        "SELECT e, MAX(c), MAX(c) FILTER (WHERE b < 10), COUNT(DISTINCT a), "
        "COUNT(DISTINCT a) FILTER (WHERE c > 5), COUNT(DISTINCT b) FILTER (WHERE b > 3) "
        "FROM Table5 GROUP BY e",
        [(1, 10, 8, 4, 2, 3), (2, 14, 6, 4, 2, 6), (3, 12, 5, 2, 1, 3)],
    )


def test_distinct_with_filter_without_group_by(spark):
    check(spark, "SELECT COUNT(DISTINCT a) FILTER (WHERE c > 0) FROM Table5", [(4,)])
    check(
        spark,
        "SELECT COUNT(DISTINCT a), COUNT(DISTINCT a) FILTER (WHERE c > 10), "
        "COUNT(DISTINCT a) FILTER (WHERE c < 10) FROM Table5",
        [(5, 1, 4)],
    )
    check(
        spark,
        "SELECT COUNT(DISTINCT a), COUNT(DISTINCT a) FILTER (WHERE c > 0), "
        "COUNT(DISTINCT b) FILTER (WHERE b > 1) FROM Table5",
        [(5, 4, 14)],
    )
    check(
        spark,
        "SELECT MAX(e), MAX(e) FILTER (WHERE c < 10), COUNT(DISTINCT a), "
        "COUNT(DISTINCT a) FILTER (WHERE c > 5), COUNT(DISTINCT b) FILTER (WHERE b > 3) FROM Table5",
        [(3, 3, 5, 2, 12)],
    )
