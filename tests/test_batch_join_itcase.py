"""Batch join-corpus conformance, ported from
flink-table-planner/src/test/scala/.../runtime/batch/sql/join/:

- JoinConditionTypeCoerceITCase.scala — equi-joins (and IN-to-semi
  rewrites) across numerically-coerced key types: INT = BIGINT /
  FLOAT / DOUBLE / DECIMAL(38,18) and FLOAT/DOUBLE/DECIMAL pairs;
- ScalarQueryITCase.scala — scalar subquery as a predicate, incl. the
  more-than-one-row error;
- SemiJoinITCase.scala — the semi/anti NULL-semantics matrix: IN /
  NOT IN (NULL keys make NOT IN three-valued), EXISTS / NOT EXISTS,
  correlated aggregates and OVER windows inside the subquery, and the
  COUNT(*)-scalar-query-to-semi-join rewrites with and without
  correlation.

The reference parameterizes each over physical join strategies
(BroadcastHashJoin/HashJoin/SortMergeJoin/NestedLoopJoin); Catalyst
picks its own physical join here, so each case runs once against
native Spark SQL (SURVEY.md section 2.3 rows 18-21). Fixtures and
expected rows are the ITCases' own (Apache-2.0)."""

from __future__ import annotations

from decimal import Decimal

import pytest

NUMERIC = [
    (1, 1, 1.0, 1.0, Decimal(1)),
    (2, 2, 2.0, 2.0, Decimal(2)),
    (3, 3, 3.0, 3.0, Decimal(3)),
]

LEFT_T = [
    (1, 2.0), (1, 2.0), (2, 1.0), (2, 1.0), (3, 3.0),
    (None, None), (None, 5.0), (6, None),
]
RIGHT_T = [
    (2, 3.0), (2, 3.0), (3, 2.0), (4, 1.0),
    (None, None), (None, 5.0), (6, None),
]
RIGHT_UNIQUE = [(2, 3.0), (3, 2.0), (4, 1.0), (None, 5.0), (6, None)]


@pytest.fixture(autouse=True)
def _tables(spark):
    spark.createDataFrame(
        NUMERIC, "a int, b bigint, c float, d double, e decimal(38,18)"
    ).createOrReplaceTempView("num_t1")
    spark.createDataFrame(
        NUMERIC, "a int, b bigint, c float, d double, e decimal(38,18)"
    ).createOrReplaceTempView("num_t2")
    spark.createDataFrame(LEFT_T, "a int, b double").createOrReplaceTempView("leftT")
    spark.createDataFrame(RIGHT_T, "c int, d double").createOrReplaceTempView("rightT")
    spark.createDataFrame(
        RIGHT_UNIQUE, "c int, d double"
    ).createOrReplaceTempView("rightUniqueKeyT")


def rows(spark, sql):
    def key(t):
        return tuple((v is None, str(v)) for v in t)

    return sorted((tuple(r) for r in spark.sql(sql).collect()), key=key)


def _ab(rowlist):
    def key(t):
        return tuple((v is None, str(v)) for v in t)

    return sorted((tuple(r) for r in rowlist), key=key)


# ---------------------------------------------------------------------------
# JoinConditionTypeCoerceITCase
# ---------------------------------------------------------------------------

_COERCE_EXPECTED = _ab(
    [
        (1, 1, 1.0, 1.0, Decimal("1.000000000000000000")),
        (2, 2, 2.0, 2.0, Decimal("2.000000000000000000")),
        (3, 3, 3.0, 3.0, Decimal("3.000000000000000000")),
    ]
)


@pytest.mark.parametrize(
    "cond",
    ["t1.a = t2.b", "t1.a = t2.c", "t1.a = t2.d", "t1.a = t2.e",
     "t1.c = t2.d", "t1.c = t2.e", "t1.d = t2.e"],
)
def test_inner_join_type_coercion(spark, cond):
    got = rows(
        spark, f"select t1.* from num_t1 t1, num_t2 t2 where {cond}"
    )
    assert got == _COERCE_EXPECTED


@pytest.mark.parametrize("col", ["b", "c", "d", "e"])
def test_in_to_semi_join_int_coercion(spark, col):
    got = rows(
        spark, f"select * from num_t1 t1 where t1.a in (select {col} from num_t2)"
    )
    assert got == _COERCE_EXPECTED


@pytest.mark.parametrize("lcol,rcol", [("c", "d"), ("c", "e"), ("d", "e")])
def test_in_to_semi_join_float_coercion(spark, lcol, rcol):
    got = rows(
        spark,
        f"select * from num_t1 t1 where t1.{lcol} in (select {rcol} from num_t2)",
    )
    assert got == _COERCE_EXPECTED


# ---------------------------------------------------------------------------
# ScalarQueryITCase
# ---------------------------------------------------------------------------


def test_scalar_subquery(spark):
    got = rows(spark, "SELECT * FROM leftT WHERE a = (SELECT c FROM rightT where c = 3)")
    assert got == [(3, 3.0)]


def test_scalar_subquery_more_than_one_row_errors(spark):
    with pytest.raises(Exception, match="(?i)more than one row|MULTI_VALUE"):
        spark.sql("SELECT * FROM leftT WHERE a = (SELECT c FROM rightT)").collect()


# ---------------------------------------------------------------------------
# SemiJoinITCase
# ---------------------------------------------------------------------------


def test_single_condition_left_semi(spark):
    got = rows(spark, "SELECT * FROM leftT WHERE a IN (SELECT c FROM rightT)")
    assert got == _ab([(2, 1.0), (2, 1.0), (3, 3.0), (6, None)])


def test_composed_condition_left_semi(spark):
    got = rows(spark, "SELECT * FROM leftT WHERE a IN (SELECT c FROM rightT WHERE b < d)")
    assert got == _ab([(2, 1.0), (2, 1.0)])


def test_single_condition_left_anti(spark):
    got = rows(
        spark,
        "SELECT * FROM leftT WHERE NOT EXISTS (SELECT * FROM rightT WHERE a = c)",
    )
    assert got == _ab([(1, 2.0), (1, 2.0), (None, None), (None, 5.0)])


def test_composed_condition_left_anti(spark):
    got = rows(
        spark,
        "SELECT * FROM leftT WHERE NOT EXISTS "
        "(SELECT * FROM rightT WHERE a = c AND b < d)",
    )
    assert got == _ab(
        [(1, 2.0), (1, 2.0), (3, 3.0), (6, None), (None, 5.0), (None, None)]
    )


def test_semi_join_transpose(spark):
    got = rows(
        spark,
        "SELECT a, b FROM (SELECT a, b, c FROM leftT, rightT WHERE a = c) lr "
        "WHERE lr.a > 0 AND lr.c IN (SELECT c FROM rightUniqueKeyT WHERE d > 1)",
    )
    assert got == _ab([(2, 1.0), (2, 1.0), (2, 1.0), (2, 1.0), (3, 3.0)])


def test_filter_pushdown_left_semi(spark):
    got = rows(
        spark,
        "SELECT * FROM (SELECT * FROM leftT WHERE a IN (SELECT c FROM rightT)) T "
        "WHERE T.b > 2",
    )
    assert got == [(3, 3.0)]
    got = rows(
        spark,
        "SELECT * FROM (SELECT * FROM leftT WHERE EXISTS (SELECT * FROM rightT)) T "
        "WHERE T.b > 2",
    )
    assert got == _ab([(3, 3.0), (None, 5.0)])
    got = rows(
        spark,
        "SELECT * FROM "
        "(SELECT * FROM leftT WHERE EXISTS (SELECT * FROM rightT WHERE a = c)) T "
        "WHERE T.b > 2",
    )
    assert got == [(3, 3.0)]


def test_join_condition_pushdown_left_semi(spark):
    got = rows(spark, "SELECT * FROM leftT WHERE a IN (SELECT c FROM rightT WHERE b > 2)")
    assert got == [(3, 3.0)]
    got = rows(spark, "SELECT * FROM leftT WHERE EXISTS (SELECT * FROM rightT WHERE b > 2)")
    assert got == _ab([(3, 3.0), (None, 5.0)])
    got = rows(
        spark,
        "SELECT * FROM leftT WHERE EXISTS (SELECT * FROM rightT WHERE a = c AND b > 2)",
    )
    assert got == [(3, 3.0)]


def test_filter_pushdown_left_anti(spark):
    # NOT IN with a NULL-free subquery filter
    got = rows(
        spark,
        "SELECT * FROM "
        "(SELECT * FROM leftT WHERE a NOT IN (SELECT c FROM rightT WHERE c < 3)) T "
        "WHERE T.b > 2",
    )
    assert got == [(3, 3.0)]
    got = rows(
        spark,
        "SELECT * FROM "
        "(SELECT * FROM leftT WHERE NOT EXISTS (SELECT * FROM rightT where c > 10)) T "
        "WHERE T.b > 2",
    )
    assert got == _ab([(3, 3.0), (None, 5.0)])
    got = rows(
        spark,
        "SELECT * FROM "
        "(SELECT * FROM leftT WHERE a NOT IN "
        "(SELECT c FROM rightT WHERE b = d AND c < 3)) T WHERE T.b > 2",
    )
    assert got == _ab([(3, 3.0), (None, 5.0)])
    got = rows(
        spark,
        "SELECT * FROM "
        "(SELECT * FROM leftT WHERE NOT EXISTS (SELECT * FROM rightT WHERE a = c)) T "
        "WHERE T.b > 2",
    )
    assert got == [(None, 5.0)]


def test_join_condition_pushdown_left_anti(spark):
    got = rows(
        spark, "SELECT * FROM leftT WHERE a NOT IN (SELECT c FROM rightT WHERE b > 2)"
    )
    assert got == _ab(
        [(1, 2.0), (1, 2.0), (2, 1.0), (2, 1.0), (None, None), (6, None)]
    )
    got = rows(
        spark, "SELECT * FROM leftT WHERE NOT EXISTS (SELECT * FROM rightT WHERE b > 2)"
    )
    assert got == _ab(
        [(1, 2.0), (1, 2.0), (2, 1.0), (2, 1.0), (None, None), (6, None)]
    )
    got = rows(
        spark,
        "SELECT * FROM leftT WHERE a NOT IN "
        "(SELECT c FROM rightT WHERE b = d AND b > 1)",
    )
    assert got == _ab(
        [(1, 2.0), (1, 2.0), (2, 1.0), (2, 1.0), (3, 3.0), (None, None), (6, None)]
    )
    got = rows(
        spark,
        "SELECT * FROM leftT WHERE NOT EXISTS "
        "(SELECT * FROM rightT WHERE a = c AND b > 2)",
    )
    assert got == _ab(
        [(1, 2.0), (1, 2.0), (2, 1.0), (2, 1.0), (None, None), (None, 5.0), (6, None)]
    )


def test_in_with_aggregate(spark):
    got = rows(
        spark, "SELECT * FROM rightT WHERE c IN (SELECT SUM(a) FROM leftT WHERE b = d)"
    )
    assert got == [(4, 1.0)]
    got = rows(
        spark,
        "SELECT * FROM leftT t1 WHERE a IN "
        "(SELECT DISTINCT a FROM leftT t2 WHERE t1.b = t2.b)",
    )
    assert got == _ab([(1, 2.0), (1, 2.0), (2, 1.0), (2, 1.0), (3, 3.0)])
    got = rows(
        spark,
        "SELECT * FROM rightT WHERE CAST(c/2 AS BIGINT) IN "
        "(SELECT COUNT(*) FROM leftT WHERE b = d)",
    )
    assert got == _ab([(2, 3.0), (2, 3.0), (4, 1.0)])


def test_in_with_over(spark):
    got = rows(
        spark,
        "SELECT * FROM rightT WHERE c IN (SELECT SUM(a) OVER "
        "(PARTITION BY b ORDER BY a ROWS BETWEEN UNBOUNDED preceding AND CURRENT ROW) "
        "FROM leftT)",
    )
    assert got == _ab([(2, 3.0), (2, 3.0), (3, 2.0), (4, 1.0), (6, None)])
    got = rows(
        spark,
        "SELECT * FROM rightT WHERE c IN (SELECT SUM(a) OVER"
        "(PARTITION BY b ORDER BY a ROWS BETWEEN UNBOUNDED preceding AND CURRENT ROW) "
        "FROM leftT GROUP BY a, b)",
    )
    assert got == _ab([(2, 3.0), (2, 3.0), (3, 2.0), (6, None)])
    got = rows(
        spark,
        "SELECT * FROM rightT WHERE c IN (SELECT SUM(a) OVER "
        "(PARTITION BY b ORDER BY a ROWS BETWEEN UNBOUNDED preceding AND CURRENT ROW) "
        "FROM leftT WHERE b = d)",
    )
    assert got == [(4, 1.0)]
    got = rows(
        spark,
        "SELECT * FROM rightT WHERE c IN (SELECT SUM(a) OVER"
        "(PARTITION BY b ORDER BY a ROWS BETWEEN UNBOUNDED preceding AND CURRENT ROW) "
        "FROM leftT WHERE b = d GROUP BY a, b)",
    )
    assert got == []


def test_exists_with_over(spark):
    got = rows(
        spark,
        "SELECT * FROM rightT WHERE EXISTS (SELECT SUM(a) OVER() FROM leftT WHERE b = d)",
    )
    assert got == _ab([(2, 3.0), (2, 3.0), (3, 2.0), (4, 1.0), (None, 5.0)])
    got = rows(
        spark,
        "SELECT * FROM rightT WHERE EXISTS "
        "(SELECT SUM(a) OVER() FROM leftT WHERE b = d GROUP BY a)",
    )
    assert got == _ab([(2, 3.0), (2, 3.0), (3, 2.0), (4, 1.0), (None, 5.0)])


def test_in_with_non_equality_correlation(spark):
    got = rows(
        spark, "SELECT * FROM rightT WHERE c IN (SELECT a FROM leftT WHERE b > d)"
    )
    assert got == [(3, 2.0)]
    got = rows(
        spark,
        "SELECT * FROM leftT WHERE a IN "
        "(SELECT c FROM (SELECT MAX(c) AS c, d FROM rightT GROUP BY d) r "
        "WHERE leftT.b > r.d)",
    )
    assert got == [(3, 3.0)]


def test_rewrite_scalar_query_without_correlation(spark):
    for q in [
        "SELECT * FROM leftT WHERE (SELECT COUNT(*) FROM rightT) > 0",
        "SELECT * FROM leftT WHERE (SELECT COUNT(*) FROM rightT) >= 1",
        "SELECT * FROM leftT WHERE 0 < (SELECT COUNT(*) FROM rightT)",
        "SELECT * FROM leftT WHERE (SELECT COUNT(*) FROM rightT WHERE c > 5) > 0",
    ]:
        assert rows(spark, q) == _ab(LEFT_T), q
    for q in [
        "SELECT * FROM leftT WHERE (SELECT COUNT(*) FROM rightT WHERE c > 15) > 0",
        "SELECT * FROM leftT WHERE 1 <= (SELECT COUNT(*) FROM rightT WHERE c > 15)",
    ]:
        assert rows(spark, q) == [], q


def test_rewrite_scalar_query_with_correlation(spark):
    for q in [
        "SELECT * FROM leftT WHERE (SELECT COUNT(*) FROM rightT WHERE a = c) > 0",
        "SELECT * FROM leftT WHERE 1 <= (SELECT COUNT(*) FROM rightT WHERE a = c)",
    ]:
        assert rows(spark, q) == _ab(
            [(2, 1.0), (2, 1.0), (3, 3.0), (6, None)]
        ), q
    assert rows(
        spark,
        "SELECT * FROM leftT WHERE "
        "(SELECT COUNT(*) FROM rightT WHERE a = c AND c > 5) > 0",
    ) == [(6, None)]
    assert rows(
        spark,
        "SELECT * FROM leftT WHERE "
        "(SELECT COUNT(*) FROM rightT WHERE a = c AND c > 15) > 0",
    ) == []
