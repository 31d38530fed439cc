"""Batch OuterJoinITCase + JoinWithoutKeyITCase (single-row-join
family) conformance, ported from
flink-table-planner/src/test/scala/.../runtime/batch/sql/join/:

- OuterJoinITCase.scala: LEFT/RIGHT/FULL outer joins whose ON carries
  a NON-EQUI residual (a = c AND b < d — the residual failing must
  null-pad, not drop), duplicated rows on both sides (multiplicity
  through the buffered-match path), NULL join keys never matching,
  empty inputs, one-sided ON filters (l.n > 1 vs u.N > 1 pad the same
  rows on a LEFT join), all-NULL build sides under aggregation, and
  FULL joins with <> residuals splitting matched rows into two padded
  halves;
- JoinWithoutKeyITCase.scala: the single-row-input join family — a
  global aggregate as one side (CROSS, equal / non-equal predicates,
  empty single row, two-field single row).

The reference runs these under four physical join strategies;
Catalyst picks its own here (native batch joins, SURVEY.md section
2.3 rows 18-20). Fixtures and expected rows are the ITCases' own
(Apache-2.0)."""

from __future__ import annotations

import pytest

from tests.test_join_semianti_itcase import TUPLE5

LEFT_T = [
    (1, 2.0), (2, 100.0), (2, 1.0), (2, 1.0), (3, 3.0), (5, 1.0),
    (6, 6.0), (None, None),
]
RIGHT_T = [
    (0, 0.0), (2, 3.0), (2, -1.0), (2, -1.0), (2, 3.0), (3, 2.0),
    (4, 1.0), (5, 3.0), (7, 7.0), (None, None),
]
UPPER = [(1, "A"), (2, "B"), (3, "C"), (4, "D"), (5, "E"), (6, "F")]
LOWER = [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
SMALL3 = [(1, 1, "Hi"), (2, 2, "Hello"), (3, 2, "Hello world")]


@pytest.fixture(autouse=True)
def _tables(spark):
    spark.createDataFrame(LEFT_T, "a int, b double").createOrReplaceTempView("oj_left")
    spark.createDataFrame(RIGHT_T, "c int, d double").createOrReplaceTempView("oj_right")
    spark.createDataFrame(UPPER, "N int, L string").createOrReplaceTempView("uppercasedata")
    spark.createDataFrame(LOWER, "n int, l string").createOrReplaceTempView("lowercasedata")
    spark.createDataFrame(
        [(None,)] * 4, "a int"
    ).createOrReplaceTempView("allnulls")
    spark.createDataFrame(SMALL3, "a int, b bigint, c string").createOrReplaceTempView(
        "SmallTable3"
    )
    spark.createDataFrame(
        TUPLE5, "d int, e bigint, f int, g string, h bigint"
    ).createOrReplaceTempView("Table5")


def rows(spark, sql):
    def key(t):
        return tuple((v is None, str(v)) for v in t)

    return sorted((tuple(r) for r in spark.sql(sql).collect()), key=key)


def _ab(rowlist):
    def key(t):
        return tuple((v is None, str(v)) for v in t)

    return sorted((tuple(r) for r in rowlist), key=key)


def test_left_outer_with_non_equi_residual(spark):
    got = rows(spark, "SELECT * FROM oj_left LEFT JOIN oj_right ON a = c and b < d")
    assert got == _ab(
        [
            (None, None, None, None),
            (1, 2.0, None, None),
            (2, 100.0, None, None),
            (2, 1.0, 2, 3.0),
            (2, 1.0, 2, 3.0),
            (2, 1.0, 2, 3.0),
            (2, 1.0, 2, 3.0),
            (3, 3.0, None, None),
            (5, 1.0, 5, 3.0),
            (6, 6.0, None, None),
        ]
    )


def test_right_outer_with_non_equi_residual(spark):
    got = rows(spark, "SELECT * FROM oj_left RIGHT JOIN oj_right ON a = c and b < d")
    assert got == _ab(
        [
            (None, None, None, None),
            (None, None, 0, 0.0),
            (2, 1.0, 2, 3.0),
            (2, 1.0, 2, 3.0),
            (None, None, 2, -1.0),
            (None, None, 2, -1.0),
            (2, 1.0, 2, 3.0),
            (2, 1.0, 2, 3.0),
            (None, None, 3, 2.0),
            (None, None, 4, 1.0),
            (5, 1.0, 5, 3.0),
            (None, None, 7, 7.0),
        ]
    )


def test_full_outer_with_non_equi_residual(spark):
    got = rows(spark, "SELECT * FROM oj_left FULL JOIN oj_right ON a = c and b < d")
    assert got == _ab(
        [
            (1, 2.0, None, None),
            (None, None, 2, -1.0),
            (None, None, 2, -1.0),
            (2, 100.0, None, None),
            (2, 1.0, 2, 3.0),
            (2, 1.0, 2, 3.0),
            (2, 1.0, 2, 3.0),
            (2, 1.0, 2, 3.0),
            (3, 3.0, None, None),
            (5, 1.0, 5, 3.0),
            (6, 6.0, None, None),
            (None, None, 0, 0.0),
            (None, None, 3, 2.0),
            (None, None, 4, 1.0),
            (None, None, 7, 7.0),
            (None, None, None, None),
            (None, None, None, None),
        ]
    )


@pytest.mark.parametrize("jt", ["LEFT", "RIGHT", "FULL"])
def test_empty_outer(spark, jt):
    got = rows(
        spark,
        f"SELECT * FROM (SELECT * FROM oj_left WHERE FALSE) "
        f"{jt} JOIN (SELECT * FROM oj_right WHERE FALSE) ON a = c and b < d",
    )
    assert got == []


def test_left_upper_and_lower(spark):
    got = rows(
        spark, "SELECT * FROM uppercasedata u LEFT JOIN lowercasedata l ON l.n = u.N"
    )
    assert got == _ab(
        [(1, "A", 1, "a"), (2, "B", 2, "b"), (3, "C", 3, "c"), (4, "D", 4, "d"),
         (5, "E", None, None), (6, "F", None, None)]
    )
    # the one-sided ON filters pad the same rows whichever side they
    # reference
    for cond in ["l.n > 1", "u.N > 1"]:
        got = rows(
            spark,
            f"SELECT * FROM uppercasedata u LEFT JOIN lowercasedata l "
            f"ON l.n = u.N AND {cond}",
        )
        assert got == _ab(
            [(1, "A", None, None), (2, "B", 2, "b"), (3, "C", 3, "c"),
             (4, "D", 4, "d"), (5, "E", None, None), (6, "F", None, None)]
        ), cond
    got = rows(
        spark,
        "SELECT * FROM uppercasedata u LEFT JOIN lowercasedata l "
        "ON l.n = u.N AND l.l > u.L",
    )
    assert got == _ab(
        [(1, "A", 1, "a"), (2, "B", 2, "b"), (3, "C", 3, "c"), (4, "D", 4, "d"),
         (5, "E", None, None), (6, "F", None, None)]
    )


def test_left_outer_allnulls_with_agg(spark):
    got = rows(
        spark,
        "SELECT l.N, count(*) FROM uppercasedata l LEFT JOIN allnulls r "
        "ON (l.N = r.a) GROUP BY l.N",
    )
    assert got == _ab([(i, 1) for i in range(1, 7)])
    got = rows(
        spark,
        "SELECT r.a, count(*) FROM uppercasedata l LEFT OUTER JOIN allnulls r "
        "ON (l.N = r.a) GROUP BY r.a",
    )
    assert got == [(None, 6)]


def test_right_upper_and_lower(spark):
    got = rows(
        spark, "SELECT * FROM lowercasedata l RIGHT JOIN uppercasedata u ON l.n = u.N"
    )
    assert got == _ab(
        [(1, "a", 1, "A"), (2, "b", 2, "B"), (3, "c", 3, "C"), (4, "d", 4, "D"),
         (None, None, 5, "E"), (None, None, 6, "F")]
    )
    for cond in ["l.n > 1", "u.N > 1"]:
        got = rows(
            spark,
            f"SELECT * FROM lowercasedata l RIGHT JOIN uppercasedata u "
            f"ON l.n = u.N AND {cond}",
        )
        assert got == _ab(
            [(None, None, 1, "A"), (2, "b", 2, "B"), (3, "c", 3, "C"),
             (4, "d", 4, "D"), (None, None, 5, "E"), (None, None, 6, "F")]
        ), cond


def test_right_outer_allnulls_with_agg(spark):
    got = rows(
        spark,
        "SELECT l.a, count(*) FROM allnulls l RIGHT OUTER JOIN uppercasedata r "
        "ON (l.a = r.N) GROUP BY l.a",
    )
    assert got == [(None, 6)]
    got = rows(
        spark,
        "SELECT r.N, count(*) FROM allnulls l RIGHT OUTER JOIN uppercasedata r "
        "ON (l.a = r.N) GROUP BY r.N",
    )
    assert got == _ab([(i, 1) for i in range(1, 7)])


def test_full_upper_with_neq_residual(spark):
    spark.createDataFrame(
        [r for r in UPPER if r[0] <= 4], "N int, L string"
    ).createOrReplaceTempView("leftUpper")
    spark.createDataFrame(
        [r for r in UPPER if r[0] >= 3], "N int, L string"
    ).createOrReplaceTempView("rightUpper")
    got = rows(
        spark,
        "SELECT * FROM leftUpper FULL JOIN rightUpper ON leftUpper.N = rightUpper.N",
    )
    assert got == _ab(
        [(1, "A", None, None), (2, "B", None, None), (3, "C", 3, "C"),
         (4, "D", 4, "D"), (None, None, 5, "E"), (None, None, 6, "F")]
    )
    # a <> residual on EITHER side splits the matched row into two
    # padded halves
    for cond in ["leftUpper.N <> 3", "rightUpper.N <> 3"]:
        got = rows(
            spark,
            f"SELECT * FROM leftUpper FULL JOIN rightUpper "
            f"ON leftUpper.N = rightUpper.N AND {cond}",
        )
        assert got == _ab(
            [(1, "A", None, None), (2, "B", None, None), (3, "C", None, None),
             (None, None, 3, "C"), (4, "D", 4, "D"), (None, None, 5, "E"),
             (None, None, 6, "F")]
        ), cond


def test_full_outer_allnulls_with_agg(spark):
    got = rows(
        spark,
        "SELECT l.a, count(*) FROM allnulls l FULL OUTER JOIN uppercasedata r "
        "ON (l.a = r.N) GROUP BY l.a",
    )
    assert got == [(None, 10)]
    got = rows(
        spark,
        "SELECT r.N, count(*) FROM allnulls l FULL OUTER JOIN uppercasedata r "
        "ON (l.a = r.N) GROUP BY r.N",
    )
    assert got == _ab([(i, 1) for i in range(1, 7)] + [(None, 4)])


# ---------------------------------------------------------------------------
# JoinWithoutKeyITCase: single-row-input joins
# ---------------------------------------------------------------------------

_T5_D = [t[0] for t in TUPLE5]  # 1,2,2,3,3,3,4x4,5x5


def test_cross_join_with_single_row_input(spark):
    got = rows(
        spark, "SELECT * FROM (SELECT count(*) FROM SmallTable3) CROSS JOIN SmallTable3"
    )
    assert got == _ab([(3, 1, 1, "Hi"), (3, 2, 2, "Hello"), (3, 3, 2, "Hello world")])
    got = rows(
        spark, "SELECT * FROM SmallTable3 CROSS JOIN (SELECT count(*) FROM SmallTable3)"
    )
    assert got == _ab([(1, 1, "Hi", 3), (2, 2, "Hello", 3), (3, 2, "Hello world", 3)])
    got = rows(
        spark,
        "SELECT * FROM SmallTable3 CROSS JOIN "
        "(SELECT count(*) FROM SmallTable3 HAVING count(*) < 0)",
    )
    assert got == []


def test_single_row_right_join_equal_predicate(spark):
    got = rows(
        spark,
        "SELECT d, cnt FROM (SELECT COUNT(*) AS cnt FROM SmallTable3) "
        "RIGHT JOIN Table5 ON cnt = d",
    )
    assert got == _ab([(d, 3 if d == 3 else None) for d in _T5_D])


def test_single_row_right_join_not_equal_predicate(spark):
    got = rows(
        spark,
        "SELECT d, cnt FROM (SELECT COUNT(*) AS cnt FROM SmallTable3) "
        "RIGHT JOIN Table5 ON cnt > d",
    )
    assert got == _ab([(d, 3 if d < 3 else None) for d in _T5_D])


def test_null_single_row_right_join(spark):
    got = rows(
        spark,
        "SELECT d, cnt FROM (SELECT cnt FROM "
        "(SELECT COUNT(*) AS cnt FROM SmallTable3) WHERE cnt < 0) "
        "RIGHT JOIN Table5 ON d < cnt",
    )
    assert got == _ab([(d, None) for d in _T5_D])


def test_single_row_left_join_variants(spark):
    got = rows(
        spark,
        "SELECT d, cnt FROM Table5 LEFT JOIN "
        "(SELECT COUNT(*) AS cnt FROM SmallTable3) ON cnt = d",
    )
    assert got == _ab([(d, 3 if d == 3 else None) for d in _T5_D])
    got = rows(
        spark,
        "SELECT d, cnt FROM Table5 LEFT JOIN "
        "(SELECT COUNT(*) AS cnt FROM SmallTable3) ON cnt < d",
    )
    assert got == _ab([(d, 3 if d > 3 else None) for d in _T5_D])
    got = rows(
        spark,
        "SELECT d, cnt, cnt2 FROM Table5 LEFT JOIN "
        "(SELECT COUNT(*) AS cnt, COUNT(*) AS cnt2 FROM SmallTable3) AS x ON d = cnt",
    )
    assert got == _ab(
        [(d, 3 if d == 3 else None, 3 if d == 3 else None) for d in _T5_D]
    )
    got = rows(
        spark,
        "SELECT a, cnt FROM SmallTable3 LEFT JOIN (SELECT cnt FROM "
        "(SELECT COUNT(*) AS cnt FROM Table5) WHERE cnt < 0) ON cnt > a",
    )
    assert got == _ab([(1, None), (2, None), (3, None)])
