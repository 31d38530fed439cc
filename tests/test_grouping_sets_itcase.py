"""Batch GroupingSetsITCase conformance, ported from
flink-table-planner/src/test/scala/.../runtime/batch/sql/agg/
GroupingSetsITCase.scala — GROUPING SETS / CUBE / ROLLUP semantics:
set expansion (incl. sets over expressions and boolean/nullable
columns), the NULL-as-placeholder vs NULL-as-data distinction,
GROUPING() / GROUPING_ID() bit conventions, rollup composition
(cartesian GROUP BY ROLLUP(a), ROLLUP(b)), HAVING over grouping
functions, and cube x join x distinct compositions.

Dialect note: Flink's n-ary GROUPING_ID(c1, c2, ...) accepts arbitrary
argument order and duplicates; Spark's is stricter, so those calls are
expressed as the equivalent bit arithmetic over GROUPING(c) — the
EXPECTED BIT VALUES are the reference's own, so the semantic claim
(which set produced each row) is still pinned. Flink's GROUP_ID()
(duplicate-set disambiguator) has no Spark equivalent and every ported
query has distinct sets, where the reference pins it to 0 — asserted
via a literal.

Fixtures: emps/emp/dept/scott_emp (GroupingSetsITCase.scala:40-115,
Apache-2.0). Execution: native Spark SQL (SURVEY.md section 2.2
row 15, Expand)."""

from __future__ import annotations

import datetime as dt

import pytest

EMPS = [
    (100, "Fred", 10, None, None, 40, 25, True, False, dt.date(1996, 8, 3)),
    (110, "Eric", 20, "M", "San Francisco", 3, 80, None, False, dt.date(2001, 1, 1)),
    (110, "John", 40, "M", "Vancouver", 2, None, False, True, dt.date(2002, 5, 3)),
    (120, "Wilma", 20, "F", None, 1, 5, None, True, dt.date(2005, 9, 7)),
    (130, "Alice", 40, "F", "Vancouver", 2, None, False, True, dt.date(2007, 1, 1)),
]
EMP = [
    ("Adam", 50, "M"), ("Alice", 30, "F"), ("Bob", 10, "M"), ("Eric", 20, "M"),
    ("Eve", 50, "F"), ("Grace", 60, "F"), ("Jane", 10, "F"), ("Susan", 30, "F"),
    ("Wilma", None, "F"),
]
DEPT = [(10, "Sales"), (20, "Marketing"), (30, "Engineering"), (40, "Empty")]
SCOTT = [
    (7369, "SMITH", "CLERK", 7902, 800.00, None, 20),
    (7499, "ALLEN", "SALESMAN", 7698, 1600.00, 300.00, 30),
    (7521, "WARD", "SALESMAN", 7698, 1250.00, 500.00, 30),
    (7566, "JONES", "MANAGER", 7839, 2975.00, None, 20),
    (7654, "MARTIN", "SALESMAN", 7698, 1250.00, 1400.00, 30),
    (7698, "BLAKE", "MANAGER", 7839, 2850.00, None, 30),
    (7782, "CLARK", "MANAGER", 7839, 2450.00, None, 10),
    (7788, "SCOTT", "ANALYST", 7566, 3000.00, None, 20),
    (7839, "KING", "PRESIDENT", None, 5000.00, None, 10),
    (7844, "TURNER", "SALESMAN", 7698, 1500.00, 0.00, 30),
    (7876, "ADAMS", "CLERK", 7788, 1100.00, None, 20),
    (7900, "JAMES", "CLERK", 7698, 950.00, None, 30),
    (7902, "FORD", "ANALYST", 7566, 3000.00, None, 20),
    (7934, "MILLER", "CLERK", 7782, 1300.00, None, 10),
]


@pytest.fixture(autouse=True)
def _tables(spark):
    spark.createDataFrame(
        EMPS,
        "empno bigint, name string, deptno int, gender string, city string, "
        "empid bigint, age int, slacker boolean, manager boolean, joinedat date",
    ).createOrReplaceTempView("emps")
    spark.createDataFrame(EMP, "ename string, deptno int, gender string").createOrReplaceTempView("emp")
    spark.createDataFrame(DEPT, "deptno int, dname string").createOrReplaceTempView("dept")
    spark.createDataFrame(
        SCOTT,
        "empno int, ename string, job string, mgr int, sal double, "
        "comm double, deptno int",
    ).createOrReplaceTempView("scott_emp")


def rows(spark, sql):
    def key(t):
        return tuple((v is None, str(v)) for v in t)

    return sorted((tuple(r) for r in spark.sql(sql).collect()), key=key)


def _ab(rowlist):
    def key(t):
        return tuple((v is None, str(v)) for v in t)

    return sorted((tuple(r) for r in rowlist), key=key)


def test_grouping_sets_with_one_grouping(spark):
    got = rows(
        spark,
        "select deptno, avg(age) as a, 0 as g, grouping(deptno) as gb, "
        "grouping(deptno) as gib from emps group by grouping sets (deptno)",
    )
    assert got == _ab([(10, 25.0, 0, 0, 0), (20, 42.5, 0, 0, 0), (40, None, 0, 0, 0)])


def test_basic_grouping_sets(spark):
    got = rows(
        spark,
        "select deptno, count(*) as c from emps group by grouping sets ((), (deptno))",
    )
    assert got == _ab([(10, 1), (20, 2), (40, 2), (None, 5)])


def test_grouping_sets_on_expression(spark):
    got = rows(
        spark,
        "select deptno + 1, count(*) as c from emps "
        "group by grouping sets ((), (deptno + 1))",
    )
    assert got == _ab([(11, 1), (21, 2), (41, 2), (None, 5)])


def test_boolean_column_on_grouping_sets(spark):
    got = rows(
        spark,
        "select gender, city, manager, count(*) as cnt from emps "
        "group by grouping sets ((city), (gender, city, manager))",
    )
    assert got == _ab(
        [
            ("F", "Vancouver", True, 1),
            ("F", None, True, 1),
            ("M", "San Francisco", False, 1),
            ("M", "Vancouver", True, 1),
            (None, "San Francisco", None, 1),
            (None, "Vancouver", None, 2),
            (None, None, False, 1),
            (None, None, None, 2),
        ]
    )


def test_coalesce_on_grouping_sets(spark):
    got = rows(
        spark,
        "select gender, city, coalesce(deptno, -1) as deptno, count(*) as cnt "
        "from emps group by grouping sets ((gender, city), (gender, city, deptno))",
    )
    assert got == _ab(
        [
            ("F", "Vancouver", -1, 1),
            ("F", "Vancouver", 40, 1),
            ("F", None, -1, 1),
            ("F", None, 20, 1),
            ("M", "San Francisco", -1, 1),
            ("M", "San Francisco", 20, 1),
            ("M", "Vancouver", -1, 1),
            ("M", "Vancouver", 40, 1),
            (None, None, -1, 1),
            (None, None, 10, 1),
        ]
    )


def test_cube(spark):
    got = rows(
        spark, "select deptno + 1, count(*) as c from emp group by cube(deptno, gender)"
    )
    assert got == _ab(
        [(11, 1), (11, 1), (11, 2), (21, 1), (21, 1), (31, 2), (31, 2),
         (51, 1), (51, 1), (51, 2), (61, 1), (61, 1),
         (None, 1), (None, 1), (None, 3), (None, 6), (None, 9)]
    )


def test_rollup_on_1_column(spark):
    got = rows(spark, "select deptno + 1, count(*) as c from emp group by rollup(deptno)")
    assert got == _ab(
        [(11, 2), (21, 1), (31, 2), (51, 2), (61, 1), (None, 1), (None, 9)]
    )


def test_rollup_on_2_columns(spark):
    got = rows(
        spark,
        "select gender, deptno + 1, count(*) as c from emp group by rollup(deptno, gender)",
    )
    assert got == _ab(
        [
            ("M", 21, 1), ("F", 11, 1), ("F", 31, 2), ("F", 51, 1), ("F", 61, 1),
            ("F", None, 1), ("M", 11, 1), ("M", 51, 1),
            (None, 11, 2), (None, 21, 1), (None, 31, 2), (None, 51, 2),
            (None, 61, 1), (None, None, 1), (None, None, 9),
        ]
    )


def test_rollup_on_column_with_nulls(spark):
    # two NULL-key rows: one is the Wilma data NULL... gender is never
    # null here, so the single NULL row is the ALL total
    got = rows(spark, "select gender, count(*) as c from emp group by rollup(gender)")
    assert got == _ab([("F", 6), ("M", 3), (None, 9)])


def test_rollup_plus_order_by(spark):
    got = [
        tuple(r)
        for r in spark.sql(
            "select gender, count(*) as c from emp group by rollup(gender) "
            "order by c desc"
        ).collect()
    ]
    assert got == [(None, 9), ("F", 6), ("M", 3)]


def test_rollup_cartesian_product(spark):
    got = rows(
        spark,
        "select deptno, count(*) as c from emp group by rollup(deptno), rollup(gender)",
    )
    assert got == _ab(
        [
            (10, 1), (10, 1), (20, 1), (20, 1), (None, 1), (10, 2), (30, 2),
            (30, 2), (50, 1), (50, 1), (50, 2), (60, 1), (60, 1),
            (None, 1), (None, 3), (None, 6), (None, 9),
        ]
    )


def test_rollup_with_having(spark):
    got = rows(
        spark,
        "select deptno + 1 as d1, count(*) as c from emp "
        "group by rollup(deptno) having count(*) > 3",
    )
    assert got == [(None, 9)]


def test_cube_and_distinct(spark):
    got = rows(spark, "select distinct count(*) from emp group by cube(deptno, gender)")
    assert got == _ab([(1,), (2,), (3,), (6,), (9,)])


def test_cube_and_join(spark):
    got = rows(
        spark,
        "select e.deptno, e.gender, min(e.ename) as min_name "
        "from emp as e join dept as d using (deptno) "
        "group by cube(e.deptno, d.deptno, e.gender) "
        "having count(*) > 2 or gender = 'M' and e.deptno = 10",
    )
    assert got == _ab(
        [(10, "M", "Bob"), (10, "M", "Bob"), (None, "F", "Alice"), (None, None, "Alice")]
    )


def test_grouping_in_select_of_group_by_query(spark):
    # Flink/Calcite allow GROUPING() under a plain GROUP BY (constant
    # 0); Spark requires grouping analytics — the single-set
    # GROUPING SETS ((deptno)) is the identical query in both dialects
    got = rows(
        spark,
        "select count(*) as c, grouping(deptno) as g from emp "
        "group by grouping sets ((deptno))",
    )
    assert got == _ab([(1, 0), (1, 0), (1, 0), (2, 0), (2, 0), (2, 0)])


def test_grouping_in_select_of_cube_query(spark):
    # grouping(deptno, job) expressed as bit arithmetic (Flink's n-ary
    # GROUPING; same expected bit values)
    got = rows(
        spark,
        "select deptno, job, count(*) as c, grouping(deptno) as d, grouping(job) j, "
        "2 * grouping(deptno) + grouping(job) as x "
        "from scott_emp group by cube(deptno, job)",
    )
    assert got == _ab(
        [
            (10, "CLERK", 1, 0, 0, 0),
            (10, "MANAGER", 1, 0, 0, 0),
            (10, "PRESIDENT", 1, 0, 0, 0),
            (10, None, 3, 0, 1, 1),
            (20, "ANALYST", 2, 0, 0, 0),
            (20, "CLERK", 2, 0, 0, 0),
            (20, "MANAGER", 1, 0, 0, 0),
            (20, None, 5, 0, 1, 1),
            (30, "CLERK", 1, 0, 0, 0),
            (30, "MANAGER", 1, 0, 0, 0),
            (30, "SALESMAN", 4, 0, 0, 0),
            (30, None, 6, 0, 1, 1),
            (None, "ANALYST", 2, 1, 0, 2),
            (None, "CLERK", 4, 1, 0, 2),
            (None, "MANAGER", 3, 1, 0, 2),
            (None, "PRESIDENT", 1, 1, 0, 2),
            (None, "SALESMAN", 4, 1, 0, 2),
            (None, None, 14, 1, 1, 3),
        ]
    )


def test_grouping_id_bits_in_rollup_query(spark):
    # the reference's grouping_id(gender, deptno) / grouping_id(deptno,
    # gender) argument-order freedom, as explicit bit arithmetic
    got = rows(
        spark,
        "select count(*) as c, grouping(deptno) as g, 0 as gid, "
        "grouping(deptno) as gd, grouping(gender) as gg, "
        "2 * grouping(gender) + grouping(deptno) as ggd, "
        "2 * grouping(deptno) + grouping(gender) as gdg "
        "from emp group by rollup(deptno, gender)",
    )
    assert got == _ab(
        [
            (1, 0, 0, 0, 0, 0, 0),
            (1, 0, 0, 0, 0, 0, 0),
            (1, 0, 0, 0, 0, 0, 0),
            (1, 0, 0, 0, 0, 0, 0),
            (1, 0, 0, 0, 0, 0, 0),
            (1, 0, 0, 0, 0, 0, 0),
            (1, 0, 0, 0, 0, 0, 0),
            (2, 0, 0, 0, 0, 0, 0),
            (9, 1, 0, 1, 1, 3, 3),
            (1, 0, 0, 0, 1, 2, 1),
            (1, 0, 0, 0, 1, 2, 1),
            (1, 0, 0, 0, 1, 2, 1),
            (2, 0, 0, 0, 1, 2, 1),
            (2, 0, 0, 0, 1, 2, 1),
            (2, 0, 0, 0, 1, 2, 1),
        ]
    )


def test_grouping_in_order_by_clause(spark):
    # Spark resolves GROUPING() only inside the aggregate's select
    # list; ordering on it goes through a projection (Flink/Calcite
    # resolve it directly in ORDER BY) — same pinned order
    got = [
        tuple(r)
        for r in spark.sql(
            "select c from (select count(*) as c, grouping(deptno) as g "
            "from emp group by rollup(deptno)) order by g, c"
        ).collect()
    ]
    assert got == [(1,), (1,), (1,), (2,), (2,), (2,), (9,)]


def test_duplicate_argument_grouping_bits(spark):
    # grouping_id(deptno, gender, deptno) with a DUPLICATED argument —
    # bit arithmetic 4*g(deptno) + 2*g(gender) + g(deptno)
    got = rows(
        spark,
        "select deptno, gender, "
        "4 * grouping(deptno) + 2 * grouping(gender) + grouping(deptno) as gid, "
        "count(*) as c from emp where deptno = 10 group by rollup(gender, deptno)",
    )
    assert got == _ab(
        [
            (10, "F", 0, 1),
            (10, "M", 0, 1),
            (None, "F", 5, 1),
            (None, "M", 5, 1),
            (None, None, 7, 2),
        ]
    )


def test_grouping_in_select_of_rollup_query(spark):
    got = rows(
        spark,
        "select count(*) as c, deptno, grouping(deptno) as g from emp "
        "group by rollup(deptno)",
    )
    assert got == _ab(
        [(1, 20, 0), (1, 60, 0), (1, None, 0), (2, 10, 0), (2, 30, 0),
         (2, 50, 0), (9, None, 1)]
    )


def test_grouping_bits_cube_full_matrix(spark):
    got = rows(
        spark,
        "select deptno, gender, grouping(deptno) gd, grouping(gender) gg, "
        "2 * grouping(deptno) + grouping(gender) as dg, "
        "2 * grouping(gender) + grouping(deptno) as gd2, "
        "0 as gid, count(*) c from emp group by cube(deptno, gender)",
    )
    assert got == _ab(
        [
            (10, "F", 0, 0, 0, 0, 0, 1),
            (10, "M", 0, 0, 0, 0, 0, 1),
            (20, "M", 0, 0, 0, 0, 0, 1),
            (30, "F", 0, 0, 0, 0, 0, 2),
            (50, "F", 0, 0, 0, 0, 0, 1),
            (50, "M", 0, 0, 0, 0, 0, 1),
            (60, "F", 0, 0, 0, 0, 0, 1),
            (None, "F", 0, 0, 0, 0, 0, 1),
            (None, None, 1, 1, 3, 3, 0, 9),
            (10, None, 0, 1, 1, 2, 0, 2),
            (20, None, 0, 1, 1, 2, 0, 1),
            (30, None, 0, 1, 1, 2, 0, 2),
            (50, None, 0, 1, 1, 2, 0, 2),
            (60, None, 0, 1, 1, 2, 0, 1),
            (None, "F", 1, 0, 2, 1, 0, 6),
            (None, "M", 1, 0, 2, 1, 0, 3),
            (None, None, 0, 1, 1, 2, 0, 1),
        ]
    )
