"""DecimalITCase (batch SQL) conformance, ported from
flink-table-planner/src/test/scala/.../runtime/batch/sql/
DecimalITCase.scala — DECIMAL(p,s) behavior: approximate functions,
aggregate result types, overflow, mixed-precision / cross-type joins,
group-by equality across scales, ordering, and NULL propagation.

Engine-mapping notes (each pinned below where it applies):
- Flink's aggregate RESULT TYPES widen to p=38 (SUM(p,s)->(38,s),
  AVG->(38, max(s,6))); Spark/Catalyst widens to bounded growth
  (SUM->(min(38,p+10),s), AVG->(p+4,s+4)). VALUES agree exactly on the
  common grid; the declared type differs and both are pinned.
- SUM overflow: Flink emits NULL (DecimalData.add saturates to null);
  Spark under ANSI mode (this engine's default) RAISES
  ARITHMETIC_OVERFLOW. Pinned as the documented divergence.
- Decimal equality ignores trailing scale (1 == 1.0 == 1.00) in both
  engines: group-by and joins across different scales/precisions and
  against INT/DOUBLE agree.

Expected values are the ITCase's own (Apache-2.0); execution is plain
Spark SQL through the engine's session (batch aggs are native
Catalyst, SURVEY.md section 2.4 row 29)."""

from __future__ import annotations

import math
from decimal import Decimal

import pytest


def _t1(spark, ddl, rows):
    df = spark.createDataFrame(rows, ddl)
    df.createOrReplaceTempView("dec_t1")
    return df


def test_approximate_functions(spark):
    # Decimal treated as double by log/power/trig families
    _t1(spark, "f0 decimal(10,2)", [(Decimal("3.14"),)])
    r = spark.sql(
        "select log10(f0) a, ln(f0) b, log2(f0) c, sqrt(f0) d, exp(f0) e "
        "from dec_t1"
    ).collect()[0]
    assert r["a"] == pytest.approx(math.log10(3.14))
    assert r["b"] == pytest.approx(math.log(3.14))
    assert r["c"] == pytest.approx(math.log(3.14) / math.log(2.0))
    assert r["d"] == pytest.approx(math.sqrt(3.14))
    assert r["e"] == pytest.approx(math.exp(3.14))

    _t1(spark, "f0 decimal(10,2)", [(Decimal("0.12"),)])
    r = spark.sql(
        "select sin(f0) a, cos(f0) b, tan(f0) c, asin(f0) d, acos(f0) e, "
        "atan(f0) f, degrees(f0) g, radians(f0) h from dec_t1"
    ).collect()[0]
    for col, want in [
        ("a", math.sin(0.12)),
        ("b", math.cos(0.12)),
        ("c", math.tan(0.12)),
        ("d", math.asin(0.12)),
        ("e", math.acos(0.12)),
        ("f", math.atan(0.12)),
        ("g", math.degrees(0.12)),
        ("h", math.radians(0.12)),
    ]:
        assert r[col] == pytest.approx(want)


def test_agg_sum_type_and_value(spark):
    # Flink: SUM(Decimal(6,3)) -> Decimal(38,3); Spark: Decimal(16,3)
    # (p+10 growth) — same value 100.000, pinned declared types
    _t1(spark, "f0 decimal(6,3)", [(Decimal("1.000"),)] * 100)
    out = spark.sql("select sum(f0) s from dec_t1")
    assert out.schema["s"].dataType.simpleString() == "decimal(16,3)"
    assert out.collect()[0]["s"] == Decimal("100.000")


def test_agg_sum_overflow_is_ansi_error(spark):
    # 100 x 1e36 overflows DECIMAL(38,0): Flink saturates to NULL, this
    # engine runs Spark ANSI mode -> ARITHMETIC_OVERFLOW raises.
    # Documented divergence (strict beats silent at 100 TB).
    _t1(spark, "f0 decimal(37,0)", [(Decimal(10) ** 36,)] * 100)
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    out = spark.sql("select sum(f0) s from dec_t1")
    if ansi == "true":
        with pytest.raises(
            Exception, match="(?i)overflow|out of range|out_of_range"
        ):
            out.collect()
    else:
        assert out.collect()[0]["s"] is None


def test_agg_avg_type_and_value(spark):
    # Flink: AVG(Decimal(p,s)) -> Decimal(38, max(s,6)); Spark:
    # Decimal(p+4, s+4). Values agree on the common grid.
    _t1(
        spark,
        "f0 decimal(6,3), f1 decimal(20,10)",
        [(Decimal("100.000"), Decimal(1).scaleb(0).quantize(Decimal("1.0000000000")))] * 100,
    )
    out = spark.sql("select avg(f0) a, avg(f1) b from dec_t1")
    assert out.schema["a"].dataType.simpleString() == "decimal(10,7)"
    assert out.schema["b"].dataType.simpleString() == "decimal(24,14)"
    row = out.collect()[0]
    assert row["a"] == Decimal("100")
    assert row["b"] == Decimal("1")


def test_agg_min_max_count(spark):
    # MIN/MAX(T) -> T exactly (both engines)
    _t1(spark, "f0 decimal(6,3)", [(Decimal(i),) for i in range(10, 91)])
    out = spark.sql("select min(f0) mn, max(f0) mx, count(f0) n from dec_t1")
    assert out.schema["mn"].dataType.simpleString() == "decimal(6,3)"
    assert out.schema["mx"].dataType.simpleString() == "decimal(6,3)"
    r = out.collect()[0]
    assert (r["mn"], r["mx"], r["n"]) == (Decimal("10.000"), Decimal("90.000"), 81)


@pytest.mark.parametrize(
    "cond",
    [
        "A.f0 = B.f0",  # same type
        "A.f0 = B.f1",  # decimal(8,2) vs decimal(8,4)
        "A.f1 = B.f0",
        "A.f0 = B.f2",  # decimal vs INT
        "A.f2 = B.f0",
        "A.f0 = B.f3",  # decimal vs DOUBLE
        "A.f3 = B.f0",
    ],
)
def test_join_mixed_precision_and_types(spark, cond):
    # testJoin1-7: sort-merge equi-join across decimal precisions and
    # against int/double — 1 == 1.0000 == 1 == 1.0 everywhere
    _t1(
        spark,
        "f0 decimal(8,2), f1 decimal(8,4), f2 int, f3 double",
        [(Decimal("1"), Decimal("1"), 1, 1.0)],
    )
    n = spark.sql(
        f"select count(*) n from dec_t1 A, dec_t1 B where {cond}"
    ).collect()[0]["n"]
    assert n == 1


def test_group_by_scale_insensitive(spark):
    # d"1" and d"1.0" land in the same DECIMAL(8,2) group
    _t1(
        spark,
        "f0 decimal(8,2)",
        [(Decimal("1"),), (Decimal("3"),), (Decimal("1.0"),), (Decimal("2"),)],
    )
    got = sorted(
        r["n"] for r in spark.sql(
            "select count(*) n from dec_t1 group by f0"
        ).collect()
    )
    assert got == [1, 1, 2]


def test_order_by(spark):
    _t1(
        spark,
        "f0 decimal(8,2)",
        [(Decimal("1"),), (Decimal("3"),), (Decimal("1.0"),), (Decimal("2"),)],
    )
    got = [r["f0"] for r in spark.sql("select f0 from dec_t1 order by f0").collect()]
    assert got == [Decimal("1.00"), Decimal("1.00"), Decimal("2.00"), Decimal("3.00")]


def test_simple_null_distinct_union(spark):
    _t1(
        spark,
        "f0 decimal(6,3), f1 decimal(6,3), f2 decimal(20,10)",
        [(Decimal("100.000"), None, None)],
    )
    got = spark.sql(
        "select distinct f0, f1, f2 from "
        "(select f0, f1, f2 from dec_t1 union all select * from dec_t1) "
        "order by f0"
    ).collect()
    assert [(r["f0"], r["f1"], r["f2"]) for r in got] == [
        (Decimal("100.000"), None, None)
    ]


def test_agg_avg_group_by_with_nulls(spark):
    _t1(
        spark,
        "f0 decimal(6,3), f1 decimal(6,3), f2 decimal(20,10)",
        [(Decimal("100.000"), None, None)] * 100,
    )
    r = spark.sql(
        "select f0, avg(f1) a, avg(f2) b from dec_t1 group by f0"
    ).collect()
    assert [(x["f0"], x["a"], x["b"]) for x in r] == [(Decimal("100.000"), None, None)]


def test_agg_min_group_by(spark):
    _t1(
        spark,
        "f0 decimal(6,3), f1 decimal(6,3), f2 decimal(20,10)",
        [
            (Decimal("100.000"), Decimal(100 - i), Decimal(1).quantize(Decimal("1.0000000000")))
            for i in range(100)
        ],
    )
    r = spark.sql(
        "select f0, min(f1) a, min(f2) b from dec_t1 group by f0"
    ).collect()
    assert [(x["f0"], x["a"], x["b"]) for x in r] == [
        (Decimal("100.000"), Decimal("1.000"), Decimal("1.0000000000"))
    ]
