"""Stream CalcITCase conformance (subset), ported from
flink-table-planner/src/test/scala/.../runtime/stream/sql/
CalcITCase.scala — the Calc (fused project/filter) expression cases
with cross-engine value semantics: IN / NOT IN literal lists (the
SEARCH operator), a padded-string IN list (no implicit trim), nested
ROW field projection, DECIMAL array/map literals unified to a common
scale, the COALESCE type-unification matrix, and boolean casts in
conditions. Expected rows are the ITCase's own (Apache-2.0);
execution is native Spark SQL (SURVEY.md section 2.2 row 14)."""

from __future__ import annotations

from decimal import Decimal

import pytest

C3 = [
    "Hi", "Hello", "Hello world", "Hello world, how are you?",
    "I am fine.", "Luke Skywalker",
] + [f"Comment#{i}" for i in range(1, 16)]
B3 = [1, 2, 2, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 5, 6, 6, 6, 6, 6, 6]
DATA3 = [(i + 1, B3[i], C3[i]) for i in range(21)]


@pytest.fixture(autouse=True)
def _tables(spark):
    spark.createDataFrame(DATA3, "a int, b bigint, c string").createOrReplaceTempView(
        "calc_t3"
    )


def rows(spark, sql):
    def key(t):
        return tuple((v is None, str(v)) for v in t)

    return sorted((tuple(r) for r in spark.sql(sql).collect()), key=key)


def test_in(spark):
    got = rows(spark, "SELECT * FROM calc_t3 WHERE b in (1,3,4,5,6)")
    assert got == sorted(
        [r for r in DATA3 if r[1] in (1, 3, 4, 5, 6)], key=lambda t: str(t)
    )
    assert len(got) == 19


def test_not_in(spark):
    got = rows(spark, "SELECT * FROM calc_t3 WHERE b not in (1,3,4,5,6)")
    assert got == sorted([(2, 2, "Hello"), (3, 2, "Hello world")])


def test_search_padded_string_in_list(spark):
    # 'H389N     ' must match exactly (no trim inside IN / SEARCH)
    spark.createDataFrame(
        [("HC809",), ("H389N     ",)], "f0 string"
    ).createOrReplaceTempView("calc_simple")
    got = rows(
        spark,
        "SELECT upper(f0) FROM calc_simple WHERE upper(f0) in ("
        "'CTNBSmokeSensor','H388N','H389N     ','GHL-IRD','JY-BF-20YN',"
        "'HC809','DH-9908N-AEP','DH-9908N')",
    )
    assert got == sorted([("HC809",), ("H389N     ",)])


def test_nested_project(spark):
    spark.createDataFrame(
        [
            (1, ((("HI", 11)), ((111, True))), ("hi", 1111), "tom"),
            (2, ((("HELLO", 22)), ((222, False))), ("hello", 2222), "mary"),
            (3, ((("HELLO WORLD", 33)), ((333, True))), ("hello world", 3333), "benji"),
        ],
        "id int, "
        "deepNested struct<nested1:struct<name:string,value:int>,"
        "nested2:struct<num:int,flag:boolean>>, "
        "nested struct<name:string,value:int>, name string",
    ).createOrReplaceTempView("calc_nested")
    got = rows(
        spark,
        "select id, deepNested.nested1.name AS nestedName, "
        "nested.value AS nestedValue, deepNested.nested2.flag AS nestedFlag, "
        "deepNested.nested2.num AS nestedNum from calc_nested",
    )
    assert got == sorted(
        [
            (1, "HI", 1111, True, 111),
            (2, "HELLO", 2222, False, 222),
            (3, "HELLO WORLD", 3333, True, 333),
        ],
        key=lambda t: str(t),
    )


def test_decimal_array_with_different_precision(spark):
    # literals 0.12 / 0.5 / 0.99 unify to DECIMAL(3,2): 0.50
    got = spark.sql("SELECT ARRAY(0.12, 0.5, 0.99) AS a").collect()[0]["a"]
    assert got == [Decimal("0.12"), Decimal("0.50"), Decimal("0.99")]


def test_decimal_map_with_different_precision(spark):
    got = spark.sql("SELECT MAP('a', 0.12, 'b', 0.5) AS m").collect()[0]["m"]
    assert got == {"a": Decimal("0.12"), "b": Decimal("0.50")}


def test_multiple_coalesces(spark):
    r = spark.sql(
        "SELECT COALESCE(1) c1, COALESCE(1, 2) c2, "
        "COALESCE(cast(NULL as int), 2) c3, COALESCE(1, cast(NULL as int)) c4, "
        "COALESCE(cast(NULL as int), cast(NULL as int), 3) c5, "
        "COALESCE(4, cast(NULL as int), cast(NULL as int), cast(NULL as int)) c6, "
        "COALESCE('1') c7, COALESCE('1', '23') c8, "
        "COALESCE(cast(NULL as string), '2') c9, "
        "COALESCE('1', cast(NULL as string)) c10, "
        "COALESCE(cast(NULL as string), cast(NULL as string), '3') c11, "
        "COALESCE('4', cast(NULL as string), cast(NULL as string), "
        "cast(NULL as string)) c12, "
        "COALESCE(1.0) c13, COALESCE(1.0, 2) c14, "
        "COALESCE(cast(NULL as double), 2.0) c15, "
        "COALESCE(cast(NULL as double), 2.0, 3.0) c16, "
        "COALESCE(2.0, cast(NULL as double), 3.0) c17, "
        "COALESCE(cast(NULL as double), cast(NULL as double)) c18"
    ).collect()[0]
    assert (r["c1"], r["c2"], r["c3"], r["c4"], r["c5"], r["c6"]) == (1, 1, 2, 1, 3, 4)
    assert (r["c7"], r["c8"], r["c9"], r["c10"], r["c11"], r["c12"]) == (
        "1", "1", "2", "1", "3", "4",
    )
    assert (float(r["c13"]), float(r["c14"]), float(r["c15"])) == (1.0, 1.0, 2.0)
    assert (float(r["c16"]), float(r["c17"])) == (2.0, 2.0)
    assert r["c18"] is None


def test_cast_numeric_to_boolean_in_condition(spark):
    # CAST(1 AS BOOLEAN) = true; nonzero -> true (Flink legacy cast)
    got = rows(
        spark,
        "SELECT a FROM calc_t3 WHERE CAST(1 AS BOOLEAN) AND a < 3",
    )
    assert got == sorted([(1,), (2,)])
