"""MatchRecognizeITCase conformance, ported from
flink-table-planner/src/test/scala/.../runtime/stream/sql/
MatchRecognizeITCase.scala — the SQL MATCH_RECOGNIZE surface
(StreamExecMatch over the CEP operator):

- simple A B C patterns and NULL-field predicates whose DEFINE
  navigates another variable (LAST(A.nullField) IS NULL — the NFA
  tier);
- logical offsets: LAST(DOWN.price, 1) in DEFINE, FIRST/LAST with
  offsets over the universal variable, offsets beyond the match
  producing NULL measures;
- PARTITION BY;
- aggregates in MEASURES/DEFINE incl. COUNT over an empty variable
  (0), SUM over an empty variable (NULL), COUNT(*) and unqualified
  COUNT(col) over the whole match, and NULL inputs skipped.

The reference orders on proctime (arrival order); the port carries an
explicit monotone ts column. Quoted/unicode variable names
(testSimplePattern's `A"`) are a parser spelling, ported with plain
identifiers. testAggregates' user-defined weightedAvg is not ported
(UDFs inside MATCH_RECOGNIZE measures are out of the translator's
scope). Fixtures and expected rows are the ITCase's own (Apache-2.0);
implementation: table_env._translate_match_recognize +
operators/cep.py."""

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


def _view(spark, name, data, ddl):
    spark.createDataFrame(data, ddl).createOrReplaceTempView(name)


def test_simple_pattern(tenv, spark):
    data = [(i, n) for i, n in enumerate(
        ["a", "z", "b", "c", "d", "a", "b", "c", "h"], start=1)]
    _view(spark, "mr_t1", [(i, n, i) for i, n in data], "id int, name string, ts bigint")
    got = rows(
        tenv.sql_query(
            """
            SELECT T.aid, T.bid, T.cid
            FROM mr_t1
            MATCH_RECOGNIZE (
              ORDER BY ts
              MEASURES A.id AS aid, B.id AS bid, C.id AS cid
              PATTERN (A B C)
              DEFINE A AS name = 'a', B AS name = 'b', C AS name = 'c'
            ) AS T
            """
        )
    )
    assert got == [(6, 7, 8)]


def test_simple_pattern_with_nulls(tenv, spark):
    data = [
        (1, "a", None), (2, "b", None), (3, "c", None), (4, "d", None),
        (5, None, None), (6, "a", None), (7, "b", None), (8, "c", None),
        (9, None, None),
    ]
    _view(
        spark, "mr_t2",
        [(i, n, f, i) for i, n, f in data],
        "id int, name string, nullField string, ts bigint",
    )
    got = rows(
        tenv.sql_query(
            """
            SELECT T.aid, T.bNull, T.cid, T.aNull
            FROM mr_t2
            MATCH_RECOGNIZE (
              ORDER BY ts
              MEASURES
                A.id AS aid,
                A.nullField AS aNull,
                LAST(B.nullField) AS bNull,
                C.id AS cid
              PATTERN (A B C)
              DEFINE
                A AS name = 'a' AND nullField IS NULL,
                B AS name = 'b' AND LAST(A.nullField) IS NULL,
                C AS name = 'c'
            ) AS T
            """
        )
    )
    assert got == [(1, None, 3, None), (6, None, 8, None)]


TICKER8 = [
    ("ACME", 1, 19, 1), ("ACME", 2, 17, 2), ("ACME", 3, 13, 3),
    ("ACME", 4, 20, 4), ("ACME", 5, 20, 5), ("ACME", 6, 26, 6),
    ("ACME", 7, 20, 7), ("ACME", 8, 25, 8),
]


def test_logical_offsets(tenv, spark):
    _view(spark, "mr_ticker", TICKER8, "symbol string, tstamp bigint, price int, tax int")
    got = rows(
        tenv.sql_query(
            """
            SELECT *
            FROM mr_ticker
            MATCH_RECOGNIZE (
              ORDER BY tstamp
              MEASURES
                FIRST(DOWN.tstamp) AS start_tstamp,
                LAST(DOWN.tstamp) AS bottom_tstamp,
                UP.tstamp AS end_tstamp,
                FIRST(DOWN.price + DOWN.tax + 1) AS bottom_total,
                UP.price + UP.tax AS end_total
              ONE ROW PER MATCH
              AFTER MATCH SKIP PAST LAST ROW
              PATTERN (DOWN{2,} UP)
              DEFINE
                DOWN AS price < LAST(DOWN.price, 1) OR LAST(DOWN.price, 1) IS NULL,
                UP AS price < FIRST(DOWN.price)
            ) AS T
            """
        )
    )
    assert got == [(6, 7, 8, 33, 33)]


def test_logical_offsets_with_star_variable(tenv, spark):
    data = [
        (1, "ACME", 1, 20), (2, "ACME", 2, 19), (3, "ACME", 3, 18),
        (4, "ACME", 4, 17), (5, "ACME", 5, 16), (6, "ACME", 6, 15),
        (7, "ACME", 7, 14), (8, "ACME", 8, 20),
    ]
    _view(spark, "mr_star", data, "id int, symbol string, tstamp bigint, price int")
    measures = ",\n".join(
        [f"FIRST(id, {k}) as f{k}" for k in range(8)]
        + [f"LAST(id, {k}) as l{k}" for k in range(8)]
    )
    got = rows(
        tenv.sql_query(
            f"""
            SELECT *
            FROM mr_star
            MATCH_RECOGNIZE (
              ORDER BY tstamp
              MEASURES {measures}
              ONE ROW PER MATCH
              AFTER MATCH SKIP PAST LAST ROW
              PATTERN (DOWN{{2,}} UP)
              DEFINE
                DOWN AS price < LAST(price, 1) OR LAST(price, 1) IS NULL,
                UP AS price = FIRST(price) AND price > FIRST(price, 3)
                   AND price = LAST(price, 7)
            ) AS T
            """
        )
    )
    assert got == [(1, 2, 3, 4, 5, 6, 7, 8, 8, 7, 6, 5, 4, 3, 2, 1)]


def test_logical_offset_outside_range_in_measures(tenv, spark):
    _view(
        spark, "mr_short",
        [("ACME", 1, 19, 1), ("ACME", 2, 17, 2), ("ACME", 3, 13, 3), ("ACME", 4, 20, 4)],
        "symbol string, tstamp bigint, price int, tax int",
    )
    got = rows(
        tenv.sql_query(
            """
            SELECT *
            FROM mr_short
            MATCH_RECOGNIZE (
              ORDER BY tstamp
              MEASURES
                FIRST(DOWN.price) as firstp,
                LAST(DOWN.price) as lastp,
                FIRST(DOWN.price, 5) as nullPrice
              ONE ROW PER MATCH
              AFTER MATCH SKIP PAST LAST ROW
              PATTERN (DOWN{2,} UP)
              DEFINE
                DOWN AS price < LAST(DOWN.price, 1) OR LAST(DOWN.price, 1) IS NULL,
                UP AS price > LAST(DOWN.price)
            ) AS T
            """
        )
    )
    assert got == [(19, 13, None)]


def test_partition_by(tenv, spark):
    _view(
        spark, "mr_part",
        [("ACME", 1, 19, 1), ("ACME", 2, 17, 2), ("ACME", 3, 13, 3), ("ACME", 4, 20, 4)],
        "symbol string, tstamp bigint, price int, tax int",
    )
    got = rows(
        tenv.sql_query(
            """
            SELECT *
            FROM mr_part
            MATCH_RECOGNIZE (
              PARTITION BY symbol
              ORDER BY tstamp
              MEASURES DOWN.tax AS bottom_tax, UP.tax AS end_tax
              ONE ROW PER MATCH
              AFTER MATCH SKIP PAST LAST ROW
              PATTERN (DOWN UP)
              DEFINE DOWN AS price = 13, UP AS price = 20
            ) AS T
            """
        )
    )
    assert got == [("ACME", 3, 4)]


def test_aggregates_with_null_inputs(tenv, spark):
    data = [
        (1, "a", 10), (2, "z", 10), (3, "b", None), (4, "c", None),
        (5, "d", 3), (6, "c", 3), (7, "c", 3), (8, "c", 3), (9, "c", 2),
    ]
    _view(
        spark, "mr_nullagg",
        [(i, n, p, i) for i, n, p in data],
        "id int, name string, price int, ts bigint",
    )
    got = rows(
        tenv.sql_query(
            """
            SELECT *
            FROM mr_nullagg
            MATCH_RECOGNIZE (
              ORDER BY ts
              MEASURES
                SUM(A.price) as sumA,
                COUNT(A.id) as countAId,
                COUNT(A.price) as countAPrice,
                COUNT(*) as countAll,
                COUNT(price) as countAllPrice,
                LAST(id) as endId
              AFTER MATCH SKIP PAST LAST ROW
              PATTERN (A+ C)
              DEFINE
                A AS SUM(A.price) < 30,
                C AS C.name = 'c'
            ) AS T
            """
        )
    )
    assert got == [(29, 7, 5, 8, 6, 8)]
